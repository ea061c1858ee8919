"""Registry-wide physical-plan lint (r12): every queries() entry's
plan is scanned for the three antipatterns that silently kill 100 TB
viability. Individual plan-pin tests guard specific entries; this is
the safety net for entries nobody pinned.

- BatchEvalPython: row-at-a-time Python UDF serialization. Policy is
  zero — Python kernels ride Arrow (mapInPandas / mapInArrow /
  applyInArrow). Pickle-path UDTFs (BatchEvalPythonUDTF) are allowed
  ONLY for entries named in UDTF_PICKLE_OK: the UDTF surface is
  documented off-hot-path (functions/udtfs.py), and the Arrow UDTF
  path measured 5x SLOWER for per-row generator yields (r12
  isolation run: 2.1 -> 10.6 s), so forcing Arrow there would
  optimize the lint, not the engine. A future entry running a
  pickle UDTF must earn its own allowlist line.
- CartesianProduct: an unbounded non-broadcast cross join. Bounded
  cross joins belong on BroadcastNestedLoopJoin (small side pinned
  under a broadcast); a CartesianProduct means BOTH sides were deemed
  too big — never survivable at corpus scale. Policy is zero.
- Global Sort (Sort [...], true) outside the whitelist: a full-data
  range-exchange sort. Legitimate ONLY over aggregate-grain frames
  (final presentation ordering of a k-row / group-grain result);
  an entry that sorts corpus-grain data must restructure (top-k →
  TakeOrderedAndProject, ranking → window) or be whitelisted here
  with a written justification.

The same pass pins each entry's plan WORK: its ShuffleExchange and
BroadcastExchange node counts must equal `tests/plan_pins.py`. Counts
are machine-invariant, so this is the suite's performance guard — a
dropped broadcast hint or an extra shuffle fails here with a per-entry
`old → new` diff; wall-clock is only reported (bench.py sidecars).
Each count is read on a fresh QueryExecution (`df.select("*")`), with
auto-broadcast off for that one planning so only declared broadcasts
count, and with caches cleared before and after every build — so a
frame an earlier test executed (or a cache it left) cannot change it.
"""

from __future__ import annotations

import pytest

from tests.plan_pins import EXCHANGE_PINS

SF = "/root/testdata/sf0.001"

# Entries whose global sort orders an AGGREGATE-GRAIN output (group
# counts, per-nation/supplier rollups, fixup-map-sized frames) — the
# sorted frame is orders of magnitude smaller than the corpus, so the
# range exchange is a formality. Additions require the same argument.
GLOBAL_SORT_OK = {
    "conform_names",          # dim-grain (provinces) presentation order
    "dedup_cluster_profile",  # cluster-size census, |distinct sizes| rows
    "heavy_hitters",          # group-grain count frame
    "star_join_revenue",      # |nations| output rows
    "tpch_q5",                # |nations| rows
    "tpch_q11",               # part-grain value frame (spec output order)
    "tpch_q12",               # |shipmodes| rows
    "tpch_q13",               # |order-count buckets| rows
    "tpch_q15",               # |suppliers with max revenue| rows
    "tpch_q16",               # (brand,type,size)-grain counts
    "tpch_q20",               # supplier-grain list
    "tpch_q22",               # |phone prefixes| rows
    "vocab_size_curve",       # |vocab brackets| rows
}

# Entries allowed a pickle-path UDTF (BatchEvalPythonUDTF) — see the
# module docstring for the measured justification. By NAME, so a new
# entry adopting a pickle UDTF fails until consciously listed here.
UDTF_PICKLE_OK = {
    "sessionize_udtf",  # per-partition stateful sessionizer demo;
                        # Arrow variant measured 5x slower (r12)
}


def exchange_counts(spark, df) -> tuple[int, int]:
    """(ShuffleExchange, BroadcastExchange) nodes in a fresh physical
    plan of `df`, planned with auto-broadcast off."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = df.select("*")._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    nodes = [ln.lstrip(" :+-") for ln in plan.splitlines()]
    return (
        sum(n.startswith("Exchange ") for n in nodes),
        sum(n.startswith("BroadcastExchange ") for n in nodes),
    )


@pytest.fixture(scope="module")
def registry_plans(spark):
    """One build per registry entry at SF: the physical plan string the
    lint reads, and the exchange counts the pins compare."""
    import __spark_entry__ as m

    plans, work = {}, {}
    for name, fn in m.queries().items():
        spark.catalog.clearCache()
        df = fn(spark, SF)
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
        work[name] = exchange_counts(spark, df)
        spark.catalog.clearCache()
    return plans, work


def test_registry_plans_have_no_scale_antipatterns(registry_plans):
    bad_python, cartesian, gsort = [], [], []
    for name, plan in registry_plans[0].items():
        has_row_udf = any(
            "BatchEvalPython" in ln and "BatchEvalPythonUDTF" not in ln
            for ln in plan.splitlines()
        )
        has_pickle_udtf = "BatchEvalPythonUDTF" in plan
        if has_row_udf or (has_pickle_udtf and name not in UDTF_PICKLE_OK):
            bad_python.append(name)
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if _detects_global_sort(plan) and name not in GLOBAL_SORT_OK:
            gsort.append(name)
    assert not bad_python, (
        "row-at-a-time Python serialization (use Arrow, or earn a "
        f"UDTF_PICKLE_OK line): {bad_python}"
    )
    assert not cartesian, (
        f"unbounded CartesianProduct (broadcast-pin the bounded side): {cartesian}"
    )
    assert not gsort, (
        "global sort outside the aggregate-grain whitelist (top-k → "
        f"TakeOrderedAndProject, ranking → window, or whitelist): {gsort}"
    )


def test_registry_exchange_counts_match_pins(registry_plans):
    work = registry_plans[1]
    moved = [
        f"  {n}: {EXCHANGE_PINS.get(n, 'absent')} → {work.get(n, 'absent')}"
        for n in sorted(set(work) | set(EXCHANGE_PINS))
        if work.get(n) != EXCHANGE_PINS.get(n)
    ]
    assert not moved, (
        "plan work moved — (shuffle, broadcast) exchanges, pin → now; "
        "re-pin by hand in tests/plan_pins.py if the change is meant:\n"
        + "\n".join(moved)
    )


def test_exchange_counts_see_a_dropped_broadcast(spark):
    """The count the pins compare moves when a join loses its
    broadcast hint: one BroadcastExchange becomes two shuffles."""
    from pyspark.sql import functions as F

    big = spark.range(1000).withColumn("k", F.col("id") % 10)
    small = spark.range(10).withColumnRenamed("id", "k")
    assert exchange_counts(spark, big.join(F.broadcast(small), "k")) == (0, 1)
    assert exchange_counts(spark, big.join(small, "k")) == (2, 0)


def _detects_global_sort(plan: str) -> bool:
    # the exact predicate the registry lint uses (kept in one place so
    # the canary below cannot drift from the real detector)
    return any("Sort [" in ln and " true, " in ln for ln in plan.splitlines())


def test_global_sort_detector_canary(spark):
    """ADVICE r12 #3: the global-sort lint matches Spark's rendered
    Sort node ("Sort [...], true, ..."), which a Spark upgrade could
    silently change — making the lint pass vacuously. This canary
    fails loudly instead: a known global sort MUST be detected, a
    partition-local sort MUST NOT."""
    from pyspark.sql import functions as F

    # sort key must not match range()'s natural ascending-id ordering,
    # or EliminateSorts removes the node entirely
    g = spark.range(100).orderBy((F.col("id") % 7).asc())
    assert _detects_global_sort(
        g._jdf.queryExecution().executedPlan().toString()
    ), "global-sort detector no longer matches Spark's Sort rendering"
    l = spark.range(100).repartition(4).sortWithinPartitions("id")
    assert not _detects_global_sort(
        l._jdf.queryExecution().executedPlan().toString()
    ), "detector misfires on partition-local sorts"
