"""Registry of oracle-checked queries — the driver-facing surface.

Each entry maps one SURVEY.md §2 operator (or an extension operator)
onto the driver's testdata tables, with a DuckDB-equivalent oracle SQL.
Column names and float rounding are aligned on both sides
(__spark_entry__ docstring).

EXECUTION PROTOCOL — clearCache between entries (ADVICE r7): several
entries persist() shared subtrees (shingle/words/signature tables,
the knn eval's bits table, the eval curves' candidate tables) and
intentionally do NOT unpersist — the returned DataFrame is lazy, or
the entry's repeated calls should find the subtree warm. The contract
is therefore on the CALLER: run `spark.catalog.clearCache()` between
entries (bench.py, the scripts and the tests all do). Within an
entry's repeated calls a re-persist of the same logical plan is a
no-op — the CacheManager matches it to the live InMemoryRelation — so
a harness's reps stay warm. A harness that sweeps many entries
without clearing will accumulate InMemoryRelations — correctness is
unaffected, but memory pressure and plan pins are.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.cleansing import apply_fixups, title_trim
from .operators.constraints import check_audit, fk_enforce, fk_violations, pk_duplicates
from .plans.queries import star_join_revenue, top_cells_events
from .plans.views import hourly_events
from .sources.parquet import _file_state_key, load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Full-corpus eval diagnostics (`*_full`: exact ground truth over the
# WHOLE corpus) are never driver-gated (VERDICT r10 #1 — no gated entry
# should carry a >3x sf3->sf10 decade). The test suite parity-checks
# them from these side registries, so their oracle SQL cannot silently
# rot (ADVICE r11 #4).
DIAGNOSTIC_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
DIAGNOSTIC_ORACLES: dict[str, str] = {}


# ---------------------------------------------------------------------------
# Plan-build memo (VERDICT r15 #7): the ~150-entry tail's per-rep wall
# is dominated by the DRIVER — rebuilding an identical py4j expression
# tree and re-analyzing it on every call, not by execution (the
# build/analyze/plan/exec split of `perfbench/run.py --trace 1`, read
# on one QueryExecution). For a build that is PURE in (spark, sf_dir),
# the built DataFrame is metadata, exactly like the footer memo in
# sources/parquet.py: the same object can serve every call, and every
# action on it still computes from the parquet inputs. A memo-served
# frame also keeps its QueryExecution, so AQE's final plan is reused.
# The memo caches DataFrame OBJECTS (plans), never results.
#
# Eligibility is derived from what each build did, per call:
# - purity: the build launched no Spark job and registered no cache
#   entry (`_build_is_pure`). The check repeats per call instead of
#   branding the entry;
# - inputs: every file of `df.inputFiles()` lies under sf_dir. Plans
#   that read the artifact warehouse pin file listings outside it.
# A kept frame is served while its key (name, sf_dir) and its state
# still match. The state is the session's SQL confs plus
# sources/parquet._file_state_key(sf_dir), taken after the build
# because load_table pins confs on its first call: a conf flip (AQE,
# broadcast threshold) or any rewritten input file rebuilds. The memo
# holds frames of one applicationId only and is cleared when it
# changes.
_PLAN_MEMO: dict[tuple, tuple] = {}  # (name, sf_dir) -> (state, DataFrame)
_plan_memo_app: str | None = None


def _build_is_pure(spark: SparkSession, build: Callable[[], DataFrame]):
    """Run `build()` under the purity watch: returns (df, pure) where
    pure means no job ran and the cache was empty before and after
    construction."""
    jsc = spark.sparkContext._jsc.sc()
    try:
        jobs0 = jsc.dagScheduler().numTotalJobs()
    except Exception:
        jobs0 = None
    cm = spark._jsparkSession.sharedState().cacheManager()
    cache_empty0 = cm.isEmpty()
    df = build()
    pure = (
        jobs0 is not None
        and jsc.dagScheduler().numTotalJobs() == jobs0
        and cache_empty0
        and cm.isEmpty()
    )
    return df, pure


def register(name: str, oracle: str | None = None, diagnostic: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def reg_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            global _plan_memo_app
            app = spark.sparkContext.applicationId
            if app != _plan_memo_app:
                _PLAN_MEMO.clear()
                _plan_memo_app = app

            def state() -> tuple:
                # one JVM round trip; spark.conf.getAll costs ~100x more
                confs = spark._jsparkSession.sessionState().conf().getAllConfs()
                return confs.toString(), _file_state_key(sf_dir)

            key = (name, sf_dir)
            hit = _PLAN_MEMO.get(key)
            if hit is not None and hit[0] == state():
                return hit[1]
            df, pure = _build_is_pure(spark, lambda: fn(spark, sf_dir))
            root = os.path.join(os.path.abspath(sf_dir), "")
            if pure and all(
                urlparse(f).path.startswith(root) for f in df.inputFiles()
            ):
                _PLAN_MEMO[key] = (state(), df)
            return df

        if diagnostic:
            DIAGNOSTIC_QUERIES[name] = reg_fn
            if oracle is not None:
                DIAGNOSTIC_ORACLES[name] = oracle
            return reg_fn  # importable for tests; not driver-gated
        QUERIES[name] = reg_fn
        if oracle is not None:
            ORACLES[name] = oracle
        return reg_fn

    return deco


# ---------------------------------------------------------------------------
# Flagship + reference-parity analytics (A2-A4, O1, P6 on `events`)
# ---------------------------------------------------------------------------


@register(
    "top_cells",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, user_id AS cell_id,
             sum(value) AS total_value, count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT cell_id, round(avg(total_value), 6) AS avg_load
    FROM hourly
    WHERE hour >= TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY cell_id
    ORDER BY avg_load DESC, cell_id
    LIMIT 10
    """,
)
def q_top_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: reference src/etl.py:283-299 restated on `events`."""
    return top_cells_events(load_table(spark, sf_dir, "events"))


@register(
    "hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour, user_id AS cell_id,
           round(sum(value), 6) AS total_value, count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
)
def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: v_hourly_traffic semantics (reference src/database.py:101-112)."""
    df = hourly_events(load_table(spark, sf_dir, "events"))
    return df.withColumn("total_value", F.round(F.col("total_value"), 6))


@register(
    "star_join_revenue",
    """
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: star join with broadcast dims (SURVEY.md §2.6)."""
    return star_join_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


# ---------------------------------------------------------------------------
# Constraint / integrity operators (P7/A5, J1/J2, PK audits)
# ---------------------------------------------------------------------------


@register(
    "constraint_audit",
    """
    SELECT
      CAST(sum(CASE WHEN NOT (l_quantity >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS bad_quantity,
      CAST(sum(CASE WHEN NOT (l_extendedprice >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
      CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0 AND 1) THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount,
      CAST(sum(CASE WHEN NOT (l_tax >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS bad_tax,
      CAST(sum(CASE WHEN NOT (l_linenumber BETWEEN 1 AND 7) THEN 1 ELSE 0 END) AS BIGINT) AS bad_linenumber
    FROM lineitem
    """,
)
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/P7: one-pass CHECK audit (reference src/etl.py:302-328 collapsed
    from 9 scans to one partial+final aggregation)."""
    li = load_table(spark, sf_dir, "lineitem")
    return check_audit(
        li,
        {
            "bad_quantity": F.col("l_quantity") >= 0,
            "bad_price": F.col("l_extendedprice") >= 0,
            "bad_discount": F.col("l_discount").between(0, 1),
            "bad_tax": F.col("l_tax") >= 0,
            "bad_linenumber": F.col("l_linenumber").between(1, 7),
        },
    )


@register(
    "pk_dup_audit",
    """
    SELECT l_orderkey, l_linenumber, count(*) AS n_rows
    FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1
    """,
)
def q_pk_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK duplicate audit on lineitem's natural key
    (reference PK model src/database.py:90)."""
    return pk_duplicates(load_table(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"])


@register(
    "fk_orphan_audit",
    """
    SELECT o_orderkey, o_custkey FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
)
def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 audit: broadcast left-anti FK check
    (reference FK decls src/database.py:83,95-96)."""
    return fk_violations(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        load_table(spark, sf_dir, "customer"),
        "o_custkey",
        "c_custkey",
    )


@register(
    "semi_join_filter",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM customer c
      WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING'
    )
    """,
)
def q_semi_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/P5: membership filter as broadcast left-semi join — the
    reference's isin-against-dim pattern (reference src/etl.py:227-231,260)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return fk_enforce(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        cust,
        "o_custkey",
        "c_custkey",
    )


# ---------------------------------------------------------------------------
# String conform operators (T1/T2) and windowed / pivoted analytics
# ---------------------------------------------------------------------------


@register(
    "conform_names",
    """
    SELECT
      n_nationkey,
      CASE
        WHEN t = 'Nation_0' THEN 'Zero Nation'
        WHEN t = 'Nation_7' THEN 'Lucky Nation'
        ELSE t
      END AS conformed
    FROM (
      SELECT n_nationkey,
             array_to_string(
               list_transform(string_split(lower(trim(n_name)), ' '),
                              w -> upper(w[1]) || w[2:]), ' ') AS t
      FROM nation
    )
    ORDER BY n_nationkey
    """,
)
def q_conform_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2: title-case+trim then fixup-map replace (reference
    src/etl.py:256-258). DuckDB lacks initcap, so the oracle hand-rolls
    per-word title-casing."""
    nation = load_table(spark, sf_dir, "nation")
    fixups = {"Nation_0": "Zero Nation", "Nation_7": "Lucky Nation"}
    return (
        nation.select(
            "n_nationkey",
            apply_fixups(title_trim(F.lower(F.col("n_name"))), fixups).alias("conformed"),
        )
        .orderBy("n_nationkey")
    )


@register(
    "topk_per_group",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY c_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rk
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rk <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group — deterministic rank with key tiebreak.
    (Beyond the reference surface: SURVEY.md §2.5 notes Spark gives
    windows free; this is the per-entity top-k every CDR analysis wants.)"""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


@register(
    "hourly_pivot",
    """
    SELECT date_trunc('hour', ts) AS hour,
      round(sum(CASE WHEN event_type = 'click'    THEN value ELSE 0 END), 6) AS click,
      round(sum(CASE WHEN event_type = 'error'    THEN value ELSE 0 END), 6) AS error,
      round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 6) AS purchase,
      round(sum(CASE WHEN event_type = 'signup'   THEN value ELSE 0 END), 6) AS signup,
      round(sum(CASE WHEN event_type = 'view'     THEN value ELSE 0 END), 6) AS view
    FROM events GROUP BY 1
    """,
)
def q_hourly_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: the multi-metric-per-row shape of the reference's traffic
    fact (smsin/smsout/... are exactly a pivoted event stream). Explicit
    value list ⇒ single-pass, no distinct-values pre-scan, stable schema."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    df = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .pivot("event_type", kinds)
        .agg(F.sum("value"))
    )
    for k in kinds:
        df = df.withColumn(k, F.round(F.coalesce(F.col(k), F.lit(0.0)), 6))
    return df


@register(
    "daily_user_activity",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
           count(*) AS n_events,
           round(sum(value), 6) AS total_value,
           round(avg(value), 6) AS avg_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY 1, 2
    """,
)
def q_daily_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate grouped rollup incl. distinct-count — the daily
    per-entity profile (A2 generalized)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        F.col("user_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "top_cells_sql",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, user_id AS cell_id,
             sum(value) AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT cell_id, round(avg(total_value), 6) AS avg_load
    FROM hourly
    WHERE hour >= TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY 1
    ORDER BY avg_load DESC, cell_id
    LIMIT 10
    """,
)
def q_top_cells_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S10: the flagship as pure SQL text over catalog views —
    spark.sql replaces the reference's pd.read_sql / execute_query
    (reference src/etl.py:295, src/database.py:136-154), incl.
    GROUP-BY-ordinal (spark.sql.groupByOrdinal, SURVEY.md A2)."""
    # register only the view the SQL reads: no other testdata view is
    # left behind in the caller's session
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS hour, user_id AS cell_id,
                 sum(value) AS total_value
          FROM events GROUP BY 1, 2
        )
        SELECT cell_id, round(avg(total_value), 6) AS avg_load
        FROM hourly
        WHERE hour >= TIMESTAMP '2024-01-08 00:00:00'
        GROUP BY 1
        ORDER BY avg_load DESC, cell_id
        LIMIT 10
        """
    )
