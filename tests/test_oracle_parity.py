"""Pre-runs the driver's t2 gate locally: every queries() entry with an
oracle must hash-match DuckDB on the same parquet."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from milan_telecom_etl__spark.queries_registry import _PLAN_MEMO
from tests.parity import compare, duck_connection

SF_DIR = "/root/testdata/sf0.001"


def _oracle_cases():
    oracles = entrymod.oracle_sql()
    return [(name, oracles[name]) for name in entrymod.queries() if name in oracles]


@pytest.mark.parametrize("name,sql", _oracle_cases(), ids=[n for n, _ in _oracle_cases()])
def test_query_matches_oracle(spark, name, sql):
    # the registry's execution protocol; the plan memo keeps a build
    # only when no cache entry exists
    spark.catalog.clearCache()
    q = entrymod.queries()[name]
    df = q(spark, SF_DIR)
    con = duck_connection(SF_DIR)
    ok, msg = compare(df, con, sql)
    assert ok, f"{name}: {msg}"
    if _PLAN_MEMO.get((name, SF_DIR), (None, None))[1] is df:
        # a kept build: the next call is served the same frame, whose
        # QueryExecution (and AQE's final plan) has run once already
        served = q(spark, SF_DIR)
        assert served is df, f"{name}: kept frame not served"
        ok, msg = compare(served, con, sql)
        assert ok, f"{name} (memo-served): {msg}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0 and df.columns


def _diagnostic_cases():
    """Diagnostic twins: parity-checked from the side registries so
    their oracle SQL cannot rot while outside the driver surface
    (ADVICE r11 #4)."""
    from milan_telecom_etl__spark.queries_registry import (
        DIAGNOSTIC_ORACLES,
        DIAGNOSTIC_QUERIES,
    )

    entrymod.queries()  # force registry imports
    return [
        (name, DIAGNOSTIC_QUERIES[name], DIAGNOSTIC_ORACLES[name])
        for name in sorted(DIAGNOSTIC_QUERIES)
        if name in DIAGNOSTIC_ORACLES
    ]


@pytest.mark.parametrize(
    "name,fn,sql",
    _diagnostic_cases(),
    ids=[n for n, _, _ in _diagnostic_cases()],
)
def test_diagnostic_matches_oracle(spark, name, fn, sql):
    con = duck_connection(SF_DIR)
    ok, msg = compare(fn(spark, SF_DIR), con, sql)
    assert ok, f"{name}: {msg}"


def test_all_full_twins_are_diagnostic():
    """Every *_full twin must be registered through the diagnostic
    path, and each must shadow a gated default of the same family."""
    from milan_telecom_etl__spark.queries_registry import (
        DIAGNOSTIC_QUERIES,
        QUERIES,
    )

    entrymod.queries()
    full = {n for n in DIAGNOSTIC_QUERIES if n.endswith("_full")}
    assert full >= {
        "lsh_s_curve_full",
        "dedup_method_eval_full",
        "knn_method_eval_full",
    }
    for n in full:
        assert n not in QUERIES, f"{n} must not be driver-gated by default"
        assert n[: -len("_full")] in QUERIES, f"{n} has no gated default twin"
