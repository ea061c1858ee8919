"""Parquet sources — the engine's warehouse format.

Columnar scan + predicate pushdown + column pruning come free; at scale
the fact tables are written partitioned by date (see pipeline.py), so a
time-range predicate (P6) becomes partition pruning — the Spark
substitute for the reference's B-tree time index
(reference src/database.py:115; SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Event-time columns whose parquet physical type has varied across
# driver testdata generations: TIMESTAMP(NANOS) (Spark only reads as
# long under spark.sql.legacy.parquet.nanosAsLong) through round 4,
# TIMESTAMP(MICROS) isAdjustedToUTC=false (Spark 4 infers
# TIMESTAMP_NTZ) since round 5. Either way the engine normalizes to
# session-TZ TIMESTAMP with the session pinned to UTC (the parity
# convention, SURVEY.md §7.4.5) so downstream `cast(ts as bigint)`
# epoch math works and the wall-clock matches the oracle's naive read:
# - long nanos → floor ns→µs (same truncation DuckDB applies fetching
#   TIMESTAMP_NS) → timestamp_micros
# - TIMESTAMP_NTZ → cast to TIMESTAMP (interpreted in the UTC session
#   TZ, so the wall-clock is preserved bit-for-bit)
_EVENT_TS_COLS = {"events": ["ts"]}


def adapt_table(df: DataFrame, name: str) -> DataFrame:
    """The per-table physical-type normalization load_table applies —
    exposed so callers that read a SUBSET of a table's files directly
    (the append-only partials/index paths) get identical semantics."""
    for c in _EVENT_TS_COLS.get(name, []):
        if isinstance(df.schema[c].dataType, T.LongType):
            # `div` = integer division: ns/1000 as a double would lose
            # precision (epoch-ns ≈ 1.7e18 > 2^53) and round µs up.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(df.schema[c].dataType, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


# Inferred-schema memo keyed on (path, mtime, size): re-inferring a
# table's schema re-reads parquet footers on EVERY DataFrame build —
# measured ~130 ms per load_table call at sf0.1 vs ~25 ms with an
# explicit schema (r15 optimization round), and a full 254-entry bench
# sweep builds each entry 4x (warmup + median-of-3), so inference was
# tens of seconds of pure metadata re-reads per sweep. At cluster scale
# the same applies against object storage (a footer round-trip per
# query per table). The memo holds SCHEMAS (metadata), never data or
# results; the file-state key (every part file's name, mtime_ns, size
# — nanosecond mtimes per ADVICE r15: a same-second same-size in-place
# rewrite must still invalidate) drops it the moment any file changes;
# and it is per-process, so every bench/oracle invocation still derives
# everything from the parquet inputs. The first read per (file state)
# infers under the confs `_parquet_schema` itself pins (nanosAsLong —
# ADVICE r15: callers must not be able to poison the memo by probing
# before load_table set them), so the memoized schema is exactly what
# inference would return (long for TIMESTAMP(NANOS) under nanosAsLong,
# TIMESTAMP_NTZ for MICROS).
_SCHEMA_CACHE: dict[tuple, T.StructType] = {}

# Spark jobs spent inferring schemas into that memo, process-wide: the
# registry's plan-memo purity check discounts them, because a build
# that only populated the memo built the same plan as every later one.
_inference_jobs = 0


_ROW_COUNT_CACHE: dict[tuple, int] = {}


def _table_files(path: str) -> list[str]:
    """Data files of a parquet table path: the file itself, or — for a
    DIRECTORY table (the at-scale layout: every fact table is a dir of
    part files; see module docstring / VERDICT r15 #3) — its non-hidden
    files, recursively (partitioned tables nest key=value dirs). Sorted
    for a deterministic fingerprint."""
    if os.path.isfile(path):
        return [path]
    out: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        out.extend(
            os.path.join(root, f)
            for f in files
            if not f.startswith((".", "_"))
        )
    return sorted(out)


def _file_state_key(path: str) -> tuple:
    """Memo key for a table path: every data file's (name, mtime_ns,
    size). Directory mtimes alone are NOT enough — rewriting a part
    file in place does not touch the directory inode."""
    return (
        path,
        tuple(
            (f, st.st_mtime_ns, st.st_size)
            for f in _table_files(path)
            for st in (os.stat(f),)
        ),
    )


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a testdata table from parquet FOOTER metadata
    (memoized per file state) — identical by construction to
    `load_table(spark, sf_dir, name).count()` (plain parquet: footer
    num_rows is exact, there are no deletes), without paying a Spark
    job per call. The auto-sizing operators (LSH plane counts, semdedup
    k) derive layout parameters from the raw table's cardinality; at
    sf0.1 each such count() job measured ~0.4-0.66 s WARM, paid on
    every bench rep of every auto entry (r15 optimization round). At
    cluster scale the equivalent is deriving from catalog/footer
    statistics instead of scanning. Directory tables (the at-scale
    layout) sum footer num_rows across part files — the
    `tier_bytes_uncompressed` per-file footer-sum pattern (VERDICT r15
    #3). Pinned equal to count() for both layouts in
    tests/test_sources.py."""
    path = f"{sf_dir}/{name}.parquet"
    key = _file_state_key(path)
    n = _ROW_COUNT_CACHE.get(key)
    if n is None:
        import pyarrow.parquet as pq

        n = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in _table_files(path)
            if f.endswith(".parquet")
        )
        _ROW_COUNT_CACHE[key] = n
    return n


def pin_parity_confs(spark: SparkSession) -> None:
    """The parity confs every testdata read assumes (`_EVENT_TS_COLS`),
    set at read time: the driver builds a vanilla session."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    global _inference_jobs
    # Pin the inference-relevant conf HERE, not only in load_table
    # (ADVICE r15): the memoized schema must be conf-correct no matter
    # which caller populates the cache first.
    pin_parity_confs(spark)
    key = _file_state_key(path)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        jobs0 = dag.numTotalJobs()
        sch = spark.read.parquet(path).schema
        _inference_jobs += dag.numTotalJobs() - jobs0
        _SCHEMA_CACHE[key] = sch
    return sch


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    return adapt_table(
        spark.read.schema(_parquet_schema(spark, path)).parquet(path), name
    )


# last-registered sf_dir file state per session (app id) —
# re-registering on every SQL-front-door call re-reads 10 parquet
# footers per run, the fixed ~0.3 s that made top_cells_sql ~2x the
# DataFrame flagship (VERDICT r8 #8). Any change of dir or of a file
# under it re-registers: a view's file index is frozen at first read.
_REGISTERED: dict[str, tuple] = {}


def register_testdata(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, force: bool = False
) -> None:
    """Register every testdata parquet as a temp view (same names DuckDB
    pre-registers for the oracle). Idempotent while the session's
    registered sf_dir and its files are unchanged — pass force=True
    after dropping views manually."""
    app = spark.sparkContext.applicationId
    state = _file_state_key(sf_dir)
    if not force and _REGISTERED.get(app) == state:
        return
    for name in TESTDATA_TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _REGISTERED[app] = state
