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


# Footer memo: (schema, row count) per table file state (every part
# file's name, mtime_ns, size; a same-second same-size in-place rewrite
# must still invalidate). Both come from the parquet footers on the
# driver, so a cold load_table launches no Spark job: the schema is the
# first data file's, which is what Spark's own inference reads, and the
# row count sums num_rows over every file. The memo holds metadata,
# never data or results, and is per-process.
_FOOTERS: dict[tuple, tuple[T.StructType, int]] = {}


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


def _spark_type(at, physical) -> T.DataType:
    """`from_arrow_type`, except for nanosecond timestamps, which Spark
    types by their parquet physical type: INT96 reads as TIMESTAMP,
    INT64 TIMESTAMP(NANOS) as long (what inference gives under
    nanosAsLong; a declared long reads NANOS with it off too).
    `physical` yields each leaf column's physical type in schema order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    if pa.types.is_struct(at):
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type, physical)) for f in at]
        )
    if isinstance(at, (pa.ListType, pa.LargeListType, pa.FixedSizeListType)):
        return T.ArrayType(_spark_type(at.value_type, physical))
    if pa.types.is_map(at):
        key = _spark_type(at.key_type, physical)
        return T.MapType(key, _spark_type(at.item_type, physical))
    leaf = next(physical)
    if pa.types.is_timestamp(at) and at.unit == "ns":
        return T.TimestampType() if leaf == "INT96" else T.LongType()
    return from_arrow_type(at, prefer_timestamp_ntz=True)


def _footer(path: str) -> tuple[T.StructType, int]:
    """(schema, rows) of a parquet table path, memoized per file state.
    The schema equals what Spark's parquet inference returns, up to the
    nullability Spark drops from a user schema itself; a partitioned
    directory's key=value columns are not in the footer and Spark
    appends them from the paths."""
    key = _file_state_key(path)
    hit = _FOOTERS.get(key)
    if hit is None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = [f for f in _table_files(path) if f.endswith(".parquet")]
        if not files:
            raise FileNotFoundError(f"no parquet data files at {path}")
        first = pq.ParquetFile(files[0])
        physical = (c.physical_type for c in first.schema)
        schema = _spark_type(pa.struct(list(first.schema_arrow)), physical)
        rows = sum(pq.read_metadata(f).num_rows for f in files)
        hit = _FOOTERS[key] = (schema, rows)
    return hit


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a testdata table from its footer memo —
    identical by construction to `load_table(spark, sf_dir, name).count()`
    (plain parquet: footer num_rows is exact, there are no deletes),
    without paying a Spark job per call. The auto-sizing operators (LSH
    plane counts, semdedup k) derive layout parameters from the raw
    table's cardinality; at sf0.1 each such count() job measured
    ~0.4-0.66 s WARM (r15 optimization round). At cluster scale the
    equivalent is deriving from catalog/footer statistics instead of
    scanning. Pinned equal to count() for both layouts in
    tests/test_sources.py."""
    return _footer(f"{sf_dir}/{name}.parquet")[1]


def pin_parity_confs(spark: SparkSession) -> None:
    """The parity confs every testdata read assumes (`_EVENT_TS_COLS`),
    set at read time: the driver builds a vanilla session."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    pin_parity_confs(spark)
    return adapt_table(spark.read.schema(_footer(path)[0]).parquet(path), name)


def register_testdata(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every testdata parquet as a temp view (same names DuckDB
    pre-registers for the oracle). Every call re-registers: a view's
    file index is frozen at its first read, and registering reads only
    the memoized footers."""
    for name in TESTDATA_TABLES:
        if os.path.exists(f"{sf_dir}/{name}.parquet"):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
