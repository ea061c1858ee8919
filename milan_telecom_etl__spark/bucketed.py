"""Bucketed warehouse tables — the index substitute, demonstrated.

SURVEY.md §4.2 maps the reference's B-tree indexes
(`src/database.py:115-117`: idx_traffic_time / idx_traffic_cell /
idx_traffic_composite) onto partitioning + bucketing. Partition
pruning has standing plan pins (P6); this module closes the other
half: a build-once BUCKETED copy of a fact table (or of a derived
projection of it), hash-clustered and sorted on its key, so that every
later join or aggregation ON THAT KEY is exchange-free — the per-query
shuffle of the largest table is paid once at ingest, exactly like
building the index.

`appendable_bucketed_table` is the one bucketed store. When it
rebuilds, appends or serves is `artifacts.refresh`'s rule, shared with
every other standing artifact; this module adds only what is bucketed
about it:

- The copy is written with `bucketBy(n, key).sortBy(key)` after a
  `repartition(n, key)`: Spark's bucket id is `pmod(murmur3(key), n)`
  — the same hash family repartition uses — so each write task holds
  exactly one bucket and a build emits ONE file per bucket. Growth
  appends the new files' rows at the stored width: a bucket then
  holds several files, and Spark still reads them as one task.
- The width `n` is physical layout, stored in the manifest. An
  explicit `n` that differs from it rebuilds at `n` (a join pair must
  share one width or the sort-merge join gets an Exchange back); with
  `n=None` the stored width serves until the corpus derives a width
  WIDTH_MIGRATION_FACTOR times wider, then one rebuild migrates.
- When not passed, `n` is derived from the corpus (`derived_n_buckets`):
  the two-sided law SCALE.md measured at sf10 (7.03 s plain / 3.64 s
  @16 / 2.09 s @64) — a bucket must stay a few hundred MB or less
  (task/memory sizing), AND the bucket count must reach ~2× the
  cluster parallelism once the data is big enough, because a bucketed
  scan schedules ONE task per bucket.
- Registration is catalog-based (`saveAsTable` external at a
  warehouse path). A FRESH session re-registers the existing files
  with `CREATE TABLE ... USING PARQUET CLUSTERED BY ... SORTED BY ...
  INTO n BUCKETS LOCATION path` — metadata-only, no rewrite, using
  the catalog schema the build recorded in the artifact's manifest,
  never re-inferred from parquet footers (footer round-trip inference
  can drift from the catalog schema for annotated types — ADVICE r12
  #4); a corrupt manifest rebuilds in place rather than failing the
  entry forever.
- At 100 TB the same statements run against an object store — every
  path is built with URI-aware joins (`fs_join`) and existence checks
  go through the Hadoop FileSystem, never os.path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .artifacts import (
    _hpath,
    artifact_root,
    canon_path,
    fs_join,
    loc_key,
    read_files,
    refresh,
)
from .sources.parquet import adapt_table, load_table

# The measured sizing law (SCALE.md, bucket-width A/B at sf10):
# a bucket is AT MOST this many input bytes (above it, split further
# regardless of core count — task memory / object-store part sizing) …
TARGET_BUCKET_BYTES = 256 << 20
# … and AT LEAST this many (below it, extra buckets are pure
# small-files overhead with no parallelism payoff).
MIN_BUCKET_BYTES = 4 << 20
# Parallelism floor once the data can fill it: ~2 waves over the
# cluster's cores. 1 wave (n == cores) leaves stragglers pinning whole
# cores idle; the sf10 A/B's 64-bucket winner on local[32] is exactly
# this point.
WAVES = 2


def _derive_n(nbytes: int, parallelism: int) -> int:
    """Pure sizing law: bytes + parallelism -> bucket count, rounded
    to a power of two (stable under small corpus drift). The round
    prefers UP, but never lets the rounding itself breach the
    MIN_BUCKET_BYTES small-files bound the clamp just enforced: if
    rounding up would undershoot MIN and halving still respects the
    TARGET ceiling, round down instead (r13 review)."""
    n_min = max(1, math.ceil(nbytes / TARGET_BUCKET_BYTES))
    n_max = max(1, nbytes // MIN_BUCKET_BYTES)
    n = max(n_min, min(WAVES * parallelism, n_max))
    n_up = 1 << (n - 1).bit_length()
    if n_up > 1 and nbytes / n_up < MIN_BUCKET_BYTES and n_up >> 1 >= n_min:
        return n_up >> 1
    return n_up


def _table_bytes(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Total input bytes of the source table, through the Hadoop
    FileSystem (works for local dirs and object stores alike)."""
    p, fs = _hpath(spark, fs_join(sf_dir, f"{table}.parquet"))
    return int(fs.getContentSummary(p).getLength())


_DERIVED_N_MEMO: dict[tuple[str, str, float, int], int] = {}


def derived_n_buckets(
    spark: SparkSession, sf_dir: str, table: str, size_fraction: float = 1.0
) -> int:
    """Bucket count a build uses when `n` is not passed. Memoized per
    (corpus location, table, fraction, parallelism): join pairs call
    this on every invocation, and the byte probe is a recursive
    listing — O(#objects) LIST calls on an object store. A corpus
    REPLACED under the same path mid-process keeps the memoized width
    (the manifest still rebuilds the files; width drift on a
    same-order corpus is a pow2 no-op)."""
    key = (canon_path(sf_dir), table, size_fraction, spark.sparkContext.defaultParallelism)
    if key not in _DERIVED_N_MEMO:
        _DERIVED_N_MEMO[key] = _derive_n(
            max(1, int(_table_bytes(spark, sf_dir, table) * size_fraction)),
            spark.sparkContext.defaultParallelism,
        )
    return _DERIVED_N_MEMO[key]


# Width-migration trigger: a layout keeps its creation-time bucket count
# while the corpus grows (n is physical layout, appends must match it)
# until the CURRENT corpus would derive a width this FACTOR wider (4x =
# 2 pow2 steps) — then the next serve pays one full rebuild at the new
# width instead of letting buckets grow without bound. 4x in derived
# width ≈ buckets averaging ~4x TARGET_BUCKET_BYTES.
WIDTH_MIGRATION_FACTOR = 4


def layout_name(sf_dir: str, table: str, key: str, variant: str = "") -> str:
    """Catalog name (and directory name) of a bucketed layout:
    (corpus location, table, variant, key) PLUS the artifact root — the
    catalog entry is keyed by this NAME while the files live under the
    root, so a root change mid-session (e.g. a test monkeypatching
    SPARK_GRAFT_ARTIFACTS) must miss the catalog instead of serving
    files under the old root (r12 review). `variant` tags a
    derived-column layout (a different derive fn must use a different
    variant)."""
    loc = loc_key(sf_dir, extra=canon_path(artifact_root()))
    var = f"_{variant}" if variant else ""
    return f"bkta_{loc}_{table}{var}_{key}"


def _register(
    spark: SparkSession, name: str, path: str, key: str, manifest: dict
) -> None:
    """Metadata-only catalog registration of existing bucketed files,
    with the width and schema their manifest recorded."""
    if spark.catalog.tableExists(name):
        return
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in T.StructType.fromJson(manifest["schema"]).fields
    )
    spark.sql(
        f"CREATE TABLE `{name}` ({cols}) USING PARQUET "
        f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
        f"INTO {manifest['n']} BUCKETS LOCATION '{path}'"
    )


def appendable_bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    n: int | None = None,
    derive=None,
    variant: str = "",
    size_fraction: float = 1.0,
) -> DataFrame:
    """Return `table` as a catalog-registered bucketed table clustered
    and sorted on `key`, kept current by `artifacts.refresh`: built
    once, re-registered metadata-only in fresh sessions, and on corpus
    GROWTH extended by bucketing ONLY the new files into the stored
    width (`bucketBy(n).mode("append")` into the same catalog table —
    history files untouched, the delta pays one shuffle of ITS rows).
    A changed or vanished source file rebuilds.

    Reads serve the union (old buckets + delta files) as ONE bucketed
    scan: Spark groups a bucket's files across appends into one task,
    so aggregations and joins on `key` stay Exchange-free.

    `derive` (with a mandatory `variant` identity tag) transforms the
    source frame before bucketing — the standing-index posture for a
    COMPUTED key: e.g. project documents to (doc_id, fingerprint) and
    cluster on the fingerprint, exactly like the reference's B-tree
    over a computed column. `derive` must be deterministic and
    row-local: appends run it over the delta files only. Delta batches
    pass through `sources.parquet.adapt_table` — the per-table
    physical-type normalization the rebuild path gets via `load_table`
    — so tables needing it (events ns->timestamp) append rows
    type-identical to the standing index (ADVICE r14).

    `n`: see the module docstring (explicit width rebuilds on a
    mismatch; None keeps the stored width until migration).
    `size_fraction` scales the byte estimate the width derivation
    sees: a derived layout is often a narrow PROJECTION of the source
    (the fingerprint index is ~50 bytes/row of multi-KB documents), so
    sizing its buckets on source bytes would at 100 TB produce
    hundreds of thousands of near-empty files — the caller states the
    projection's expected size as a fraction of the source."""
    if derive is not None and not variant:
        raise ValueError("derive requires a variant identity tag")
    name = layout_name(sf_dir, table, key, variant)
    path = fs_join(artifact_root(), "bucketed", name)
    migrate_to: list[int] = []

    def stale(manifest: dict, current: dict) -> bool:
        built = manifest.get("n")
        if not isinstance(built, int):
            return True
        if n is not None:
            return built != n
        # FRESH bytes from the listing refresh just made, deliberately
        # bypassing derived_n_buckets's process-lifetime memo: the
        # migration trigger exists precisely for a long-lived ingest
        # process whose corpus grows under the same path, which the
        # memo by design never re-observes (r14 review finding #2).
        # The rebuild then uses this fresh width.
        nbytes = sum(size for size, _ in current.values())
        n_now = _derive_n(
            max(1, int(nbytes * size_fraction)),
            spark.sparkContext.defaultParallelism,
        )
        if n_now >= built * WIDTH_MIGRATION_FACTOR:
            migrate_to.append(n_now)
            return True
        return False

    def write(src: DataFrame, width: int, mode: str) -> None:
        if derive is not None:
            src = derive(src)
        writer = src.repartition(width, key).write.bucketBy(width, key).sortBy(key)
        if mode == "overwrite":
            writer = writer.option("path", path)
        writer.mode(mode).saveAsTable(name)

    def rebuild() -> dict:
        width = n or (
            migrate_to[0] if migrate_to
            else derived_n_buckets(spark, sf_dir, table, size_fraction)
        )
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        write(load_table(spark, sf_dir, table), width, "overwrite")
        # the exact catalog schema, so fresh-session re-registration
        # never re-infers (ADVICE r12)
        return {"n": width, "schema": spark.table(name).schema.jsonValue()}

    def append(new_files: list[str], manifest: dict) -> None:
        _register(spark, name, path, key, manifest)
        delta = adapt_table(read_files(spark, sf_dir, table, new_files), table)
        write(delta, manifest["n"], "append")

    manifest = refresh(spark, sf_dir, table, path, rebuild, append, stale)
    _register(spark, name, path, key, manifest)
    return spark.table(name)
