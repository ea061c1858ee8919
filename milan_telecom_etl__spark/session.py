"""SparkSession factory with scale-oriented defaults.

The defaults here are chosen for the 100 TB / 1000-executor target and
merely *tested* on local[N]:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting —
  the reference's traffic data is heavy-tailed per SURVEY.md §6, and the
  same holds for any real CDR feed).
- Arrow on (every pandas-UDF boundary is Arrow-batched).
- Session timezone pinned to UTC — the reference feeds naive local
  strings into TIMESTAMPTZ columns (reference src/database.py:82); we fix
  UTC as the parity convention (SURVEY.md §7.4.5).
- shuffle.partitions left to the caller/env: tests use 32 (matching
  local[32]); a real cluster sets this (or relies on AQE's coalescing
  from a high initial value).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The spill lever as a sizing law (VERDICT r13 #6). The sf30 A/B
# (scripts/spill_ab.py, SCALE.md) measured that candidate-join spill is
# defaultParallelism-bound, not shuffle-width-bound: dp 32->128 at
# identical shuffle.partitions dropped spill 20x/90x at identical
# results. A real cluster moves this lever by construction (1000
# executors x cores); a fixed-core tier sweep must move it with DATA
# VOLUME instead, the same spirit as bucketed.derived_n_buckets. The
# divisor is ~64 MB of source bytes per task — conservative because the
# candidate-join family inflates input ~8x before the first shuffle
# (SCALE.md replicated-density law).
#
# LAW v2 (VERDICT r14 #3): the bytes fed to the law are UNCOMPRESSED
# (parquet row-group total_byte_size from footers), not file bytes.
# v1 keyed on FILE bytes and under-derived on compressed parquet right
# where the sixth decade found spill: events parquet compresses ~4.3x,
# so sf100e derived dp=32 while the measured spill-free point was 128
# (SCALE.md "Law limitation", now closed). Measured v2 derivations
# (footer sums, 2026-08): sf100e 6.03 GiB -> 128 (== the measured
# spill-free point, no hand-set constant), sf3 -> 64, sf10 -> 128,
# sf30 -> 512. sf10/sf30 derive WIDER than v1's measured-minimal
# 32/128 — over-derivation cannot spill (smaller tasks), it only adds
# scheduling overhead, and the committed decade baselines record the
# width they ran under (BENCH_SCALE blocks carry default_parallelism),
# so v1-pinned blocks keep their recorded widths.
TARGET_DP_SOURCE_BYTES = 64 << 20
DP_LAW_VERSION = 2


def derived_default_parallelism(tier_bytes: int, cores: int) -> int:
    """Data-volume-derived spark.default.parallelism, rounded to a
    power of two (stable under small corpus drift), never below the
    core count. Pure in its byte input; feed it
    `tier_bytes_uncompressed` (law v2) — `derived_dp_for_dir` does."""
    n = max(cores, math.ceil(tier_bytes / TARGET_DP_SOURCE_BYTES))
    return 1 << (n - 1).bit_length()


def derived_dp_for_dir(sf_dir: str, cores: int) -> int:
    """Law-v2 entry point: dp derived from the tier's UNCOMPRESSED
    bytes."""
    return derived_default_parallelism(tier_bytes_uncompressed(sf_dir), cores)


def tier_bytes(sf_dir: str) -> int:
    """Total FILE bytes under a LOCAL tier directory — the law-v1
    input, kept for sizing laws that genuinely want on-disk volume
    (bucket widths size storage, not working set). A cluster derives
    dp from its executor count instead and never needs this."""
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def tier_bytes_uncompressed(sf_dir: str) -> int:
    """Total UNCOMPRESSED bytes under a LOCAL tier directory: parquet
    files contribute the sum of their row groups' total_byte_size
    (footer metadata — no data read); anything else contributes file
    size. This is the working-set proxy the spill law actually wants:
    shuffles and hash tables hold DECODED rows, so ~4x-compressed
    events parquet must count ~4x its file bytes (the v1 blind spot).
    Falls back to file bytes per-file on unreadable footers."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".parquet"):
                try:
                    md = pq.ParquetFile(path).metadata
                    total += sum(
                        md.row_group(i).total_byte_size
                        for i in range(md.num_row_groups)
                    )
                    continue
                except Exception:
                    pass
            try:
                total += os.path.getsize(path)
            except OSError:
                pass
    return total


def get_spark(
    app_name: str = "milan_telecom_etl__spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Whole-stage-codegen cache sizing (VERDICT r8 #1): the default
        # generated-class cache holds 100 entries; a 224-entry registry
        # sweep compiles thousands of codegen units, so cross-entry (and
        # even within-entry, for wide plans) eviction forces Janino
        # recompilation and C2 re-JIT — measured as a broad +5..20% tail
        # that grows with registry size (PLANS.md "r8 drift root cause").
        # Static conf, so it must be set before the first session.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # The JVM's JIT code cache defaults to 240 MB; keeping thousands
        # of generated classes hot needs headroom or the JIT flushes /
        # stops compiling and everything degrades to interpreter speed.
        # APPEND to any driver options supplied via the environment
        # rather than replacing them (ADVICE r9 #5: a bare .config()
        # would clobber deployment-supplied JVM flags; note this — like
        # every driver JVM option — is ineffective when getOrCreate
        # attaches to an already-running context).
        .config(
            "spark.driver.extraJavaOptions",
            (
                os.environ.get("SPARK_DRIVER_OPTS", "").strip() + " "
                + "-XX:ReservedCodeCacheSize=1g"
            ).strip(),
        )
        # driver-local testing niceties; harmless on a cluster
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
