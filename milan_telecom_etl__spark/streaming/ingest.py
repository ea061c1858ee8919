"""Structured Streaming ingest (SURVEY.md §2.9 / §7.2.7 extension).

The reference is batch-only; its append-only facts + idempotent loads
are a strict subset of streaming semantics, so the ingest generalizes
cleanly: readStream over the same CSV glob, the same cleanse chain
(narrow transforms are trigger-agnostic), and the A2 hourly roll-up as
a 1-hour tumbling window with a watermark for late data.

Scale shape: the windowed aggregation is incremental state keyed on
(window, cell_id) — the same key as the batch A2 shuffle — and the
watermark bounds state size: ~|cells| × (watermark/1h + 1) rows per
executor partition.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cleansing import cleanse_traffic
from ..schemas import TRAFFIC_METRICS, TRAFFIC_RAW


def stream_traffic_csv(
    spark: SparkSession, data_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over the daily-CSV feed — the streaming S1/S2.
    maxFilesPerTrigger recreates the reference's per-file batching as
    micro-batches (reference src/etl.py:126)."""
    reader = (
        spark.readStream.schema(TRAFFIC_RAW)
        .option("header", True)
        .option("pathGlobFilter", "sms-call-internet-mi-*.csv")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(data_dir)


def hourly_rollup_stream(raw_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """A2 as a tumbling-window aggregation: window('1 hour') ≡
    date_trunc('hour', ·) (reference src/database.py:101-112), with a
    watermark so late CDRs update open windows and state is bounded."""
    cleansed = cleanse_traffic(raw_stream)
    total = None
    for m in TRAFFIC_METRICS:
        total = F.col(m) if total is None else total + F.col(m)
    aggs = [F.sum(m).alias(f"total_{m}") for m in TRAFFIC_METRICS]
    aggs.append(F.sum(total).alias("total_activity"))
    return (
        cleansed.withWatermark("datetime", watermark)
        .groupBy(F.window("datetime", "1 hour").alias("w"), F.col("cell_id"))
        .agg(*aggs)
        .select(F.col("w.start").alias("hour"), "cell_id", *[a for a in [
            F.col(f"total_{m}") for m in TRAFFIC_METRICS
        ]], "total_activity")
    )


def _drain(stream_df: DataFrame, mode: str) -> DataFrame:
    """Run a streaming plan to completion (availableNow) into a memory
    sink and hand back the materialized table (its temp view dropped).

    State partitions are pinned low (8) for the drain: every stateful
    operator commits one state store PER shuffle partition PER batch,
    and at 32 partitions that fixed commit cost is ~4× the actual work
    for a bounded single-batch drain. A production deployment of the
    same plan sizes spark.sql.shuffle.partitions to stream throughput
    instead — the knob is per-query-start, which is why it's set here
    and restored after."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    name = f"bt_{uuid.uuid4().hex[:12]}"
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # the resolved frame keeps the sink's rows; the catalog name would
    # only pin them in driver memory for the rest of the session
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def dedupe_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exactly-once dedupe: drop re-deliveries of the same key
    columns arriving within the watermark horizon. State is bounded by
    the watermark (old keys age out) — the at-least-once → exactly-once
    repair for replayed sources; unbounded dropDuplicates would grow
    state forever on a 100 TB/day stream."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def interval_join_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    attribution_window: str = "INTERVAL 1 HOUR",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join — last-touch attribution:
    each purchase joins the clicks that preceded it by at most the
    attribution window. Both sides carry watermarks and the join
    condition bounds event-time distance, so Spark can GC join state on
    both sides (without the time bound, stream-stream join state grows
    forever). Clicks must expose `c_ts`, purchases `p_ts` (rename before
    calling: stream-stream joins need unambiguous event-time columns)."""
    c = clicks.withWatermark("c_ts", watermark)
    p = purchases.withWatermark("p_ts", watermark)
    return p.join(
        c,
        F.expr(
            f"c_{key} = p_{key} AND p_ts >= c_ts "
            f"AND p_ts <= c_ts + {attribution_window}"
        ),
        "inner",
    )


def stream_merge_sink(
    stream: DataFrame,
    table_dir: str,
    key_cols: list[str],
    checkpoint_dir: str,
    query_name: str = "merge_sink",
    available_now: bool = True,
):
    """Streaming → warehouse MERGE sink: each micro-batch upserts into a
    VERSIONED snapshot table (pipeline.write_versioned — immutable
    version dirs + one atomic pointer flip per batch), so readers always
    see a complete consistent table, never a half-written one.

    Exactly-once story: Spark's checkpoint makes batch delivery
    at-least-once across restarts, and the key-based merge is
    idempotent (replaying a batch overwrites the same keys with the
    same rows) — the standard foreachBatch contract. At 100 TB the
    per-batch rewrite narrows to touched partitions (dynamic partition
    overwrite), exactly like the batch MERGE path whose rows it reuses
    (`pipeline._merged_rows`).
    """
    from ..pipeline import _merged_rows, read_versioned, write_versioned

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(os.path.join(table_dir, "CURRENT")):
            target = read_versioned(batch.sparkSession, table_dir)
            batch = _merged_rows(target, batch, key_cols)
        write_versioned(batch, table_dir)

    writer = (
        stream.writeStream.foreachBatch(merge_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
