"""Streaming ≡ batch: the tumbling-window hourly roll-up must agree
with the batch A2 view on the same files."""

from __future__ import annotations

import pytest

from milan_telecom_etl__spark.operators.cleansing import cleanse_traffic
from milan_telecom_etl__spark.plans.views import hourly_traffic
from milan_telecom_etl__spark.schemas import TRAFFIC_RAW
from milan_telecom_etl__spark.sources.csv import resolve_files
from milan_telecom_etl__spark.streaming.ingest import (
    _drain,
    hourly_rollup_stream,
    stream_traffic_csv,
)

CSV = """datetime,CellID,countrycode,smsin,smsout,callin,callout,internet
2013-11-01 00:00:00,1,39,1.0,2.0,3.0,4.0,5.0
2013-11-01 00:20:00,1,39,1.0,,1.0,,1.0
2013-11-01 00:40:00,2,39,2.0,2.0,2.0,2.0,2.0
2013-11-01 01:10:00,1,39,,,,,7.0
bad,3,39,1.0,1.0,1.0,1.0,1.0
"""


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    (d / "sms-call-internet-mi-2013-11-01.csv").write_text(CSV)
    return str(d)


def test_stream_rollup_equals_batch(spark, stream_dir):
    stream = stream_traffic_csv(spark, stream_dir)
    assert stream.isStreaming
    drained = _drain(hourly_rollup_stream(stream), "complete")
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("bt_")]
    got = {
        (r["hour"].isoformat(), r["cell_id"]): r["total_activity"]
        for r in drained.collect()
    }

    batch_raw = spark.read.csv(
        resolve_files(stream_dir, "sms-call-internet-mi-*.csv"), header=True, schema=TRAFFIC_RAW
    )
    expected = {
        (r["hour"].isoformat(), r["cell_id"]): r["total_activity"]
        for r in hourly_traffic(cleanse_traffic(batch_raw)).collect()
    }
    assert got == expected
    assert got[("2013-11-01T00:00:00", 1)] == pytest.approx(18.0)
    assert got[("2013-11-01T01:00:00", 1)] == pytest.approx(7.0)


EVENTS_A = """event_id,ts,user_id
1,2024-01-01 10:00:00,7
2,2024-01-01 10:05:00,8
"""
EVENTS_B = """event_id,ts,user_id
2,2024-01-01 10:05:00,8
3,2024-01-01 10:10:00,9
"""


def test_stream_dedupe_within_watermark(spark, tmp_path_factory):
    from pyspark.sql import types as T

    from milan_telecom_etl__spark.streaming.ingest import dedupe_stream

    d = tmp_path_factory.mktemp("dedupe_stream")
    (d / "a.csv").write_text(EVENTS_A)
    (d / "b.csv").write_text(EVENTS_B)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", 1)  # forces the duplicate into a LATER micro-batch
        .csv(str(d))
    )
    deduped = dedupe_stream(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedupe_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(r["event_id"] for r in spark.table("dedupe_test").collect())
    assert ids == [1, 2, 3]  # event 2 re-delivered but emitted once


def test_stream_stream_interval_join_equals_batch(spark, tmp_path_factory):
    """Watermarked stream-stream attribution join emits exactly the
    batch interval-join matches when drained with availableNow."""
    import datetime as dt

    from pyspark.sql import functions as F

    from milan_telecom_etl__spark.streaming.ingest import interval_join_streams

    d = tmp_path_factory.mktemp("ssjoin")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    clicks = spark.createDataFrame(
        [(1, ts(0)), (1, ts(90)), (2, ts(10)), (3, ts(0))],
        "c_user_id long, c_ts timestamp",
    )
    purchases = spark.createDataFrame(
        # u1@100 matches click@90 only (click@0 is >1h away);
        # u2@20 matches click@10; u3@200 matches nothing
        [(1, ts(100), 9.0), (2, ts(20), 5.0), (3, ts(200), 1.0)],
        "p_user_id long, p_ts timestamp, amount double",
    )
    cdir, pdir = f"{d}/clicks", f"{d}/purchases"
    clicks.write.parquet(cdir)
    purchases.write.parquet(pdir)

    cs = spark.readStream.schema(clicks.schema).parquet(cdir)
    ps = spark.readStream.schema(purchases.schema).parquet(pdir)
    joined = interval_join_streams(cs, ps)
    q = (
        joined.writeStream.format("memory")
        .queryName("ssjoin_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.p_user_id, r.p_ts, r.c_ts)
        for r in spark.table("ssjoin_out").collect()
    }
    batch = {
        (r.p_user_id, r.p_ts, r.c_ts)
        for r in interval_join_streams(clicks, purchases).collect()
    }
    assert got == batch == {(1, ts(100), ts(90)), (2, ts(20), ts(10))}


def test_stream_merge_sink_upserts_versioned_table(spark, tmp_path_factory):
    """foreachBatch merge sink: micro-batches upsert into the versioned
    table; re-delivered keys overwrite, new keys insert, and every
    batch lands as one atomic pointer flip."""
    from milan_telecom_etl__spark.pipeline import read_versioned
    from milan_telecom_etl__spark.streaming.ingest import stream_merge_sink

    d = tmp_path_factory.mktemp("merge_sink")
    src, tbl, ckpt = str(d / "src"), str(d / "tbl"), str(d / "ckpt")
    import os

    os.makedirs(src)
    # batch 1: two keys
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("k long, v string").json(src)
    q = stream_merge_sink(stream, tbl, ["k"], ckpt, query_name="ms1")
    q.awaitTermination()
    got1 = {(r["k"], r["v"]) for r in read_versioned(spark, tbl).collect()}
    assert got1 == {(1, "a"), (2, "b")}

    # batch 2 (new files): update k=2, insert k=3
    spark.createDataFrame(
        [(2, "B"), (3, "c")], "k long, v string"
    ).write.mode("append").json(src)
    q = stream_merge_sink(stream, tbl, ["k"], ckpt, query_name="ms2")
    q.awaitTermination()
    got2 = {(r["k"], r["v"]) for r in read_versioned(spark, tbl).collect()}
    assert got2 == {(1, "a"), (2, "B"), (3, "c")}
    # time travel: version 1 is still the pre-merge snapshot
    assert {(r["k"], r["v"]) for r in read_versioned(spark, tbl, 1).collect()} == got1


def test_streaming_curation_gate_matches_batch(spark):
    """The streamed admit/drop verdicts equal the batch composition of
    the same flag frames — the cannot-drift claim in the docstring."""
    from pyspark.sql import functions as F

    from milan_telecom_etl__spark.operators.text import c4_line_filter
    from milan_telecom_etl__spark.registry_quality import (
        GOPHER_CORPUS_RULES,
        gopher_flag_frame,
        url_flag_frame,
    )
    from milan_telecom_etl__spark.registry_streaming import (
        q_streaming_curation_gate_batch,
    )
    from milan_telecom_etl__spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    got = {r["doc_id"]: r for r in q_streaming_curation_gate_batch(spark, sf).collect()}
    docs = load_table(spark, sf, "documents")
    u = url_flag_frame(docs).select("doc_id", F.col("allowed").alias("url_allowed"))
    gq = gopher_flag_frame(docs)
    qp = F.lit(True)
    for r in GOPHER_CORPUS_RULES:
        qp = qp & F.col(r)
    gq = gq.select("doc_id", qp.alias("quality_pass"))
    c4 = c4_line_filter(docs).select("doc_id", F.col("doc_pass").alias("c4_pass"))
    batch = {
        r["doc_id"]: r
        for r in u.join(gq, "doc_id").join(c4, "doc_id").collect()
    }
    assert set(got) == set(batch) and got
    n_admitted = 0
    for d, r in got.items():
        b = batch[d]
        assert r["url_allowed"] == b["url_allowed"]
        assert r["c4_pass"] == b["c4_pass"]
        assert r["quality_pass"] == b["quality_pass"]
        assert r["admitted"] == (
            b["url_allowed"] and b["c4_pass"] and b["quality_pass"]
        )
        n_admitted += r["admitted"]
    assert 0 < n_admitted < len(got), "gate should admit some and drop some"


def test_drains_leave_no_sink_views(spark, sf_dir):
    """Each availableNow drain's memory-sink view is dropped once its
    frame is resolved: repeated calls must not pile `bt_*` tables (and
    their rows) up in the session catalog, and every returned frame
    still reads the drained rows after its view is gone."""
    from milan_telecom_etl__spark.registry_streaming import (
        q_streaming_rollup_batch,
    )

    frames = [q_streaming_rollup_batch(spark, sf_dir) for _ in range(3)]
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("bt_")]
    rows = [sorted(map(tuple, f.collect())) for f in frames]
    assert rows[0] and rows[0] == rows[1] == rows[2]


def test_streaming_containment_probe_flags_contained_arrival(spark, tmp_path):
    """An arriving doc fully contained in an index doc must surface as
    an ingest-time suspect (all its probes land in the container), and
    unrelated arrivals must not; suspect pairs agree with the offline
    verifier's direction-A candidates."""
    import pyspark.sql.functions as F  # noqa: F401

    import milan_telecom_etl__spark.registry_streaming  # noqa: F401 (registration)
    from milan_telecom_etl__spark.queries_registry import QUERIES

    big = [f"w{i}x" for i in range(400)]
    rows = [
        (1, " ".join(big[50:80]), "en", "srcA", 0),
        (3, " ".join(f"q{i}z" for i in range(100)), "en", "srcA", 0),
        (150, " ".join(big), "en", "srcB", 0),
        (151, " ".join(f"r{i}y" for i in range(100)), "en", "srcB", 0),
    ]
    import pandas as pd

    d = str(tmp_path / "sfmini")
    (tmp_path / "sfmini").mkdir()
    # a single FILE named documents.parquet, like the driver testdata
    # (_stream_documents' pathGlobFilter matches leaf file names)
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(d + "/documents.parquet", index=False)
    got = {
        (r["new_doc"], r["other_doc"]): r["hits"]
        for r in QUERIES["streaming_containment_probe_batch"](spark, d).collect()
    }
    assert (1, 150) in got and got[(1, 150)] == 8
    assert all(nd != 3 for nd, _ in got), "unrelated arrival flagged"
    assert all(od != 151 for _, od in got), "unrelated index doc flagged"
