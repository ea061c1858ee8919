"""The standing-artifact warehouse (artifacts.py): build-once
semantics, manifest-keyed rebuild in place, and serving/train twin
equality for the two artifact-backed streaming entries."""

import os
import time

import pyspark.sql.functions as F
import pytest

from milan_telecom_etl__spark.artifacts import (
    _corpus_files,
    artifact_path,
    load_or_build,
)
from milan_telecom_etl__spark.bucketed import appendable_bucketed_table, layout_name


def _write_corpus(spark, path: str, n: int) -> None:
    (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(path, "documents.parquet"))
    )


def test_load_or_build_builds_exactly_once(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "wh"))
    sf = str(tmp_path / "sf")
    _write_corpus(spark, sf, 10)
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).select(F.col("id").alias("v"))

    a = load_or_build(spark, sf, "toy", build).collect()
    b = load_or_build(spark, sf, "toy", build).collect()
    assert len(calls) == 1, "second invocation must serve the warehouse parquet"
    assert sorted(r["v"] for r in a) == sorted(r["v"] for r in b) == [0, 1, 2]


def test_corpus_change_rebuilds_artifact_in_place(spark, tmp_path, monkeypatch):
    """A corpus rewritten under the same sf_dir rebuilds the artifact
    at the SAME location (identity is the location; the manifest
    records what it was built from), so no stale copy is left behind."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "wh"))
    sf = str(tmp_path / "sf")
    _write_corpus(spark, sf, 10)
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(os.path.join(sf, "documents.parquet")).select(
            F.count(F.lit(1)).alias("n")
        )

    p1 = artifact_path(sf, "toy")
    assert load_or_build(spark, sf, "toy", build).first()["n"] == 10
    time.sleep(0.01)  # mtime tick
    _write_corpus(spark, sf, 11)
    assert load_or_build(spark, sf, "toy", build).first()["n"] == 11
    assert len(calls) == 2
    assert artifact_path(sf, "toy") == p1
    assert os.listdir(str(tmp_path / "wh")) == [os.path.basename(os.path.dirname(p1))]
    assert os.listdir(os.path.dirname(p1)) == ["toy"]


def test_nested_partition_growth_refreshes_both_stores(spark, tmp_path, monkeypatch):
    """A `key=value`-partitioned corpus: the manifest lists the nested
    files (relative paths), so a file landing inside a partition dir
    rebuilds a `load_or_build` artifact and appends to the bucketed
    store, whose delta keeps its partition column."""
    import glob
    import shutil

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "wh"))
    sf = str(tmp_path / "sf")
    base = os.path.join(sf, "documents.parquet")

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"), (F.col("id") % 2).cast("int").alias("part")
        )

    docs(0, 20).write.partitionBy("part").parquet(base)
    assert _corpus_files(spark, sf, "documents")
    assert all(f.startswith("part=") for f in _corpus_files(spark, sf, "documents"))

    def count():
        return spark.read.parquet(base).select(F.count(F.lit(1)).alias("n"))

    def rows(df):
        return sorted(tuple(r) for r in df.select("doc_id", "part").collect())

    name = layout_name(sf, "documents", "doc_id")
    ipath = os.path.join(str(tmp_path / "wh"), "bucketed", name)
    idx = lambda: appendable_bucketed_table(spark, sf, "documents", "doc_id", n=2)  # noqa: E731
    try:
        assert load_or_build(spark, sf, "n_docs", count).first()["n"] == 20
        idx()
        stage = str(tmp_path / "stage")
        docs(100, 105).drop("part").coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        shutil.copy(part, os.path.join(base, "part=1", "delta-1.parquet"))

        assert load_or_build(spark, sf, "n_docs", count).first()["n"] == 25
        grown = idx()
        assert rows(grown) == rows(spark.read.parquet(base))
        assert (100, 1) in rows(grown)
        # appended beside the two built buckets, not rebuilt
        assert len([f for f in os.listdir(ipath) if f.startswith("part-")]) > 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def _hll_partials(spark, sf):
    """The `hll_partial_append_serving` entry's partials store."""
    from milan_telecom_etl__spark.artifacts import load_or_append_partials
    from milan_telecom_etl__spark.registry_semistructured import HLL_LG_K
    from milan_telecom_etl__spark.sources.parquet import adapt_table

    def build(raw):
        ev = adapt_table(raw, "events")
        return ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.hll_sketch_agg("user_id", HLL_LG_K).alias("sk")
        )

    return load_or_append_partials(
        spark, sf, f"hll_user_partials_lgk{HLL_LG_K}", build, table="events"
    )


def _ivf_cells(spark, sf):
    from milan_telecom_etl__spark.operators import similarity as S
    from milan_telecom_etl__spark.sources.parquet import load_table

    emb = load_table(spark, sf, "embeddings")
    return load_or_build(
        spark,
        sf,
        "ivf_cells_8",
        lambda: S.ivf_cell_assignments(emb, n_cells=8),
        table="embeddings",
    )


def _orders_index(spark, sf):
    return appendable_bucketed_table(spark, sf, "orders", "o_orderkey")


@pytest.mark.parametrize("serve", [_ivf_cells, _hll_partials, _orders_index])
def test_store_serves_declare_the_written_schema(spark, tmp_path, monkeypatch, serve):
    """Each store serves with the schema its manifest recorded at write
    time: a warm call launches no Spark job, that schema is what
    inference gives on the same files, and a manifest without a schema
    (the earlier format) rebuilds exactly once and is then served."""
    import glob
    import json

    from milan_telecom_etl__spark.artifacts import _read_text, _write_text

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    sf = "/root/testdata/sf0.001"
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def warm_jobs():
        jobs0 = dag.numTotalJobs()
        df = serve(spark, sf)
        return dag.numTotalJobs() - jobs0, df

    def built_ns():
        return os.stat(os.path.join(adir, "_SUCCESS")).st_mtime_ns

    try:
        serve(spark, sf)
        (manifest,) = glob.glob(str(tmp_path / "**" / "_shards.json"), recursive=True)
        adir = os.path.dirname(manifest)
        jobs, served = warm_jobs()
        assert jobs == 0
        assert served.schema == spark.read.parquet(adir).schema

        stripped = json.loads(_read_text(spark, manifest))
        del stripped["schema"]
        _write_text(spark, manifest, json.dumps(stripped))
        t0 = built_ns()
        serve(spark, sf)
        t1 = built_ns()
        assert t1 != t0, "a manifest without a schema must rebuild"
        jobs, again = warm_jobs()
        assert jobs == 0 and built_ns() == t1
        assert again.schema == served.schema
        assert "schema" in json.loads(_read_text(spark, manifest))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{layout_name(sf, 'orders', 'o_orderkey')}`")


def test_serving_entries_match_train_in_run_twins(spark):
    """The artifact-backed serving entries must produce exactly the
    train-in-run twins' rows (same shared scoring plan, same trained
    values — the artifact round-trip through parquet loses nothing,
    decimals included)."""
    from milan_telecom_etl__spark import registry_streaming  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    for serve, train, key in (
        ("streaming_fertility_batch", "streaming_fertility_train_batch", "source"),
        (
            "streaming_quality_probe_batch",
            "streaming_quality_probe_train_batch",
            "doc_id",
        ),
    ):
        s = {r[key]: r for r in QUERIES[serve](spark, sf).collect()}
        t = {r[key]: r for r in QUERIES[train](spark, sf).collect()}
        assert s and s.keys() == t.keys()
        assert all(s[k] == t[k] for k in s), f"{serve} != {train}"


def test_fertility_artifact_is_the_trained_vocab(spark):
    """The persisted artifact IS the trained (w, seq, freq) vocabulary:
    loading it back and re-deriving w_tokens gives positive token
    counts for every trained word."""
    from milan_telecom_etl__spark.operators.text import _bpe_syms_col
    from milan_telecom_etl__spark.registry_streaming import _standing_bpe_vocab

    v = _standing_bpe_vocab(spark, "/root/testdata/sf0.001")
    assert set(v.columns) == {"w", "seq", "freq"}
    rows = v.select(
        "w", F.size(_bpe_syms_col("alpha")).alias("n")
    ).collect()
    assert rows and all(r["n"] >= 1 for r in rows)


def test_index_serving_twins_match_train_in_run(spark):
    """The standing-index serving entries (dedup + ANN) must produce
    exactly the train-in-run twins' rows — the artifact round-trip and
    the union-df-cap discipline lose nothing."""
    from milan_telecom_etl__spark import registry_similarity  # noqa: F401
    from milan_telecom_etl__spark import registry_text  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    for serve, train, keys in (
        ("incremental_dedup_serving", "incremental_dedup", ("new_doc", "dup_of")),
        ("knn_ivf_serving", "knn_ivf", ("query_id", "rk")),
    ):
        s = {tuple(r[k] for k in keys): r for r in QUERIES[serve](spark, sf).collect()}
        t = {tuple(r[k] for k in keys): r for r in QUERIES[train](spark, sf).collect()}
        assert s and s.keys() == t.keys(), f"{serve} keys != {train}"
        assert all(s[k] == t[k] for k in s), f"{serve} != {train}"


def test_dedup_serving_df_cap_sees_union_frequencies(spark, tmp_path, monkeypatch):
    """The reason the dedup shingle artifact stores UNCAPPED rows: a
    batch can push a shingle over the df cap, and the serving form must
    drop it exactly as the combined computation would. Crafted corpus:
    a shingle at df == cap in the index alone crosses the cap once the
    batch arrives; with cap=2 the serving and train-in-run outputs must
    still agree (both drop it)."""
    import pyspark.sql.functions as F

    from milan_telecom_etl__spark.operators.dedup import (
        incremental_near_dups,
        incremental_near_dups_serving,
        minhash_banded,
        shingle_table,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),      # batch
        (1, "alpha beta gamma delta epsilon zeta"),      # batch dup of 0
        (100, "alpha beta gamma delta epsilon zeta"),    # index
        (101, "alpha beta gamma delta epsilon eta"),     # index near-dup
        (102, "totally different words entirely here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 2
    train = incremental_near_dups(
        docs, new_max_id=100, max_shingle_df=cap
    ).collect()
    idx = docs.filter(F.col("doc_id") >= 100)
    serve = incremental_near_dups_serving(
        docs.filter(F.col("doc_id") < 100),
        minhash_banded(idx, num_hashes=64, band_size=4),
        shingle_table(idx, n=3),  # UNCAPPED, by contract
        new_max_id=100,
        max_shingle_df=cap,
    ).collect()
    key = lambda r: (r["new_doc"], r["dup_of"])
    assert {key(r): r for r in serve} == {key(r): r for r in train}


def test_append_plan_decisions():
    # the shared append-only state machine (bucketed index + partials
    # store) — pure-function pins for every branch
    from milan_telecom_etl__spark.artifacts import append_plan

    cur = {"a": [1, 2], "b": [3, 4]}
    assert append_plan(None, cur) == ("rebuild", [])          # no manifest
    assert append_plan(cur, cur) == ("serve", [])             # steady state
    assert append_plan({"a": [1, 2]}, cur) == ("append", ["b"])  # growth
    assert append_plan({"a": [9, 9], "b": [3, 4]}, cur) == ("rebuild", [])  # mutated
    assert append_plan({"z": [1, 1]}, cur) == ("rebuild", [])  # vanished


def _events_corpus(spark, tmp_path):
    import shutil

    corp = tmp_path / "corp"
    tdir = corp / "events.parquet"
    tdir.mkdir(parents=True)
    shutil.copy("/root/testdata/sf0.001/events.parquet", tdir / "base-0.parquet")
    return str(corp), str(tdir)


def _drop_events_file(spark, df, tdir, fname, tmp_path):
    import glob
    import shutil

    stage = str(tmp_path / f"stage_{fname}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
    shutil.copy(part, os.path.join(tdir, fname))


def test_hll_partials_append_matches_rebuild(spark, tmp_path, monkeypatch):
    # VERDICT r13 #5's posture on mergeable aggregates: growing the
    # corpus appends ONLY the new files' sketch rows (history partial
    # parquet untouched), and by mergeability the served estimate
    # equals a from-scratch rebuild on the grown corpus exactly.
    import json as _json

    import __spark_entry__ as m

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "artA"))
    corp, tdir = _events_corpus(spark, tmp_path)
    entry = m.queries()["hll_partial_append_serving"]

    r1 = {r["event_type"]: r for r in entry(spark, corp).collect()}
    assert r1 and all(r["merged_within_4rse"] for r in r1.values())
    (store_root,) = os.listdir(str(tmp_path / "artA" / "partials"))
    droot = str(tmp_path / "artA" / "partials" / store_root)
    (store_name,) = os.listdir(droot)
    data_dir = os.path.join(droot, store_name)
    base_parts = {
        f: os.stat(os.path.join(data_dir, f)).st_mtime_ns
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    }

    # corpus grows: new users under new event ids
    ev = spark.read.parquet(tdir)
    delta = ev.limit(200).withColumn(
        "event_id", F.col("event_id") + F.lit(5_000_000)
    ).withColumn("user_id", F.col("user_id") + F.lit(5_000_000))
    _drop_events_file(spark, delta, tdir, "delta-1.parquet", tmp_path)

    r2 = {r["event_type"]: r for r in entry(spark, corp).collect()}
    assert all(r["merged_within_4rse"] for r in r2.values())
    # exact counts grew (new users landed)
    assert sum(r["exact_users"] for r in r2.values()) > sum(
        r["exact_users"] for r in r1.values()
    )
    # history partial files bit-for-bit untouched; delta files appended
    for f, mt in base_parts.items():
        assert os.stat(os.path.join(data_dir, f)).st_mtime_ns == mt, f
    assert len([f for f in os.listdir(data_dir) if f.endswith(".parquet")]) > len(
        base_parts
    )
    manifest = _json.loads(
        open(os.path.join(droot, store_name, "_shards.json")).read()
    )
    assert set(manifest["files"]) == {"base-0.parquet", "delta-1.parquet"}

    # mergeability: a from-scratch store on the grown corpus serves the
    # IDENTICAL estimate (HLL registers are max-merged — partitioning
    # of the input across batches cannot change the union state)
    def merged_est(root_env):
        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / root_env))
        return {
            r["event_type"]: r["est"]
            for r in _hll_partials(spark, corp)
            .groupBy("event_type")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
            .collect()
        }

    # artA's entry store went base-build -> append (two batches of
    # partial rows); artB builds one-shot on the grown corpus
    appended = merged_est("artA")
    rebuilt = merged_est("artB")
    assert appended == rebuilt
