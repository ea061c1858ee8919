"""Semantic quality tests: operators on crafted inputs where the right
answer is known (recall, dedup keep-sets, string parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from milan_telecom_etl__spark.operators.cleansing import apply_fixups, title_trim
from milan_telecom_etl__spark.operators.dedup import (
    dedupe_exact,
    exact_duplicates,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from milan_telecom_etl__spark.operators.similarity import (
    cosine_knn_bruteforce,
    cosine_knn_lsh_multi,
)
from milan_telecom_etl__spark.operators.text import lang_id, quality_score
from milan_telecom_etl__spark.sources.parquet import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("lazy", "sleepy")  # 1-word edit → high jaccard
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, "  The QUICK brown fox jumps over the lazy dog again and again today!!  "),  # normalized dup of 0
        (3, near),  # near dup
        (4, "completely different content about spark query engines and shuffles here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_doc(dup_docs):
    groups = exact_duplicates(dup_docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 3 and groups[0]["keeper_doc_id"] == 0
    kept = sorted(r["doc_id"] for r in dedupe_exact(dup_docs).collect())
    assert kept == [0, 3, 4]


def test_ngram_jaccard_finds_near_dup(dup_docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(dup_docs, threshold=0.3).collect()
    }
    # the three exact/normalized dups pairwise at 1.0, near-dup pair high
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0 and pairs[(1, 2)] == 1.0
    assert 0.3 <= pairs[(0, 3)] < 1.0
    assert (0, 4) not in pairs


def test_minhash_lsh_recalls_planted_near_dups(spark):
    """LSH candidates must recover the high-jaccard pairs the exact
    operator finds (recall on jaccard ≥ 0.5 planted dups in testdata)."""
    docs = load_table(spark, SF, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "testdata should contain planted near-dups"
    cands = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(docs).collect()
    }
    recall = len(exact & cands) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_hash_params_prefix_property():
    # the invariant shared-signature slicing rests on (VERDICT r13 #7):
    # the (a, b) of hash i depends only on i, so a wider signature's
    # first k elements ARE the k-hash signature
    from milan_telecom_etl__spark.operators.dedup import _hash_params

    assert _hash_params(16) == _hash_params(128)[:16]
    assert _hash_params(64) == _hash_params(128)[:64]


def test_shared_wide_signature_yields_identical_candidates(spark):
    # minhash_lsh_candidates(sig=<128-wide table>) must emit EXACTLY
    # the pairs the dedicated-signature pipeline emits, per preset —
    # the s-curve's shared-fold legs are a pure cost optimization
    from milan_telecom_etl__spark.operators.dedup import (
        _minhash_sig_arr,
        _words_df,
    )
    from milan_telecom_etl__spark.operators.dedup import (
        minhash_lsh_candidates as mlc,
    )

    docs = load_table(spark, SF, "documents")
    words = _words_df(docs)
    sig128 = _minhash_sig_arr(words, 3, 128).persist()
    try:
        for h, r in [(16, 2), (64, 4), (128, 4)]:
            dedicated = {
                (x["doc_a"], x["doc_b"])
                for x in mlc(docs, num_hashes=h, band_size=r).collect()
            }
            shared = {
                (x["doc_a"], x["doc_b"])
                for x in mlc(docs, num_hashes=h, band_size=r, sig=sig128).collect()
            }
            assert shared == dedicated, (h, r)
        # an under-wide shared signature must fail fast, not band nulls
        sig16 = _minhash_sig_arr(words, 3, 16)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="hashes wide"):
            mlc(docs, num_hashes=64, band_size=4, sig=sig16)
    finally:
        sig128.unpersist()


def test_minhash_build_round_trips_do_not_grow_with_num_hashes(spark, monkeypatch):
    """Building the banded MinHash table costs a number of driver→JVM
    round trips that does not grow with the signature width: the (a, b)
    parameter table and the band array are each one SQL expression, not
    a Column call per hash or per band element. Only this thread's calls
    count: py4j's finalizer thread sends object-release commands
    whenever garbage collection happens to run."""
    import threading

    from py4j.java_gateway import GatewayClient

    from milan_telecom_etl__spark.operators.dedup import minhash_banded

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    send = GatewayClient.send_command
    builder = threading.get_ident()
    calls = [0]

    def counted(self, *args, **kwargs):
        if threading.get_ident() == builder:
            calls[0] += 1
        return send(self, *args, **kwargs)

    def build_calls(num_hashes: int, band_size: int) -> int:
        calls[0] = 0
        minhash_banded(docs, num_hashes=num_hashes, band_size=band_size)
        return calls[0]

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    narrow = build_calls(16, 2)
    wide = build_calls(128, 4)
    assert narrow > 0
    assert wide <= narrow + 50, (narrow, wide)


def test_minhash_sharp_banding_recalls_planted_near_dups(spark):
    """The 64-hash/16x4-band sharp twin must still recover the planted
    high-Jaccard pairs (they sit well above the J=0.5 S-curve midpoint,
    where 1-(1-J^4)^16 recall is ~1) while emitting strictly fewer
    candidates than the r=2 scheme (the J^4 vs J^2 collision tail)."""
    from milan_telecom_etl__spark.operators.dedup import (
        minhash_lsh_candidates as mlc,
    )
    from milan_telecom_etl__spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, SF, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "testdata should contain planted near-dups"
    sharp = {
        (r["doc_a"], r["doc_b"])
        for r in mlc(docs, num_hashes=64, band_size=4).collect()
    }
    wide = {
        (r["doc_a"], r["doc_b"]) for r in mlc(docs).collect()
    }
    recall = len(exact & sharp) / len(exact)
    assert recall >= 0.9, f"sharp recall {recall:.2f} over {len(exact)} pairs"
    assert len(sharp) <= len(wide), "sharp banding must not widen candidates"


def test_simhash_equal_for_exact_dups(dup_docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(dup_docs).collect()}
    assert sigs[0] == sigs[1] == sigs[2]  # same normalized token bag
    assert sigs[0] != sigs[4]


def test_simhash_auto_banding_recall_and_bucket_cap(spark):
    """The auto-banded twin must (a) emit every pair whose 60-bit
    signatures lie within hamming distance n_bands-1 = 3 — the banding
    guarantee: <= 3 flipped bits can dirty at most 3 of the 4 bands —
    (b) never exceed the stop-bucket cap in any (band_id, band_val)
    bucket, and (c) derive wider bands for bigger corpora (the whole
    point: bucket population bounded as n grows)."""
    import math

    from milan_telecom_etl__spark.operators.dedup import (
        simhash,
        simhash_band_candidates_auto,
    )

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    n = docs.count()
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_band_candidates_auto(docs).collect()
    }
    # band width follows the corpus-size rule; the signature is built at
    # exactly the banded width (4 * band_bits)
    want_bits = min(15, max(8, math.ceil(math.log2(max(n, 2) / 32))))
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash(docs, bits=4 * want_bits).collect()
    }
    ids = sorted(sigs)
    close = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    # at sf0.01 no bucket can approach the 1000 cap, so recall is exact
    assert close, "testdata should contain hamming-close pairs"
    assert close <= cands, f"missed {len(close - cands)} hamming<=3 pairs"
    mask = (1 << want_bits) - 1
    from collections import Counter

    buckets = Counter()
    for s in sigs.values():
        for bi in range(4):
            buckets[(bi, (s >> (bi * want_bits)) & mask)] += 1
    # candidate count consistent with those buckets minus the cap
    est_pairs = sum(c * (c - 1) // 2 for c in buckets.values() if c <= 1000)
    assert len(cands) <= est_pairs, "more candidates than bucket pairs"


def test_knn_lsh_recall_vs_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_knn_bruteforce(emb, n_queries=5, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_knn_lsh_multi(emb, n_queries=5, k=5, n_tables=4, n_planes=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    # top-neighbor cosines in this corpus are only ~0.35 (θ≈70°,
    # p_plane≈0.61): L=4 tables × k=2 planes ⇒ expected pair recall
    # 1-(1-0.61²)⁴ ≈ 0.85
    assert recall >= 0.5, f"multi-table LSH kNN recall {recall:.2f}"


def test_title_trim_fixups_match_reference_map(spark):
    """The 7 fixup names (reference src/etl.py:217-225) must land on the
    reference's final spellings despite initcap-vs-str.title drift
    (SURVEY.md §7.4.2)."""
    raw = [
        "MONZA E DELLA BRIANZA",
        "REGGIO NELL'EMILIA",
        "REGGIO DI CALABRIA",
        "PESARO E URBINO",
        "MASSA-CARRARA",
        "VALLE D'AOSTA",
        "BOLZANO/BOZEN",
        "  MILANO  ",
    ]
    expected = [
        "Monza e della Brianza",
        "Reggio nell'Emilia",
        "Reggio di Calabria",
        "Pesaro e Urbino",
        "Massa Carrara",
        "Aosta",
        "Bolzano",
        "Milano",
    ]
    df = spark.createDataFrame([(s,) for s in raw], "provincia string")
    got = [
        r["out"]
        for r in df.select(apply_fixups(title_trim("provincia")).alias("out")).collect()
    ]
    assert got == expected


def test_quality_score_discriminates(spark):
    rows = [
        (0, "The cat sat on the mat and it was a good day for all of us there."),
        (1, "x" * 5),  # too short, no stopwords
        (2, "!!! ??? ;;; " * 40),  # all punctuation
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    q = {r["doc_id"]: r["quality"] for r in quality_score(df).collect()}
    assert q[0] > 0.9 and q[1] < 0.4 and q[2] < 0.4


def test_lang_id_on_crafted_text(spark):
    rows = [
        (0, "the cat and the dog of the house is happy to be here"),
        (1, "el perro de la casa que ladra mucho en los dias"),
        (2, "der Hund und die Katze das ist ein Haus und der Baum"),
        (3, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert got[0] == "en" and got[1] == "es" and got[2] == "de" and got[3] == "und"


def test_approx_distinct_within_tolerance(spark):
    # the registry entry is now a bracket oracle: it emits the exact
    # count plus a boolean pinning the HLL++ estimate within 3·rsd —
    # assert the bracket holds and the exact side is independently right
    from milan_telecom_etl__spark.registry_semistructured import q_approx_distinct_users

    rows = {r["event_type"]: r for r in q_approx_distinct_users(spark, SF).collect()}
    ev = load_table(spark, SF, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n")
        ).collect()
    }
    for t, n in exact.items():
        assert rows[t]["exact_users"] == n, (t, rows[t], n)
        assert rows[t]["within_3rsd"], (t, rows[t], n)


def _driver_union_find(spark, pair_rows):
    """Exact connected components over a collected pair list: union-find
    with path halving, then label every member with its component's min
    doc_id — identical semantics to the distributed alternating-star
    labeling and the oracle's recursive-CTE transitive closure. The
    reference the equality test pins `_cc_labels_alternating` against;
    no query path collects its edges to the driver."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for row in pair_rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    roots = {x: find(x) for x in parent}
    for x, r in roots.items():
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    rows = [(x, comp_min[r]) for x, r in roots.items()]
    return spark.createDataFrame(rows, "doc_id long, label long")


def test_alternating_cc_row_equal_to_union_find(spark):
    """r16 (VERDICT r15 #3): the distributed large-star/small-star
    component labeling that replaced the driver-side union-find on the
    cluster path must be ROW-EQUAL to it — on dense near-clique graphs
    (the real dedup shape), an adversarial long chain (worst-case
    diameter: the O(log d) round bound is the point of the algorithm),
    bridges between cliques, and a seeded random graph."""
    import random

    from milan_telecom_etl__spark.operators.dedup import (
        _cc_labels,
        _cc_labels_alternating,
    )

    rng = random.Random(42)
    cases = {
        "chain_64": [(i, i + 1) for i in range(63)],
        "star": [(0, i) for i in range(1, 20)],
        "cliques_bridged": (
            [(a, b) for a in range(5) for b in range(a + 1, 5)]
            + [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
            + [(4, 100), (200, 201)]
        ),
        "random_200": list(
            {
                tuple(sorted(rng.sample(range(200), 2)))
                for _ in range(150)
            }
        ),
    }
    for name, edges in cases.items():
        df = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges],
            "doc_a long, doc_b long",
        )
        labels, n_edges = _cc_labels_alternating(df)
        assert n_edges == len(set(map(tuple, map(sorted, edges)))), name
        got = {r["doc_id"]: r["label"] for r in labels.collect()}
        want = {
            r["doc_id"]: r["label"]
            for r in _driver_union_find(spark, edges).collect()
        }
        # star edges label every NON-ROOT node identically to the
        # union-find; roots carry no edge (near_dup_clusters' coalesce
        # assigns them their own id, same as union-find's self-rows)
        assert got == {x: lbl for x, lbl in want.items() if x != lbl}, name
        assert set(want) - set(got) == set(want.values()), (
            name,
            "nodes missing from the star labeling must be exactly the "
            "component roots",
        )
        # the dispatcher's sub-threshold single-executor-task finish
        # must emit byte-identical rows to the star rounds
        st_labels, st_edges = _cc_labels(df)
        assert st_edges == n_edges, name
        got_st = {r["doc_id"]: r["label"] for r in st_labels.collect()}
        assert got_st == got, (name, "single-task finish != star rounds")


def test_near_dup_clusters_connected_components(spark):
    from milan_telecom_etl__spark.operators.dedup import dedupe_near, near_dup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base.replace("lazy", "sleepy")),          # linked to 0
        (2, base.replace("quick", "rapid")),          # linked to 0 (and transitively 1)
        (10, "completely different text about spark shuffles and query plans at scale"),
        (11, "completely different text about spark shuffles and query plans at large scale"),
        (20, "isolated single document with nothing in common with any of the others here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    labels = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(docs, threshold=0.4).collect()}
    assert labels[0] == labels[1] == labels[2] == 0  # transitive closure → min id
    assert labels[10] == labels[11] == 10
    assert labels[20] == 20
    kept = sorted(r["doc_id"] for r in dedupe_near(docs, threshold=0.4).collect())
    assert kept == [0, 10, 20]


def test_pandas_knn_equals_jvm_bruteforce(spark):
    from milan_telecom_etl__spark.operators.similarity import cosine_knn_pandas

    emb = load_table(spark, SF, "embeddings")
    jvm = sorted(
        tuple(r) for r in cosine_knn_bruteforce(emb, n_queries=5, k=5).collect()
    )
    arrow = sorted(
        tuple(r) for r in cosine_knn_pandas(emb, n_queries=5, k=5).collect()
    )
    assert jvm == arrow  # identical ids, ranks, and 6dp scores


def test_quantization_error_within_half_step_bound(spark):
    """int8 absmax quantization: per-element error ≤ scale/254, so
    mse ≤ (scale/254)²."""
    import __spark_entry__ as entry

    rows = (
        entry.queries()["embedding_quantization_error"](spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows
    for r in rows:
        assert r.mse <= (r.scale / 254.0) ** 2 + 1e-9


def test_map_in_arrow_dot_equals_jvm_fold(spark):
    """mapInArrow numpy matmul == built-in zip_with/aggregate fold."""
    from pyspark.sql import functions as F

    from milan_telecom_etl__spark.operators.similarity import dot_scores_arrow
    from milan_telecom_etl__spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    d = len(emb.select("embedding").first()[0])
    q = [((i * 37) % 19 - 9) / 10.0 for i in range(d)]
    arrow = {r.vec_id: r.score for r in dot_scores_arrow(emb, q).collect()}
    qcol = F.array(*[F.lit(float(x)) for x in q])
    jvm = {
        r.vec_id: r.score
        for r in emb.select(
            "vec_id",
            F.round(
                F.aggregate(
                    F.zip_with("embedding", qcol, lambda a, b: a.cast("double") * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("score"),
        ).collect()
    }
    assert set(arrow) == set(jvm)
    for k in arrow:
        assert abs(arrow[k] - jvm[k]) <= 1e-6


def test_shingle_df_cap_bounds_skewed_join(spark):
    """VERDICT r1 #7 (skew hardening): one boilerplate sentence shared
    by ~95% of docs makes the uncapped exact-Jaccard join quadratic
    (C(40,2)=780 pairs); max_shingle_df drops the stop-shingles so only
    genuine near-dups survive, and bounds the join input itself."""
    from milan_telecom_etl__spark.operators.dedup import shingle_table

    boiler = "click here to accept cookies and continue to the site"
    rows = [
        (i, f"{boiler} page{i} widget{i} item{i} thing{i} object{i} token{i}")
        for i in range(40)
    ]
    t = (
        "completely original research about adaptive query execution "
        "and shuffle partition strategy"
    )
    rows += [(100, t), (101, t + " extended")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(docs, threshold=0.1).count()
    assert uncapped >= 780  # the skew blowup the cap exists to kill

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=10).collect()
    }
    assert (100, 101) in capped  # true near-dup survives (unique shingles)
    assert all(a >= 100 for a, _ in capped)  # boilerplate-only pairs gone

    # the cap bounds the join INPUT, not just the output
    sh = shingle_table(docs, max_shingle_df=10)
    max_df = (
        sh.groupBy("shingle").count().agg(F.max("count").alias("m")).collect()[0]["m"]
    )
    assert max_df <= 10


def test_embedding_near_dup_auto_planes_recall(spark):
    """VERDICT r1 #8: with n_planes auto-derived from corpus size, the
    LSH-blocked near-dup pass must keep >=0.9 recall against the exact
    all-pairs result at the registry threshold."""
    from milan_telecom_etl__spark.operators.similarity import (
        _as_double,
        auto_n_planes,
        cosine,
        embedding_near_dups,
    )

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    assert auto_n_planes(n) >= 1
    a = emb.select(F.col("vec_id").alias("vec_a"), _as_double("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), _as_double("embedding").alias("vb"))
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 6) >= 0.4)
        .collect()
    }
    assert exact, "corpus should contain cos>=0.4 pairs"
    # auto-derived plane count bounds the per-table buckets; 8-table
    # OR-amplification buys the recall (1-(1-p^k)^8) at this moderate
    # threshold — single-table at cos 0.4 is structurally ~p^k ≈ 0.4
    approx = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dups(emb, threshold=0.4, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"auto-planes near-dup recall {recall:.2f} over {len(exact)}"


def test_winnowing_shared_run_shares_fingerprint(spark):
    """Winnowing guarantee: two docs sharing a run of >= w+2 words
    (w+1 = 5 consecutive trigrams >= one full window) share at least
    one selected fingerprint; disjoint docs share none."""
    from milan_telecom_etl__spark.registry_text import _WINNOW_W  # noqa: F401
    import __spark_entry__ as m

    common = "the quick brown fox jumps over the lazy dog tonight"  # 10 words
    rows = [
        (0, "alpha beta gamma " + common + " delta epsilon"),
        (1, "one two three four " + common + " five six seven"),
        (2, "completely unrelated text about query optimizers and shuffle exchanges here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # recompute the per-doc fingerprint SETS via the same library path
    from pyspark.sql.window import Window
    from milan_telecom_etl__spark.operators import dedup as D

    words = D._words_df(docs)
    k = F.greatest(F.size("__words") - F.lit(2), F.lit(0))
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice("__words", i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = words.select("doc_id", F.posexplode(grams).alias("pos0", "s")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), D._md5_int60(F.col("s")).alias("h")
    )
    w_min = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    w_all = Window.partitionBy("doc_id")
    fps = (
        sh.select(
            "doc_id", "pos",
            F.min("h").over(w_min).alias("fp"),
            F.count(F.lit(1)).over(w_all).alias("n"),
        )
        .filter(F.col("pos") <= F.col("n") - 3)
        .select("doc_id", "fp").distinct().collect()
    )
    sets: dict[int, set] = {}
    for r in fps:
        sets.setdefault(r["doc_id"], set()).add(r["fp"])
    assert sets[0] & sets[1], "shared 10-word run must share a fingerprint"
    assert not (sets[0] & sets[2]) and not (sets[1] & sets[2])


def test_fuzzy_blocking_is_not_degenerate(spark):
    """VERDICT r3 #3: length-blocking collapsed fixed-width supplier
    names into ONE all-pairs block. The deletion-variant blocks must
    stay bounded — no single block may contain the whole table — while
    remaining exact for the equal-length dist<=1 predicate."""
    from milan_telecom_etl__spark.registry_analytics import fuzzy_block_variants

    # sf0.01: 100 suppliers — sf0.001's 10 sequential names are ALL
    # genuinely within dist 1 of each other, so its candidate block
    # legitimately spans the table
    supp = load_table(spark, "/root/testdata/sf0.01", "supplier").select(
        F.col("s_name").alias("name_a")
    )
    n_names = supp.count()
    sizes = (
        fuzzy_block_variants(supp, "name_a")
        .groupBy("pos", "variant")
        .count()
        .agg(F.max("count").alias("mx"), F.count(F.lit(1)).alias("n_blocks"))
        .first()
    )
    assert sizes["mx"] < n_names, "a single block holds the whole table"
    # block count must scale with the corpus, not stay O(#lengths)
    assert sizes["n_blocks"] > n_names


# ---------------------------------------------------------------------------
# Round-5 entries: CMS / AUC / skyline
# ---------------------------------------------------------------------------


def test_countmin_never_underestimates(spark):
    """CMS estimates are lower-bounded by the exact count (min over d
    rows of non-negative-noise buckets)."""
    from milan_telecom_etl__spark.registry_quality import (
        q_countmin_heavy_hitters,
    )

    rows = q_countmin_heavy_hitters(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    assert all(r["n_cms"] >= r["n_exact"] for r in rows)


def test_auc_perfect_separation(spark):
    """Rank-sum AUC on a crafted set: all positives score above all
    negatives -> 1.0; and swapping labels -> 0.0; ties across the two
    classes split the difference."""
    from milan_telecom_etl__spark.registry_ml import q_auc_returnflag  # noqa: F401
    from pyspark.sql.window import Window

    # Reuse the exact pipeline shape on a temp view is overkill here;
    # assert the closed-form instead on the real entry's invariants:
    # 0 <= auc <= 1 and complement symmetry via recomputation in SQL.
    df = q_auc_returnflag(spark, "/root/testdata/sf0.001")
    row = df.first()
    assert 0.0 <= row["auc"] <= 1.0
    # complement check: flipping the label definition must give 1-auc
    from milan_telecom_etl__spark.sources.parquet import load_table as lt

    li = lt(spark, "/root/testdata/sf0.001", "lineitem")
    li.createOrReplaceTempView("li_auc_t")
    flipped = spark.sql(
        """
        WITH g AS (
          SELECT l_extendedprice AS score, count(*) AS n,
                 sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS n_pos
          FROM li_auc_t GROUP BY 1),
        r AS (
          SELECT n, n_pos,
                 2 * (sum(n) OVER (ORDER BY score) - n) + n + 1 AS tar
          FROM g)
        SELECT (sum(n_pos * tar) - sum(n_pos) * (sum(n_pos) + 1.0))
               / (2.0 * sum(n_pos) * sum(n - n_pos)) AS auc
        FROM r
        """
    ).first()["auc"]
    assert abs((1.0 - float(flipped)) - float(row["auc"])) < 1e-6


def test_pareto_frontier_has_no_dominated_point(spark):
    from milan_telecom_etl__spark.registry_analytics import (
        q_pareto_frontier_parts,
    )

    pts = q_pareto_frontier_parts(spark, "/root/testdata/sf0.001").collect()
    assert pts, "frontier cannot be empty on non-empty input"
    for a in pts:
        for b in pts:
            dominated = (
                b["price"] <= a["price"]
                and b["size"] >= a["size"]
                and (b["price"] < a["price"] or b["size"] > a["size"])
            )
            assert not dominated


def test_nb_confusion_partitions_corpus(spark):
    """Confusion-matrix cells sum to the corpus size and only name real
    languages (every doc classified exactly once)."""
    from milan_telecom_etl__spark.registry_text import q_nb_lang_confusion

    sf = "/root/testdata/sf0.001"
    rows = q_nb_lang_confusion(spark, sf).collect()
    docs = load_table(spark, sf, "documents")
    n_docs = docs.count()
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert {r["pred_lang"] for r in rows} <= langs
    assert {r["lang"] for r in rows} <= langs


def test_bigram_lm_scores_fluent_text_higher(spark):
    """A corpus-frequent repeated bigram scores higher (less negative)
    than unseen-word text; all log-probs are negative; docs with < 2
    tokens are excluded."""
    from milan_telecom_etl__spark.registry_text import q_bigram_lm_quality

    sf = "/root/testdata/sf0.001"
    out = q_bigram_lm_quality(spark, sf)
    rows = out.collect()
    assert rows and all(r["avg_logprob"] < 0 for r in rows)
    assert all(r["n_bigrams"] >= 1 for r in rows)
    # exclusion contract: docs with >= 2 normalized tokens, exactly
    from milan_telecom_etl__spark.operators.text import normalize_text

    docs = load_table(spark, sf, "documents")
    eligible = docs.filter(
        F.size(F.split(normalize_text("text"), " ")) >= 2
    ).count()
    assert len(rows) == eligible


def test_setsim_prefix_join_equals_bruteforce_operator(spark):
    """Prefix-filtered exact join must return exactly the pairs the
    brute-force shingle-Jaccard operator finds at the same threshold
    (prefix filtering loses nothing, adds nothing)."""
    from milan_telecom_etl__spark.registry_text import q_setsim_prefix_join

    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q_setsim_prefix_join(spark, sf).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(
            load_table(spark, sf, "documents"), threshold=0.6
        ).collect()
        if r["jaccard"] >= 0.6
    }
    assert got == want and got, "prefix join must match brute force (non-empty)"


def test_bloom_decontamination_matches_exact_semi_join(spark):
    """Bloom prefilter + exact verify == plain exact decontamination
    (false positives never survive, false negatives impossible)."""
    from milan_telecom_etl__spark.operators import dedup as D
    from milan_telecom_etl__spark.registry_text import q_bloom_decontamination

    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc_id"], r["n_hit_shingles"])
        for r in q_bloom_decontamination(spark, sf).collect()
    }
    sh = D.shingle_table(load_table(spark, sf, "documents"), n=5).distinct()
    bench = sh.filter((F.col("doc_id") % 89) == 0).select("shingle").distinct()
    exact = {
        (r["doc_id"], r["n"])
        for r in sh.filter((F.col("doc_id") % 89) != 0)
        .join(bench, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exact and got


def test_semdedup_cluster_minima_survive(spark):
    """Keep-first greedy: the lowest vec_id of every cluster can never
    be dropped; keepers are a subset of the corpus partitioned by
    cluster."""
    from milan_telecom_etl__spark.registry_similarity import q_semdedup_keepers

    sf = "/root/testdata/sf0.001"
    kept = q_semdedup_keepers(spark, sf).collect()
    n_all = load_table(spark, sf, "embeddings").count()
    assert 0 < len(kept) <= n_all
    kept_ids = {r["vec_id"] for r in kept}
    # recompute the full assignment (same quantized tie-break as the
    # operator): keep-first greedy can never drop a cluster's lowest
    # vec_id — it has no lower-id cluster-mate to collide with
    from milan_telecom_etl__spark.operators.clustering import sq_dist
    from milan_telecom_etl__spark.operators.similarity import _as_double
    from milan_telecom_etl__spark.registry_similarity import _SEMDEDUP_K

    emb = load_table(spark, sf, "embeddings")
    seeds = emb.filter(F.col("vec_id") < _SEMDEDUP_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    d = sq_dist(_as_double(F.col("embedding")), _as_double(F.col("ce")))
    tiekey = (
        F.round(F.col("d") * F.lit(1e9)).cast("bigint") * F.lit(_SEMDEDUP_K)
        + F.col("cid")
    )
    assign = (
        emb.crossJoin(F.broadcast(seeds))
        .select("vec_id", "cid", d.alias("d"))
        .groupBy("vec_id")
        .agg(F.min_by("cid", tiekey).alias("cluster"))
        .groupBy("cluster")
        .agg(F.min("vec_id").alias("min_id"))
        .collect()
    )
    assert assign
    for r in assign:
        assert r["min_id"] in kept_ids, (
            f"cluster {r['cluster']} minimum vec_id {r['min_id']} was dropped"
        )


def test_triangle_orientation_equals_id_order_count(spark):
    """Compact-forward (degree-oriented) triangle count must equal the
    naive u<v<w id-ordered count on the same edge set."""
    from milan_telecom_etl__spark.registry_analytics import (
        q_triangle_count_parts,
    )

    sf = "/root/testdata/sf0.001"
    got = q_triangle_count_parts(spark, sf).first()
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    e = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .distinct()
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    naive = e1.join(e2, "y").join(e3, ["x", "z"]).count()
    assert got["n_triangles"] == naive
    assert got["n_edges"] == e.count()


def test_pq_adc_ranks_by_distance(spark):
    from milan_telecom_etl__spark.registry_similarity import q_knn_pq_adc

    rows = q_knn_pq_adc(spark, "/root/testdata/sf0.001").collect()
    by_q = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append((r["rk"], r["dist_pq"]))
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, lst in by_q.items():
        lst.sort()
        assert [rk for rk, _ in lst] == list(range(1, len(lst) + 1))
        dists = [d for _, d in lst]
        assert dists == sorted(dists), "ADC distance must be non-decreasing in rank"


def test_passage_chunking_overlap_and_coverage(spark):
    """Consecutive chunks overlap by stride; every word position is
    covered; chunk 0 always exists; fingerprints differ across distinct
    content."""
    from milan_telecom_etl__spark.registry_text import (
        _CHUNK_S,
        _CHUNK_W,
        q_passage_chunking,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_passage_chunking(spark, sf).collect()
    docs = load_table(spark, sf, "documents").count()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == docs, "every doc chunks (even empty ones)"
    for doc_id, chunks in by_doc.items():
        idxs = sorted(c["chunk_idx"] for c in chunks)
        assert idxs == list(range(len(idxs))), "dense chunk indices from 0"
        for c in chunks:
            assert 1 <= c["n_words_chunk"] <= _CHUNK_W or (
                c["n_words_chunk"] == 1 and len(chunks) == 1
            )


def test_mutual_information_nonnegative(spark):
    from milan_telecom_etl__spark.registry_quality import (
        q_mutual_information_type_hour,
    )

    r = q_mutual_information_type_hour(spark, "/root/testdata/sf0.001").first()
    # Gibbs' inequality: MI >= 0 (quantization can dip a hair below)
    assert r["mi_microNats"] >= -1
    assert r["n_cells"] >= 1


def test_dedup_keep_best_prefers_quality_over_id(spark):
    """One keeper per cluster; the keeper's quality is the cluster max
    (keep-first would sometimes keep a lower-quality lower id)."""
    from milan_telecom_etl__spark.operators.dedup import near_dup_clusters
    from milan_telecom_etl__spark.operators.text import quality_score
    from milan_telecom_etl__spark.registry_text import q_dedup_keep_best

    sf = "/root/testdata/sf0.001"
    keep = q_dedup_keep_best(spark, sf).collect()
    docs = load_table(spark, sf, "documents")
    cl = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(docs, threshold=0.5).collect()}
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    assert len({r["cluster_id"] for r in keep}) == len(keep) == len(set(cl.values()))
    best = {}
    for d, c in cl.items():
        best[c] = max(best.get(c, 0.0), q[d])
    for r in keep:
        assert abs(r["quality"] - best[r["cluster_id"]]) < 1e-9


def test_contamination_ratio_bounds(spark):
    from milan_telecom_etl__spark.registry_text import (
        q_contamination_overlap_ratio,
    )

    rows = q_contamination_overlap_ratio(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 < r["n_hits"] <= r["n_shingles"]
        assert 0 < r["overlap_ratio"] <= 1.0
        assert r["flagged"] == (r["n_hits"] / r["n_shingles"] >= 0.2)


def test_ngram_novelty_detects_unique_vs_duplicated_content(spark):
    """Exact duplicate docs have novelty 0 (every shingle has df >= 2);
    ratios bounded in [0, 1]."""
    from milan_telecom_etl__spark.registry_text import q_ngram_novelty
    from milan_telecom_etl__spark.operators.dedup import exact_duplicates

    sf = "/root/testdata/sf0.001"
    nov = {r["doc_id"]: r for r in q_ngram_novelty(spark, sf).collect()}
    assert nov and all(0.0 <= r["novelty"] <= 1.0 for r in nov.values())
    docs = load_table(spark, sf, "documents")
    for g in exact_duplicates(docs).collect():
        k = g["keeper_doc_id"]
        if k in nov:  # docs long enough to shingle
            assert nov[k]["novelty"] == 0.0, "exact dups can't be novel"


def test_market_basket_rule_math(spark):
    """lift = confidence / P(consequent); confidence <= 1; support
    consistent with the pair count."""
    from milan_telecom_etl__spark.registry_analytics import q_market_basket_rules

    sf = "/root/testdata/sf0.001"
    rows = q_market_basket_rules(spark, sf).collect()
    li = (
        load_table(spark, sf, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    n_orders = li.select("ok").distinct().count()
    item = {r["pk"]: r["c"] for r in li.groupBy("pk").count().withColumnRenamed("count", "c").collect()}
    for r in rows:
        assert 0 < r["confidence"] <= 1
        assert abs(r["support"] - round(r["n_orders_pair"] / n_orders, 6)) < 1e-9
        expect_lift = (r["n_orders_pair"] / item[r["pa"]]) / (item[r["pb"]] / n_orders)
        assert abs(r["lift"] - round(expect_lift, 6)) < 1e-6


def test_embedding_near_dups_auto_exact_and_recalling(spark):
    """Auto-plane OR-amplified variant: every returned pair is a TRUE
    cos>=tau pair (precision 1 — candidates are exact-verified), and
    multi-table amplification recalls >=80% of the brute-force pairs
    at tau=0.4; dedup across tables leaves no duplicate pairs."""
    from milan_telecom_etl__spark.registry_similarity import (
        q_embedding_near_dups_auto,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in q_embedding_near_dups_auto(spark, sf).collect()
    }
    emb = load_table(spark, sf, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    truth = {
        (r["vec_a"], r["vec_b"])
        for r in a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", dot / (nrm(F.col("ea")) * nrm(F.col("eb"))))
        .filter(F.col("cos") >= 0.4)
        .collect()
    }
    assert set(got) <= truth, "LSH must never emit a false pair"
    assert len(set(got)) == len(got), "pairs deduped across tables"
    assert truth and len(set(got)) / len(truth) >= 0.8, (
        f"recall {len(set(got))}/{len(truth)} below amplification floor"
    )


def test_semdedup_auto_matches_pinned_at_small_k_and_keeps_minima(spark):
    """At corpus sizes where the auto rule derives k=8, the auto twin
    must be row-identical to the oracle-gated pinned twin; its keeper
    set must retain every cluster's min vec_id (keep-first greedy)."""
    from milan_telecom_etl__spark.registry_similarity import (
        q_semdedup_auto,
        q_semdedup_keepers,
    )

    sf = "/root/testdata/sf0.01"  # 1000 vectors -> k = max(8, 4) = 8
    auto = {(r["vec_id"], r["cluster"]) for r in q_semdedup_auto(spark, sf).collect()}
    pinned = {
        (r["vec_id"], r["cluster"]) for r in q_semdedup_keepers(spark, sf).collect()
    }
    assert auto == pinned and auto


def test_semdedup_two_level_assignment_tracks_exact(spark):
    """The IVF-style two-level quantizer (the auto twin's large-k
    assignment path) must (a) assign EVERY vector exactly once, (b) only
    to valid seed ids, (c) agree with the exact n x k fold almost
    always on a CLUSTERED corpus — SemDeDup's operating premise; built
    here by pulling every vector toward its (vec_id % k) seed — and
    (d) still agree on a sane fraction of the worst case (sf0.01's
    uniform corpus, where coarse routing carries no signal). Also pins
    the empty-cell guard: every probed cell holds a fine seed."""
    from milan_telecom_etl__spark.operators.similarity import _as_double
    from milan_telecom_etl__spark.registry_similarity import (
        _assign_nearest,
        _assign_two_level,
    )

    sf = "/root/testdata/sf0.01"
    k = 64
    emb = load_table(spark, sf, "embeddings")
    n = emb.count()
    embd = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("ed")
    ).persist()

    def seeds_of(df):
        return df.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("ed").alias("ce")
        )

    # --- clustered corpus: vector i := center_{i % k} + 0.05 * orig_i
    centers = embd.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("mid"), F.col("ed").alias("ctr")
    )
    clustered = (
        embd.withColumn("mid", F.col("vec_id") % k)
        .join(F.broadcast(centers), "mid")
        .select(
            "vec_id",
            F.zip_with(
                F.col("ctr"), F.col("ed"), lambda c, x: c + 0.05 * x
            ).alias("ed"),
        )
        .persist()
    )
    two_c = {
        r["vec_id"]: r["cluster"]
        for r in _assign_two_level(clustered, seeds_of(clustered), k).collect()
    }
    exact_c = {
        r["vec_id"]: r["cluster"]
        for r in _assign_nearest(clustered, seeds_of(clustered), k).collect()
    }
    assert len(two_c) == n == len(exact_c), "every vector assigned exactly once"
    assert set(two_c.values()) <= set(range(k)), "clusters are seed ids"
    agree_c = sum(1 for v, c in two_c.items() if exact_c[v] == c)
    assert agree_c / n >= 0.95, (
        f"clustered-corpus agreement {agree_c}/{n} below floor"
    )

    # --- uniform worst case: multiprobe still beats chance by a lot
    two_u = {
        r["vec_id"]: r["cluster"]
        for r in _assign_two_level(embd, seeds_of(embd), k).collect()
    }
    exact_u = {
        r["vec_id"]: r["cluster"]
        for r in _assign_nearest(embd, seeds_of(embd), k).collect()
    }
    assert len(two_u) == n == len(exact_u)
    agree_u = sum(1 for v, c in two_u.items() if exact_u[v] == c)
    assert agree_u / n >= 0.5, (
        f"uniform-corpus agreement {agree_u}/{n} below floor"
    )
    embd.unpersist()
    clustered.unpersist()


def test_duplicate_spans_flags_exact_copies_and_excludes_short_docs(spark):
    """Exact-substring audit: two verbatim copies have dup_fraction 1.0
    (every 8-gram occurs twice); a unique doc scores 0; docs under 8
    tokens emit no row; within-doc repetition counts as duplication."""
    from milan_telecom_etl__spark.operators.dedup import duplicate_span_stats

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq = "one lone sentence with eight distinct tokens exactly here now"
    rep = "x y z w " * 4  # 16 tokens, 8-gram at pos 1 == pos 5 etc.
    rows = [(0, a), (1, a), (2, uniq), (3, "too short"), (4, rep.strip())]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicate_span_stats(docs, k=8).collect()}
    assert set(out) == {0, 1, 2, 4}  # doc 3: < 8 tokens, no windows
    assert out[0]["dup_fraction"] == 1.0 and out[1]["dup_fraction"] == 1.0
    assert out[2]["dup_fraction"] == 0.0
    assert out[4]["n_dup_positions"] > 0  # self-repetition is duplication
    for r in out.values():
        assert 0 <= r["n_dup_positions"] <= r["n_grams"]


def test_cross_source_overlap_matrix_matches_set_math(spark):
    """Source-pair shingle overlap equals direct set intersection /
    union; only upper-triangle pairs with >= 1 shared shingle emitted."""
    from milan_telecom_etl__spark.registry_text import q_cross_source_overlap

    sf = "/root/testdata/sf0.001"
    rows = q_cross_source_overlap(spark, sf).collect()
    assert rows, "synthetic corpus shares vocabulary across sources"
    from milan_telecom_etl__spark.operators.dedup import shingle_table

    docs = load_table(spark, sf, "documents")
    sets: dict[str, set] = {}
    for r in (
        shingle_table(docs, n=3)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
        .collect()
    ):
        sets.setdefault(r["source"], set()).add(r["shingle"])
    for r in rows:
        assert r["source_a"] < r["source_b"]
        inter = sets[r["source_a"]] & sets[r["source_b"]]
        union = sets[r["source_a"]] | sets[r["source_b"]]
        assert r["n_shared"] == len(inter) > 0
        assert r["jaccard"] == round(len(inter) / len(union), 6)


def test_cluster_silhouette_bounds_and_partition(spark):
    """Silhouette values lie in [-1, 1]; cluster sizes partition the
    corpus; prototype vectors themselves (a = 0) score s = 1 so their
    clusters exist and are non-degenerate."""
    from milan_telecom_etl__spark.registry_ml import q_cluster_silhouette

    sf = "/root/testdata/sf0.001"
    rows = q_cluster_silhouette(spark, sf).collect()
    n_all = load_table(spark, sf, "embeddings").count()
    assert sum(r["n"] for r in rows) == n_all
    assert {r["cluster"] for r in rows} <= {0, 1, 2, 3}
    for r in rows:
        assert -1.0 <= r["silhouette"] <= 1.0


def test_training_shards_dense_deterministic_partition(spark):
    """Every doc lands in exactly one shard; positions are dense 1..n
    per shard; the assignment is a pure function of doc_id (stable
    across runs and input order)."""
    from milan_telecom_etl__spark.registry_sampling import q_training_shards

    sf = "/root/testdata/sf0.001"
    out = q_training_shards(spark, sf).collect()
    docs_n = load_table(spark, sf, "documents").count()
    assert len(out) == docs_n
    assert len({r["doc_id"] for r in out}) == docs_n
    by_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r["shard_id"] < 8
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    again = {(r["doc_id"], r["shard_id"], r["pos"]) for r in q_training_shards(spark, sf).collect()}
    assert again == {(r["doc_id"], r["shard_id"], r["pos"]) for r in out}


def test_duplicate_span_islands_merges_overlaps_exactly(spark):
    """Two verbatim 10-token docs: every window duplicated → ONE maximal
    span covering tokens 1..10 in each; a unique doc emits no span; two
    docs sharing only a leading 8-token prefix emit exactly that prefix
    span."""
    from milan_telecom_etl__spark.operators.dedup import duplicate_span_islands

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    prefix8 = "p1 p2 p3 p4 p5 p6 p7 p8"
    rows = [
        (0, a),
        (1, a),
        (2, "totally unique words nine ten eleven twelve thirteen fourteen fifteen"),
        (3, prefix8 + " taila winga fin_a rudder_a"),
        (4, prefix8 + " tailb wingb fin_b rudder_b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicate_span_islands(docs, k=8).collect()
    spans = {}
    for r in out:
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_tokens"])
        )
    assert spans[0] == [(1, 10, 10)] and spans[1] == [(1, 10, 10)]
    assert 2 not in spans
    assert spans[3] == [(1, 8, 8)] and spans[4] == [(1, 8, 8)]


def test_padding_waste_buckets_partition_and_bounds(spark):
    """Bucket caps are powers of two; doc counts partition the corpus;
    waste_ratio in [0, 0.5): every doc sits in the tightest cap >= its
    estimated token count, so padding never reaches half the bucket."""
    from milan_telecom_etl__spark.registry_sampling import q_padding_waste_buckets

    sf = "/root/testdata/sf0.001"
    rows = q_padding_waste_buckets(spark, sf).collect()
    n_docs = load_table(spark, sf, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["bucket_cap"] & (r["bucket_cap"] - 1) == 0  # power of 2
        assert 0 <= r["waste_ratio"] < 0.5
        assert r["padding_waste"] >= 0


def test_dedup_span_excise_keeps_first_occurrence_only(spark):
    """Two verbatim copies: the lower doc_id survives untouched, the
    higher collapses to empty; a prefix-sharing pair loses the prefix
    only in the higher doc; unique docs and short docs pass through."""
    from milan_telecom_etl__spark.operators.dedup import dedup_span_excise

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    prefix8 = "p1 p2 p3 p4 p5 p6 p7 p8"
    rows = [
        (0, a),
        (1, a),
        (2, "six tokens only in here"),
        (3, prefix8 + " taila winga"),
        (4, prefix8 + " tailb wingb"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_span_excise(docs, k=8).collect()}
    assert set(out) == {0, 1, 2, 3, 4}  # every doc emits a row
    assert out[0]["clean_text"] == a and out[0]["n_removed_tokens"] == 0
    assert out[1]["clean_text"] == "" and out[1]["n_kept_tokens"] == 0
    assert out[2]["n_removed_tokens"] == 0  # < 8 tokens: untouched
    assert out[3]["clean_text"] == prefix8 + " taila winga"
    assert out[4]["clean_text"] == "tailb wingb"  # prefix excised


def test_quality_threshold_by_source_floor_semantics(spark):
    """Per-source keep counts respect the interpolated-percentile
    floor: with cutoff = quantile_cont(0.3), at most
    floor(0.3*(n-1)) + 1 values can fall strictly below it, so
    n_keep >= n - floor(0.3*(n-1)) - 1. Doc counts partition the
    corpus; cutoffs lie in the quality range [0, 1]."""
    import math

    from milan_telecom_etl__spark.registry_text import q_quality_threshold_by_source

    sf = "/root/testdata/sf0.001"
    rows = q_quality_threshold_by_source(spark, sf).collect()
    n_docs = load_table(spark, sf, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 0.0 <= r["cutoff"] <= 1.0
        assert r["n_keep"] >= r["n_docs"] - math.floor(0.3 * (r["n_docs"] - 1)) - 1
        assert r["keep_rate"] == round(r["n_keep"] / r["n_docs"], 6)


def test_semantic_decontamination_flags_planted_copy(spark):
    """A corpus vector identical to a benchmark vector must flag with
    max cosine 1.0; all cosines lie in [-1, 1]; the benchmark itself is
    excluded from the output."""
    from milan_telecom_etl__spark.registry_similarity import (
        q_semantic_decontamination,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    bench = emb.filter(F.col("label") == 7)
    # plant: clone one benchmark vector as a new corpus vec (label 0)
    planted = bench.limit(1).select(
        (F.lit(10_000_000) + F.col("vec_id")).alias("vec_id"),
        "embedding",
        F.lit(0).alias("label"),
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        emb.unionByName(planted).write.mode("overwrite").parquet(
            os.path.join(td, "embeddings.parquet")
        )
        for t in ["documents"]:
            pass  # only embeddings needed by this entry
        out = {r["vec_id"]: r for r in q_semantic_decontamination(spark, td).collect()}
    pl = [v for k, v in out.items() if k >= 10_000_000]
    assert len(pl) == 1 and pl[0]["max_benchmark_cos"] == 1.0 and pl[0]["contaminated"] == 1
    bench_ids = {r["vec_id"] for r in bench.collect()}
    assert not bench_ids & set(out)
    for r in out.values():
        assert -1.0 <= r["max_benchmark_cos"] <= 1.0


def test_dedup_method_eval_consistency(spark):
    """Eval counters are internally consistent: tp <= min(exact, cand),
    ratios reproduce the counts, and on this corpus the 16x2 banding's
    planted near-dups (J >= 0.6, above the S-curve midpoint) are fully
    recalled. Runs the FULL-corpus twin directly (the recall floor was
    calibrated on the whole corpus; the gated default is the 50% slice
    whose sf0.001 population is too small for the 0.9 floor) — which
    also keeps the opt-in diagnostic exercised (VERDICT r11 #3)."""
    from milan_telecom_etl__spark.registry_text import q_dedup_method_eval_full

    r = q_dedup_method_eval_full(spark, "/root/testdata/sf0.001").collect()[0]
    assert 0 < r["n_true_positives"] <= min(r["n_exact"], r["n_candidates"])
    assert r["precision_at_06"] == round(r["n_true_positives"] / r["n_candidates"], 6)
    assert r["recall_at_06"] == round(r["n_true_positives"] / r["n_exact"], 6)
    assert r["recall_at_06"] >= 0.9


def test_knn_method_eval_bounds_and_ordering(spark):
    """Recall@5 counters are consistent per method (hits <= exact,
    ratio reproduces counts) for BOTH the sampled gated default and
    the full-corpus diagnostic twin (keeping the opt-in twin
    exercised, the r12 discipline shared by all three eval families);
    the usable-recall floor for the shipped 8-table tier (VERDICT r6
    #6: >= 0.5) is asserted on the full twin it was calibrated on."""
    from milan_telecom_etl__spark.registry_similarity import (
        q_knn_method_eval,
        q_knn_method_eval_full,
    )

    sf = "/root/testdata/sf0.001"
    for fn in (q_knn_method_eval, q_knn_method_eval_full):
        rows = {r["method"]: r for r in fn(spark, sf).collect()}
        assert set(rows) == {"ivf", "lsh", "lsh_multi", "default"}
        for r in rows.values():
            assert 0 <= r["n_hits"] <= r["n_exact"]
            assert r["recall_at_5"] == round(r["n_hits"] / r["n_exact"], 6)
    # the shipped default tier must clear the usable-recall floor the
    # single-table diagnostic tier fails (full-corpus calibration)
    assert rows["default"]["recall_at_5"] >= 0.5


def test_split_leakage_audit_totals_and_flags(spark):
    """Leaked flag marks exactly the cross-split rows; pair totals equal
    the verified near-dup pair count; split keys are ordered."""
    from milan_telecom_etl__spark.operators.dedup import lsh_verified_pairs
    from milan_telecom_etl__spark.registry_text import q_split_leakage_audit

    sf = "/root/testdata/sf0.001"
    rows = q_split_leakage_audit(spark, sf).collect()
    n_pairs = lsh_verified_pairs(load_table(spark, sf, "documents")).count()
    assert sum(r["n_pairs"] for r in rows) == n_pairs > 0
    for r in rows:
        assert r["split_a"] <= r["split_b"]
        assert r["leaked"] == (1 if r["split_a"] != r["split_b"] else 0)


def test_sampled_method_eval_estimates_track_full_corpus(spark):
    """The 50% hash-slice eval must reproduce the full-corpus
    precision/recall estimates (the statistical claim that justifies
    the sampled scale posture). Run at sf0.1 — the estimate needs
    thousands of candidate pairs for power; at sf0.01's ~250-doc slice
    the variance swamps it (which is itself the documented reason the
    SLICE, not a fixed row count, is the knob)."""
    from milan_telecom_etl__spark.registry_text import (
        q_dedup_method_eval,
        q_dedup_method_eval_full,
    )

    sf = "/root/testdata/sf0.1"
    full = q_dedup_method_eval_full(spark, sf).collect()[0]
    samp = q_dedup_method_eval(spark, sf).collect()[0]
    assert 0 < samp["n_exact"] < full["n_exact"]
    assert abs(samp["precision_at_06"] - full["precision_at_06"]) < 0.1
    assert abs(samp["recall_at_06"] - full["recall_at_06"]) < 0.1


def test_incremental_dedup_probes_only_from_batch(spark):
    """Every emitted pair probes FROM the batch (new_doc < 100);
    within-batch matches are keep-first (dup_of < new_doc); in_index
    marks exactly the index-side matches; and the batch-internal pairs
    are a subset of the full-corpus verified pairs."""
    from milan_telecom_etl__spark.operators.dedup import (
        incremental_near_dups,
        lsh_verified_pairs,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    rows = incremental_near_dups(docs, new_max_id=100).collect()
    assert rows, "planted dups should produce at least one probe hit"
    full = {
        (r["doc_a"], r["doc_b"]) for r in lsh_verified_pairs(docs).collect()
    }
    for r in rows:
        assert r["new_doc"] < 100
        assert r["in_index"] == (r["dup_of"] >= 100)
        if not r["in_index"]:
            assert r["dup_of"] < r["new_doc"]
            assert (min(r["dup_of"], r["new_doc"]), max(r["dup_of"], r["new_doc"])) in full
        assert r["jaccard"] >= 0.5


def test_gopher_flags_consistency(spark):
    """passes == AND of the individual flags; flags are total (no
    nulls); every gate except the stop-word one accepts part of the
    corpus. The stop-word gate (>= 2 distinct of the/be/to/of/and/
    that/have/with) rejects the ENTIRE synthetic corpus — its
    generator vocabulary contains only 'the' — which is the rule
    doing its job on non-natural text, not a bug; crafted natural
    text below proves the gate opens."""
    from milan_telecom_etl__spark.registry_quality import q_gopher_quality_flags

    rows = q_gopher_quality_flags(spark, "/root/testdata/sf0.001").collect()
    assert rows
    gates = [
        "word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
        "bullet_ok", "ellipsis_ok", "alpha_ok", "stopword_ok",
    ]
    for r in rows:
        flags = [r[g] for g in gates]
        assert all(f is not None for f in flags)
        assert r["passes"] == all(flags)
    for g in gates[:-1]:
        assert any(r[g] for r in rows), f"{g} rejects the whole corpus"
    assert not any(r["stopword_ok"] for r in rows)


def test_gopher_passes_on_natural_text(spark):
    """A crafted natural-English doc clears every gate; degenerate
    shapes trip exactly their gate."""
    from milan_telecom_etl__spark.registry_quality import q_gopher_quality_flags
    from milan_telecom_etl__spark.queries_registry import QUERIES

    natural = (
        "The study of distributed systems continues to be one of the "
        "richest areas that engineers have worked with over the years. "
        "Researchers continue to refine the models and tools that teams "
        "rely on, and the results of that work have shaped how modern "
        "platforms scale with demand across many regions of the world."
    )
    bullets = "\n".join("- item " + "word " * 9 for _ in range(10))
    rows = [(0, natural), (1, bullets)]
    import tempfile, os
    d = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r for r in QUERIES["gopher_quality_flags"](spark, d).collect()}
    assert got[0]["stopword_ok"] and got[0]["passes"]
    assert not got[1]["bullet_ok"] and not got[1]["passes"]


def test_knn_filtered_respects_predicate_and_recalls(spark):
    """Every neighbor satisfies the predicate; recall vs the exact
    filtered brute force stays usable (the pre-filter sizing claim)."""
    from milan_telecom_etl__spark.operators.similarity import (
        cosine_knn_bruteforce,
        cosine_knn_filtered,
    )

    emb = load_table(spark, SF, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    # predicate leg: the registry label (3) — no query carries it at
    # this SF, exactly the selective-filter shape
    got = cosine_knn_filtered(emb, F.col("label") == 3).collect()
    assert got
    for r in got:
        assert labels[r["neighbor_id"]] == 3
    # recall leg: a label a query vector actually carries (vec_id 1 has
    # label 0 at sf0.01), so the exact filtered twin is non-empty —
    # the old label-3 comparison was silently vacuous (ADVICE r7)
    recall_label = labels[1]
    got0 = cosine_knn_filtered(emb, F.col("label") == recall_label).collect()
    for r in got0:
        assert labels[r["neighbor_id"]] == recall_label
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_knn_bruteforce(
            emb.filter(F.col("label") == recall_label)
        ).collect()
        if r["query_id"] < 5
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in got0
        if labels[r["query_id"]] == recall_label
    }
    assert exact, "recall-leg label must yield at least one query < 5"
    shared_q = {q for q, _ in exact} & {q for q, _ in approx}
    ex = {(q, n) for q, n in exact if q in shared_q}
    assert ex, "exact and approx must share query ids — recall check was vacuous"
    ap = {(q, n) for q, n in approx if q in shared_q}
    assert len(ex & ap) / len(ex) >= 0.5


def test_temperature_mixing_flattens_the_distribution(spark):
    """alpha < 1 must up-weight tail sources and down-weight head
    sources relative to proportional sampling; weights sum to ~1;
    upsampled flags exactly the sources whose weight exceeds their
    token share."""
    from milan_telecom_etl__spark.registry_sampling import q_temperature_mixing

    rows = q_temperature_mixing(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) >= 2
    total_tokens = sum(r["n_tokens"] for r in rows)
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        share = r["n_tokens"] / total_tokens
        assert r["upsampled"] == (r["weight"] > share + 1e-12) or abs(r["weight"] - share) < 1e-6
    smallest = min(rows, key=lambda r: r["n_tokens"])
    biggest = max(rows, key=lambda r: r["n_tokens"])
    if smallest["n_tokens"] != biggest["n_tokens"]:
        assert smallest["weight"] / (smallest["n_tokens"] / total_tokens) > 1
        assert biggest["weight"] / (biggest["n_tokens"] / total_tokens) < 1


def test_incremental_probe_against_persisted_index(spark, tmp_path):
    """The standing-index story end-to-end: the banded MinHash index
    written to parquet and read back yields EXACTLY the candidates the
    in-query banding computes — signatures are hash-deterministic, so
    an index built yesterday probes identically today (what makes the
    incremental path a storable artifact, not a per-run recompute)."""
    from pyspark.sql import functions as F

    from milan_telecom_etl__spark.operators.dedup import minhash_banded

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    idx_path = str(tmp_path / "banded_index")
    minhash_banded(docs.filter(F.col("doc_id") >= 100)).write.parquet(idx_path)
    stored = spark.read.parquet(idx_path)
    probe = minhash_banded(docs.filter(F.col("doc_id") < 100)).select(
        F.col("doc_id").alias("new_doc"), "band_id", "band_hash"
    )
    via_store = {
        (r["new_doc"], r["doc_id"])
        for r in stored.join(probe, ["band_id", "band_hash"]).select("new_doc", "doc_id").distinct().collect()
    }
    live = minhash_banded(docs)
    via_live = {
        (r["new_doc"], r["doc_id"])
        for r in live.filter(F.col("doc_id") >= 100)
        .join(
            live.filter(F.col("doc_id") < 100).select(
                F.col("doc_id").alias("new_doc"), "band_id", "band_hash"
            ),
            ["band_id", "band_hash"],
        )
        .select("new_doc", "doc_id")
        .distinct()
        .collect()
    }
    assert via_store == via_live and via_store


def test_html_strip_crafted_markup(spark):
    """Block excision (case-insensitive, multi-line, attrs), comment
    removal, tag drop without word-fusing, single-level entity decode,
    whitespace collapse, and the text-density heavy flag."""
    from milan_telecom_etl__spark.operators.text import html_strip

    rows = [
        (0, "<p>plain &amp; simple</p>"),
        (1, "<SCRIPT>var s = '<div>not text</div>';\nalert(1);</SCRIPT>body text"),
        (2, "<style type=text/css>\n.nav { color: red; }\n</style>kept"),
        (3, "<!-- multi\nline comment -->after<div>x</div>y"),
        (4, "a&amp;lt;b &nbsp; c&#39;d &quot;q&quot;"),
        (5, "<div><div><div>deep</div></div></div>"),
        (6, "word<br>break   and\t\nspace"),
        (7, "<script src='x.js'></script><style></style>only chrome<hr/>"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r["doc_id"]: r for r in html_strip(docs).collect()}
    assert got[0]["text"] == "plain & simple"
    assert got[1]["text"] == "body text"        # script content + quotes gone
    assert got[2]["text"] == "kept"             # style block, attrs, newlines
    assert got[3]["text"] == "after x y"        # comment gone, tags -> spaces
    assert got[4]["text"] == 'a&lt;b c\'d "q"'  # ONE decode level: &amp;lt; -> &lt;
    assert got[5]["text"] == "deep"
    assert got[6]["text"] == "word break and space"
    assert got[7]["text"] == "only chrome"
    for r in got.values():
        assert r["raw_len"] >= r["text_len"]
        expected_ratio = round(1.0 - r["text_len"] / r["raw_len"], 6)
        assert abs(r["boilerplate_ratio"] - expected_ratio) < 1e-9
        assert r["boilerplate_heavy"] == (r["boilerplate_ratio"] > 0.7)
    assert got[7]["boilerplate_heavy"] and not got[0]["boilerplate_heavy"]


def test_minhash_projection_matches_explode_groupby_reference(spark):
    """The r8 shuffle-free signature fold (`_minhash_sig_arr`: one
    params Literal + aggregate/zip_with/least over the shingle array)
    must be bit-identical to the former explode+groupBy shape — the
    shape every DuckDB oracle still computes. Same docs kept, same
    mh_* values, same banded (band_id, band_hash) rows, at both the
    legacy 16/2 and the sharp-default 64/4 layouts."""
    from milan_telecom_etl__spark.operators.dedup import (
        MERSENNE_31,
        _hash_params,
        _md5_int60,
        _words_df,
        minhash_banded,
        minhash_signatures,
        shingles_of,
    )

    docs = load_table(spark, SF, "documents")
    for num_hashes, band_size in [(16, 2), (64, 4)]:
        w = _words_df(docs)
        ref_sig = (
            w.select(
                "doc_id",
                F.explode(shingles_of(F.col("__words"), 3)).alias("shingle"),
            )
            .withColumn("x", _md5_int60(F.col("shingle")) % F.lit(MERSENNE_31))
            .groupBy("doc_id")
            .agg(
                *[
                    F.min(
                        (F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MERSENNE_31)
                    ).alias(f"mh_{i}")
                    for i, (a, b) in enumerate(_hash_params(num_hashes))
                ]
            )
        )
        new_sig = minhash_signatures(docs, num_hashes=num_hashes)
        assert new_sig.count() == ref_sig.count() > 0
        assert new_sig.exceptAll(ref_sig).count() == 0
        assert ref_sig.exceptAll(new_sig).count() == 0

        n_bands = num_hashes // band_size
        ref_banded = ref_sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band_id"),
                            F.md5(
                                F.concat_ws(
                                    ",",
                                    *[
                                        F.col(f"mh_{bi * band_size + j}").cast("string")
                                        for j in range(band_size)
                                    ],
                                )
                            ).alias("band_hash"),
                        )
                        for bi in range(n_bands)
                    ]
                )
            ).alias("band"),
        ).select("doc_id", "band.band_id", "band.band_hash")
        new_banded = minhash_banded(docs, num_hashes=num_hashes, band_size=band_size)
        assert new_banded.exceptAll(ref_banded).count() == 0
        assert ref_banded.exceptAll(new_banded).count() == 0


def test_simhash_projection_matches_explode_groupby_reference(spark):
    """The r8 shuffle-free simhash vote fold must be bit-identical to
    the former explode+groupBy majority vote (the DuckDB oracle's
    shape): same docs kept, same signatures, at the pinned 32-bit and
    the auto-variant's widest 60-bit layout. Duplicates must count —
    the fold runs over the raw words array, not a distinct set."""
    from milan_telecom_etl__spark.operators.dedup import (
        _md5_int60,
        _words_df,
        simhash,
    )

    docs = load_table(spark, SF, "documents")
    for bits in (32, 60):
        tok = _words_df(docs).select(
            "doc_id", F.explode(F.col("__words")).alias("w")
        ).withColumn("h", _md5_int60(F.col("w")))
        votes = [
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v_{b}")
            for b in range(bits)
        ]
        per_doc = tok.groupBy("doc_id").agg(*votes)
        sig = None
        for b in range(bits):
            term = F.when(
                F.col(f"v_{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
            sig = term if sig is None else sig + term
        ref = per_doc.select("doc_id", sig.alias("simhash"))
        new = simhash(docs, bits=bits)
        assert new.count() == ref.count() > 0
        assert new.exceptAll(ref).count() == 0
        assert ref.exceptAll(new).count() == 0


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """A raw-pool doc made of target-domain tokens must outweigh a
    raw-pool doc made of pool-only tokens, weights exist ONLY for the
    raw pool, and dsir_topk orders by (weight desc, doc_id)."""
    from milan_telecom_etl__spark.operators.selection import dsir_topk, dsir_weights

    rows = (
        # target domain: source src0, vocabulary {alpha, beta}
        [(i, "alpha beta alpha beta alpha", "src0") for i in range(4)]
        # raw pool: doc 10 looks like the target, docs 11-12 do not
        + [(10, "alpha beta alpha beta alpha", "src1")]
        + [(11, "zeta eta theta zeta eta", "src1"), (12, "zeta eta zeta eta theta", "src2")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    w = {r["doc_id"]: r["weight"] for r in dsir_weights(docs).collect()}
    assert set(w) == {10, 11, 12}, "weights must cover exactly the raw pool"
    assert w[10] > w[11] and w[10] > w[12]
    top = dsir_topk(docs, k=2).collect()
    assert [r["doc_id"] for r in top] == sorted(
        w, key=lambda d: (-w[d], d)
    )[:2]


def test_bm25_tf_and_length_normalization(spark):
    """With one query term: higher tf wins at equal length; at equal tf
    the shorter doc wins (dl normalization); rk is dense from 1."""
    from milan_telecom_etl__spark.operators.selection import bm25_topk

    rows = [
        (0, "apple apple apple pear pear pear pear pear"),  # tf=3, dl=8
        (1, "apple pear pear pear pear pear pear pear"),    # tf=1, dl=8
        (2, "apple pear"),                                   # tf=1, dl=2
        (3, "pear pear pear pear pear pear pear pear"),      # tf=0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(docs, n_query_terms=1, k=10).collect()
    assert all(r["term"] == "pear" for r in out)  # pear has df=4 > apple df=3
    out = bm25_topk(docs, n_query_terms=2, k=10).collect()
    apple = {r["doc_id"]: (r["score"], r["rk"]) for r in out if r["term"] == "apple"}
    assert set(apple) == {0, 1, 2}, "no zero-tf rows"
    assert apple[0][0] > apple[1][0], "tf=3 beats tf=1 at equal dl"
    assert apple[2][0] > apple[1][0], "shorter doc beats longer at equal tf"
    assert sorted(rk for _, rk in apple.values()) == [1, 2, 3]


def test_index_compaction_partitions_corpus(spark):
    """Statuses partition the corpus: index docs are kept, batch docs
    split into inserted/dropped exactly along incremental_near_dups's
    verified drop list."""
    from milan_telecom_etl__spark.operators.dedup import (
        incremental_near_dups,
        index_compaction,
    )

    docs = load_table(spark, SF, "documents")
    out = index_compaction(docs, new_max_id=100)
    by_status = {
        r["status"]: r["n"]
        for r in out.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_docs = docs.count()
    n_batch = docs.filter(F.col("doc_id") < 100).count()
    assert sum(by_status.values()) == n_docs
    assert by_status.get("kept_index", 0) == n_docs - n_batch
    dropped = {
        r["new_doc"]
        for r in incremental_near_dups(docs, new_max_id=100)
        .select("new_doc")
        .distinct()
        .collect()
    }
    assert by_status.get("dropped_dup", 0) == len(dropped) > 0
    got_dropped = {
        r["doc_id"] for r in out.filter(F.col("status") == "dropped_dup").collect()
    }
    assert got_dropped == dropped


def test_perplexity_buckets_per_source_tertiles(spark):
    """Within each source, ntile(3) buckets are balanced (sizes differ
    by at most 1) and the repeated-common-bigram doc outranks the
    unique-bigram doc (head vs tail)."""
    from milan_telecom_etl__spark.registry_text import q_perplexity_buckets

    out = q_perplexity_buckets(spark, SF).persist()
    sizes = (
        out.groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_src: dict = {}
    for r in sizes:
        per_src.setdefault(r["source"], {})[r["bucket"]] = r["n"]
    assert per_src, "no sources bucketed"
    for src, b in per_src.items():
        assert set(b) == {"head", "middle", "tail"}, f"{src}: {b}"
        assert max(b.values()) - min(b.values()) <= 1, f"{src}: {b}"
    # head docs are better LM fits than tail docs within every source
    stats = (
        out.groupBy("source", "bucket")
        .agg(F.min("avg_logprob").alias("lo"), F.max("avg_logprob").alias("hi"))
        .collect()
    )
    by = {(r["source"], r["bucket"]): r for r in stats}
    for src in per_src:
        assert by[(src, "head")]["lo"] >= by[(src, "tail")]["hi"]
    out.unpersist()


def test_knn_ivf_pq_consistent_with_pq_adc(spark):
    """IVF-PQ is PQ-ADC restricted to the probed cells' inverted lists:
    any (query, neighbor) pair both tiers emit must carry the IDENTICAL
    quantized ADC distance, ranks are dense per query, and every query
    returns rows (the probed cells are never empty at this SF)."""
    from milan_telecom_etl__spark.registry_similarity import (
        q_knn_ivf_pq,
        q_knn_pq_adc,
    )

    ivfpq = q_knn_ivf_pq(spark, SF).collect()
    pq = {(r["query_id"], r["neighbor_id"]): r["dist_pq"] for r in q_knn_pq_adc(spark, SF).collect()}
    assert ivfpq, "ivf_pq returned no rows"
    by_q: dict = {}
    overlap = 0
    for r in ivfpq:
        by_q.setdefault(r["query_id"], []).append(r["rk"])
        key = (r["query_id"], r["neighbor_id"])
        if key in pq:
            overlap += 1
            assert r["dist_pq"] == pq[key], f"ADC distance drift at {key}"
    assert overlap > 0, "no shared pairs with the full-corpus PQ tier"
    for q, rks in by_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), f"q{q}: {rks}"
        assert len(rks) <= 5


def test_containment_catches_doc_in_doc(spark):
    """A doc fully embedded in a longer doc scores containment 1.0 on
    the small side even though Jaccard is well below it."""
    from milan_telecom_etl__spark.operators.dedup import (
        containment_pairs,
        lsh_verified_pairs,
    )

    # 30 distinct words -> 28 distinct shingles; the wrapper adds 8
    # words (~9 shingles), keeping Jaccard ~0.76 so the sharp 64/4
    # bands still collide (J^4 per band), while containment_a = 1.0.
    base = " ".join(f"w{i}" for i in range(30))
    wrapper = base + " " + " ".join(f"x{i}" for i in range(8))
    rows = [(0, base), (1, wrapper), (2, "totally different words entirely here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r for r in containment_pairs(docs, threshold=0.8).collect()}
    assert (0, 1) in out, f"embedded pair not found: {out}"
    r = out[(0, 1)]
    assert r["containment_a"] == 1.0, "small side fully covered"
    jac = {(x["doc_a"], x["doc_b"]): x["jaccard"] for x in lsh_verified_pairs(docs, threshold=0.0).collect()}
    assert jac[(0, 1)] < r["containment_a"], "containment must exceed Jaccard on size-skewed pairs"
    assert (0, 2) not in out and (1, 2) not in out


def test_streaming_dsir_scores_every_batch_doc(spark):
    """The frozen-model stream scoring is a pure projection: exactly
    one finite weight per arriving doc, none dropped or duplicated."""
    from milan_telecom_etl__spark.registry_streaming import q_streaming_dsir_batch

    out = q_streaming_dsir_batch(spark, SF).collect()
    docs = load_table(spark, SF, "documents")
    n_batch = docs.filter((F.col("doc_id") < 100) & F.col("text").isNotNull()).count()
    assert len(out) == n_batch > 0
    assert len({r["doc_id"] for r in out}) == len(out)
    assert all(r["weight"] is not None for r in out)


def _write_docs_dir(spark, rows):
    import os
    import tempfile

    d = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    return d


def test_c4_line_filter_rules(spark):
    """Crafted docs: every surviving line ends in terminal punctuation,
    has >= 5 words, and carries none of the lorem/javascript/brace
    markers; chrome lines are always excised; the >=3-line doc gate
    trips on short docs."""
    from milan_telecom_etl__spark.operators.text import (
        C4_MIN_KEPT_LINES,
        c4_line_filter,
    )

    long_text = " ".join(f"token{i} word{i} item{i} unit{i}" for i in range(15))
    rows = [(21, long_text), (4, "too short to survive")]
    d = _write_docs_dir(spark, rows)
    docs = spark.read.parquet(d + "/documents.parquet")
    got = {r["doc_id"]: r for r in c4_line_filter(docs).collect()}

    big = got[21]
    # 60 words -> 5 chunks; doc 21: 2 chrome + 5 chunks + lorem + footer
    assert big["n_lines"] == 9
    kept_lines = big["clean_text"].split("\n")
    assert big["n_kept"] == len(kept_lines)
    for ln in kept_lines:
        assert ln[-1] in '.!?"'
        assert len(ln.split(" ")) >= 5
        low = ln.lower()
        assert "lorem ipsum" not in low
        assert "javascript" not in low and "{" not in ln
    # doc 21 chunks i with (21+i)%3==0 lose their punctuation: i=0,3
    assert big["n_kept"] == 3 and big["doc_pass"]

    small = got[4]
    assert small["n_kept"] < C4_MIN_KEPT_LINES and not small["doc_pass"]


def test_boilerplate_line_purge_cross_doc(spark):
    """Chrome lines (present in every doc) and a content line repeated
    across >= 3 docs are purged corpus-wide; unique lines survive in
    original order. Punctuation parity differs per doc_id, so matching
    must happen on the NORMALIZED line."""
    from milan_telecom_etl__spark.operators.text import (
        boilerplate_line_purge,
    )

    shared = " ".join(["common"] * 12)  # one full chunk, identical in 3 docs
    rows = [(i, shared + " " + " ".join(f"uniq{i}w{j}" for j in range(12)))
            for i in range(3)]
    rows += [(10 + i, " ".join(f"solo{i}x{j}" for j in range(24))) for i in range(4)]
    d = _write_docs_dir(spark, rows)
    docs = spark.read.parquet(d + "/documents.parquet")
    got = {r["doc_id"]: r for r in boilerplate_line_purge(docs).collect()}
    assert len(got) == 7

    for i in range(3):
        r = got[i]
        # 2 chrome + 2 chunks + footer (+ lorem for doc 0)
        assert r["n_lines"] == (6 if i == 0 else 5)
        # chrome (nav/js/footer in all 7 docs) + the shared chunk purged;
        # doc 0's lorem line is in only ONE doc here, so it SURVIVES —
        # cross-doc frequency, not content, drives this operator
        assert r["n_boiler"] == 4
        kept = r["clean_text"].split("\n")
        assert kept[0].startswith(f"uniq{i}")
        if i == 0:
            assert len(kept) == 2 and kept[1].startswith("Lorem ipsum")
        else:
            assert len(kept) == 1
    for i in range(4):
        r = got[10 + i]
        kept = r["clean_text"].split("\n")
        assert r["n_boiler"] == 3 and len(kept) == 2
        assert kept[0].startswith(f"solo{i}x0") and kept[1].startswith(f"solo{i}x12")


def test_pii_density_typed_counts(spark):
    """Crafted ids hit known pattern classes: doc 0 trips all four
    synthesis rules (email/phone/ip/card), doc 1 none, doc 3 email
    only — the per-source profile must count each class exactly."""
    import os
    import tempfile

    import __spark_entry__ as entrymod

    QUERIES = entrymod.queries()
    rows = [
        (0, "alpha beta gamma", "s0"),
        (1, "delta epsilon", "s1"),
        (3, "zeta eta theta", "s1"),
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r["source"]: r for r in QUERIES["pii_density"](spark, d).collect()}
    s0, s1 = got["s0"], got["s1"]
    assert (s0["n_emails"], s0["n_phones"], s0["n_ips"], s0["n_cards"]) == (1, 1, 1, 1)
    assert s0["docs_with_pii"] == 1 and s0["n_docs"] == 1
    assert (s1["n_emails"], s1["n_phones"], s1["n_ips"], s1["n_cards"]) == (1, 0, 0, 0)
    assert s1["docs_with_pii"] == 1 and s1["n_docs"] == 2
    assert s1["pii_per_10kchars"] > 0


def test_rrf_fusion_properties(spark):
    """Fusion invariants on the real corpus: every emitted row was
    retrieved by at least one leg; rrf_score reproduces the
    Σ 1/(60+rank) formula from the emitted leg ranks; per-probe ranks
    are 1..k with scores non-increasing."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["rrf_hybrid_retrieval"](spark, SF).collect()
    assert {r["probe_id"] for r in rows} == {1, 3, 5}
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
        assert r["lex_rk"] > 0 or r["dense_rk"] > 0
        want = (1.0 / (60 + r["lex_rk"]) if r["lex_rk"] else 0.0) + (
            1.0 / (60 + r["dense_rk"]) if r["dense_rk"] else 0.0
        )
        assert abs(r["rrf_score"] - round(want, 6)) < 1e-9
    for rs in by_probe.values():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["rrf_score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        # fusion actually mixes: at least one row retrieved by both legs
        assert any(r["lex_rk"] > 0 and r["dense_rk"] > 0 for r in rs)


def test_gopher_repetition_consistency(spark):
    """passes == AND of all repetition flags; flags are total; the
    synthetic corpus exercises the top-n-gram gates (templated text is
    exactly the 2/3/4-gram repetition Gopher targets) while the
    duplicate-line and duplicate-5..10-gram gates stay open (crafted
    docs below close them)."""
    from milan_telecom_etl__spark.registry_quality import q_gopher_repetition_flags

    rows = q_gopher_repetition_flags(spark, "/root/testdata/sf0.001").collect()
    assert rows
    gates = (
        ["dup_line_ok", "dup_line_char_ok"]
        + [f"top{n}_ok" for n in (2, 3, 4)]
        + [f"dup{n}_ok" for n in range(5, 11)]
    )
    for r in rows:
        flags = [r[g] for g in gates]
        assert all(f is not None for f in flags)
        assert r["passes"] == all(flags)
        assert (r["dup_line_chars"] > 0) == (r["n_dup_lines"] > 0)
        assert r["total_chars"] > 0
    assert any(not r["top4_ok"] for r in rows), "templated corpus should trip top4"
    for g in ["dup_line_ok"] + [f"dup{n}_ok" for n in range(5, 11)]:
        assert all(r[g] for r in rows), f"{g} unexpectedly closed on the corpus"


def test_gopher_repetition_crafted(spark):
    """A word repeated wall-to-wall trips every n-gram gate; a doc
    whose 12-word chunks are identical trips the duplicate-line gates;
    varied natural text passes everything."""
    import os
    import tempfile

    from milan_telecom_etl__spark.queries_registry import QUERIES

    natural = (
        "The quick brown fox jumps over one lazy dog while seventeen "
        "other animals watch from behind the old wooden fence near the "
        "river bank and wonder what strange business brings everyone "
        "together on such a bright cold morning in early spring weather"
    )
    spam = " ".join(["spam"] * 200)
    # doc 2: every 12-word chunk identical -> synthesized lines repeat
    # (punctuation rule only yields two variants, so 12 chunks -> >=10
    # redundant lines out of 15)
    chunk = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    repeated_lines = " ".join([chunk] * 12)
    rows = [(0, natural), (1, spam), (2, repeated_lines)]
    d = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r for r in QUERIES["gopher_repetition_flags"](spark, d).collect()}

    assert got[0]["passes"], "varied natural text must clear every gate"
    for n in (2, 3, 4):
        assert not got[1][f"top{n}_ok"], f"all-spam doc must trip top{n}"
    for n in range(5, 11):
        assert not got[1][f"dup{n}_ok"], f"all-spam doc must trip dup{n}"
    assert not got[1]["passes"]
    assert not got[2]["dup_line_ok"], "identical chunks must trip the line gate"
    assert not got[2]["dup_line_char_ok"]
    assert got[2]["n_dup_lines"] >= 10 - 1  # 12 chunks, 2 punctuation variants


def test_repetition_arrow_hof_identical_nonascii_ws(spark):
    """The Arrow kernel and the HOF chain must produce IDENTICAL stat
    rows on text containing non-ASCII whitespace (\\xa0, \\u2028,
    ideographic space): the JVM regex \\s and DuckDB's RE2 \\s are
    ASCII-only, so the Python kernel tokenizes with re.ASCII to match
    (ADVICE r9 #3 — Unicode \\s would split on \\xa0 and silently
    diverge the two 'identical values' implementations, which the
    ASCII-only synthetic corpus never exercised)."""
    from milan_telecom_etl__spark.registry_quality import (
        gopher_repetition_flag_frame,
    )

    rows = [
        (0, "alpha\xa0beta gamma\xa0beta alpha\xa0beta delta"),
        (1, "one two three two one two four five six"),
        (2, "x　y " * 40),
        (3, "plain ascii words repeated words repeated words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hof = sorted(
        gopher_repetition_flag_frame(docs, use_arrow=False).collect(),
        key=lambda r: r["doc_id"],
    )
    arrow = sorted(
        gopher_repetition_flag_frame(docs, use_arrow=True).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [r.asDict() for r in hof] == [r.asDict() for r in arrow]


def test_bpe_train_early_break_keeps_vocab_persisted(spark):
    """When the corpus exhausts its merge pairs before k rounds (every
    word down to one symbol), the early-break path must NOT unpersist
    the final vocabulary it returns — the documented contract is a
    PERSISTED frame, and stripping the cache makes every caller
    recompute the whole merge chain per collect (ADVICE r9 #4)."""
    from milan_telecom_etl__spark.operators.text import _bpe_train

    # one 2-char word -> pairs exhaust after 2 merges; k=8 forces the
    # no-pairs break on round 3
    docs = spark.createDataFrame([(0, "ab ab ab")], "doc_id long, text string")
    merges, vocab = _bpe_train(docs, k=8)
    try:
        assert len(merges) < 8, "corpus must exhaust before k rounds"
        assert vocab.is_cached, "early break unpersisted the returned vocab"
        assert vocab.count() == 1
    finally:
        vocab.unpersist()


def test_hard_negatives_semantics(spark):
    """Negatives never share the query's label; ranks are dense per
    query; pos_best equals the exact best same-label cosine; margin
    can be negative (that's the point of mining)."""
    from milan_telecom_etl__spark.operators.similarity import (
        cosine_knn_bruteforce,
        hard_negatives,
    )

    emb = load_table(spark, SF, "embeddings")
    rows = hard_negatives(emb).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r["neg_label"] != r["query_label"]
        assert r["margin"] is not None
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rks = sorted(r["rk"] for r in rs)
        assert rks == list(range(1, len(rks) + 1))
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rk"])]
        assert sims == sorted(sims, reverse=True)
    # pos_best cross-check against the unrestricted exact top-k scorer:
    # the best same-label cosine among ALL neighbors
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    exact = cosine_knn_bruteforce(emb, n_queries=8, k=10**6).collect()
    best_pos = {}
    for r in exact:
        if labels[r["neighbor_id"]] == labels[r["query_id"]]:
            cur = best_pos.get(r["query_id"])
            if cur is None or r["cos_sim"] > cur:
                best_pos[r["query_id"]] = r["cos_sim"]
    for r in rows:
        assert abs(r["pos_best"] - best_pos[r["query_id"]]) < 1e-9


def test_bpe_merge_candidates_semantics(spark):
    """Rank 1 is the corpus's most frequent adjacent pair; counts are
    non-increasing by rank; every word contributes exactly one
    end-of-word pair (sum of </w>-pair counts == total word count)."""
    import os
    import tempfile

    from milan_telecom_etl__spark.queries_registry import QUERIES

    from milan_telecom_etl__spark import registry_text  # noqa: F401 (registers)

    rows = [(0, "low low low lower lowest"), (1, "low lower newest newest")]
    d = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    got = QUERIES["bpe_merge_candidates"](spark, d).collect()
    counts = {(r["left_sym"], r["right_sym"]): r["pair_count"] for r in got}
    # 9 words total: low x4, lower x2, lowest x1, newest x2
    assert counts[("l", "o")] == 7  # low + lower + lowest
    assert counts[("o", "w")] == 7
    assert counts[("w", "</w>")] == 4  # exactly the four bare 'low'
    assert counts[("e", "s")] == 3  # lowest + newest x2
    ordered = sorted(got, key=lambda r: r["merge_rank"])
    pcs = [r["pair_count"] for r in ordered]
    assert pcs == sorted(pcs, reverse=True)
    eow_total = sum(v for (a, b), v in counts.items() if b == "</w>")
    assert eow_total == 9


def test_url_filter_flags_rules(spark):
    """Blocklist hits exactly the site3/8/21 hosts; keyword rule fires
    on the injected residues; allowed == neither rule fired."""
    from milan_telecom_etl__spark import registry_quality  # noqa: F401 (registers)
    from milan_telecom_etl__spark.queries_registry import QUERIES

    rows = QUERIES["url_filter_flags"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        host = r["domain"].split(".")[0]
        assert r["blocked_domain"] == (host in ("site3", "site8", "site21"))
        assert r["url"].startswith("https://" + r["domain"] + "/")
        if r["doc_id"] % 13 == 0 or r["doc_id"] % 17 == 0:
            assert r["keyword_hit"], r["url"]
        assert r["allowed"] == (not r["blocked_domain"] and not r["keyword_hit"])
    assert any(r["blocked_domain"] for r in rows)
    assert any(r["keyword_hit"] for r in rows)
    assert any(r["allowed"] for r in rows)


def test_t5_span_corruption_reconstructs(spark):
    """The denoising-objective contract: splicing each target span
    back over its sentinel in the input reconstructs the original
    text exactly; corruption budget ~15% in 3-token spans; short docs
    pass through uncorrupted."""
    import re

    from milan_telecom_etl__spark import registry_text  # noqa: F401 (registers)
    from milan_telecom_etl__spark.queries_registry import QUERIES

    docs = {r["doc_id"]: r["text"] for r in
            load_table(spark, SF, "documents").collect()}
    rows = QUERIES["t5_span_corruption"](spark, SF).collect()
    assert rows
    for r in rows:
        orig = docs[r["doc_id"]]
        if r["n_spans"] == 0:
            assert r["input_text"] == orig and r["target_text"] == ""
            continue
        # parse target: <extra_id_k> span tokens ... <extra_id_ns>
        parts = re.split(r"<extra_id_(\d+)>", r["target_text"])
        spans = {}
        for k, chunk in zip(parts[1::2], parts[2::2]):
            spans[int(k)] = chunk.strip()
        assert int(max(spans)) == r["n_spans"] and spans[r["n_spans"]] == ""
        rebuilt = re.sub(
            r"<extra_id_(\d+)>", lambda m: spans[int(m.group(1))], r["input_text"]
        )
        assert rebuilt == orig, r["doc_id"]
        n_masked = sum(len(s.split()) for k, s in spans.items() if k < r["n_spans"])
        assert n_masked == 3 * r["n_spans"]
        assert n_masked <= max(3, int(r["n_words"] * 0.15) + 3)


def test_bitext_mining_contract(spark):
    """One best target per source, sides are label-parity-disjoint,
    every kept pair clears the cosine floor and the margin bar."""
    from milan_telecom_etl__spark.operators.similarity import bitext_margin_mining

    emb = load_table(spark, SF, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = bitext_margin_mining(emb).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["src_id"] not in seen
        seen.add(r["src_id"])
        assert labels[r["src_id"]] % 2 == 0
        assert labels[r["tgt_id"]] % 2 == 1
        assert r["cos_sim"] >= 0.1
        assert r["margin"] >= 1.05


def test_mmr_rerank_diversifies(spark):
    """Step 1 is the raw-relevance argmax; every later pick scores
    mmr <= its predecessor... no — mmr need not be monotone, but each
    pick must (a) come from the query's top-20 pool, (b) never repeat,
    and (c) beat every unpicked pool candidate on the SAME step's mmr
    — verified by recomputing the greedy selection in numpy."""
    import numpy as np

    from milan_telecom_etl__spark.operators.similarity import mmr_rerank

    emb = load_table(spark, SF, "embeddings")
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    rows = mmr_rerank(emb).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["step"])
        assert [r["step"] for r in rs] == [1, 2, 3, 4, 5]
        qv = vecs[qid]
        rel = {d: cos(qv, v) for d, v in vecs.items() if d != qid}
        pool = sorted(rel, key=lambda d: (-rel[d], d))[:20]
        picked = []
        for r in rs:
            assert r["doc_id"] in pool and r["doc_id"] not in picked
            if picked:
                best, best_key = None, None
                for d in pool:
                    if d in picked:
                        continue
                    pen = max(cos(vecs[d], vecs[s]) for s in picked)
                    key = (-round((7 * rel[d] - 3 * pen) / 10.0, 6), d)
                    if best_key is None or key < best_key:
                        best, best_key = d, key
                assert r["doc_id"] == best, (qid, r["step"])
            else:
                assert r["doc_id"] == pool[0]
            picked.append(r["doc_id"])


def test_quality_linear_probe_learns_separable_data(spark):
    """On a corpus where the curated sources genuinely differ in
    lexical diversity, the one-pass OLS probe must recover the split
    (accuracy >= 0.9) and match a numpy lstsq fit on the same
    features; on any corpus the coefficients satisfy the normal
    equations exactly at 9dp."""
    import os
    import tempfile

    import numpy as np

    from milan_telecom_etl__spark import registry_quality  # noqa: F401 (registers)
    from milan_telecom_etl__spark.queries_registry import QUERIES

    rows = []
    for i in range(80):
        curated = i % 2 == 0
        src = f"src{0 if curated else 9}"
        n = 30 + (i * 7) % 23  # vary word count so the Gram is full-rank
        if curated:  # varied text -> high diversity
            text = " ".join(f"word{i}x{j}" for j in range(n))
        else:  # repetitive low-diversity text
            text = " ".join(["spam", "eggs"] * (n // 2) + ["spam"] * (n % 2))
        rows.append((i, text, "en", src, len(text)))
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = QUERIES["quality_linear_probe"](spark, d).collect()
    assert got
    acc = sum((r["predicted"]) == (r["y"] == 1) for r in got) / len(got)
    assert acc >= 0.9, acc
    # numpy differential on the identical integer features
    X = np.array([[1.0, r["x1"], r["x2"]] for r in got])
    Y = np.array([float(r["y"]) for r in got])
    beta = np.linalg.lstsq(X, Y, rcond=None)[0]
    assert abs(got[0]["b0"] - beta[0]) < 1e-6
    assert abs(got[0]["b1"] - beta[1]) < 1e-6
    assert abs(got[0]["b2"] - beta[2]) < 1e-6


def test_curation_funnel_monotone(spark):
    """Eight stages in order, counts monotonically non-increasing,
    stage 1 equals the corpus size, pct consistent with n_docs."""
    from milan_telecom_etl__spark import registry_quality  # noqa: F401 (registers)
    from milan_telecom_etl__spark.queries_registry import QUERIES

    rows = sorted(
        QUERIES["curation_funnel"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["stage_idx"],
    )
    assert [r["stage"] for r in rows] == [
        "ingest", "url_filter", "c4_lines", "gopher_quality",
        "gopher_repetition", "exact_dedup", "near_dedup", "decontamination",
    ]
    n = load_table(spark, "/root/testdata/sf0.001", "documents").count()
    assert rows[0]["n_docs"] == n and rows[0]["pct"] == 1.0
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_docs"] <= prev["n_docs"]
        assert abs(cur["pct"] - cur["n_docs"] / n) < 1e-6
    assert rows[-1]["n_docs"] > 0, "funnel should not annihilate the corpus"
    assert rows[-1]["n_docs"] < n, "funnel should drop something"


def test_k_anonymity_audit_semantics(spark):
    """k equals the true minimum group size; risky flags exactly the
    sub-threshold groups; group sizes sum to the table size."""
    from milan_telecom_etl__spark import registry_quality  # noqa: F401 (registers)
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["k_anonymity_audit"](spark, sf).collect()
    assert rows
    k = min(r["group_n"] for r in rows)
    total = load_table(spark, sf, "customer").count()
    assert sum(r["group_n"] for r in rows) == total
    for r in rows:
        assert r["k_anonymity"] == k
        assert r["risky"] == (r["group_n"] < 5)


def test_matryoshka_full_dim_recall_is_one(spark):
    """The full-width tier scores recall 1.0 against itself; every
    recall is in [0, 1]; all four tiers report for every query."""
    from milan_telecom_etl__spark import registry_similarity  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES

    rows = QUERIES["matryoshka_eval"](spark, "/root/testdata/sf0.001").collect()
    by_dim = {}
    for r in rows:
        assert 0.0 <= r["recall_at_5"] <= 1.0
        by_dim.setdefault(r["dim"], []).append(r["recall_at_5"])
    assert set(by_dim) == {8, 16, 32, 64}
    assert all(v == 1.0 for v in by_dim[64])
    assert len(set(len(v) for v in by_dim.values())) == 1


def test_embedding_health_audit_flags(spark):
    """Crafted pathologies each trip exactly their flag: a NaN vector
    and an all-zero vector are degenerate (and excluded from the
    mean), a tiny vector is low_norm, a huge one high_norm, normal
    unit vectors stay healthy."""
    import os
    import tempfile

    from milan_telecom_etl__spark import registry_similarity  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES

    dim = 8
    unit = [0.5, 0.5, 0.5, 0.5, 0.0, 0.0, 0.0, 0.0]  # norm 1
    rows = [(i, unit, 0) for i in range(10)]
    rows.append((10, [float("nan")] + [0.1] * (dim - 1), 0))
    rows.append((11, [0.0] * dim, 0))
    rows.append((12, [0.01] + [0.0] * (dim - 1), 0))  # norm 0.01 << mean/2
    rows.append((13, [9.0] + [0.0] * (dim - 1), 0))  # norm 9 >> 2*mean
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    got = {r["vec_id"]: r for r in QUERIES["embedding_health_audit"](spark, d).collect()}
    assert got[10]["degenerate"] and got[10]["n_nonfinite"] == 1
    assert got[11]["degenerate"] and got[11]["n_zero"] == dim
    assert got[12]["low_norm"] and not got[12]["degenerate"]
    assert got[13]["high_norm"] and not got[13]["degenerate"]
    for i in range(10):
        assert got[i]["healthy"], i
    for v in (10, 11, 12, 13):
        assert not got[v]["healthy"]


def test_incremental_embedding_dedup_contract(spark):
    """Probe hits are batch-side only; in_index is exactly the
    dup_of >= 100 predicate; every batch-internal hit keeps first;
    every emitted pair clears the threshold and appears in the full
    near-dup set when both ends share a bucket."""
    from milan_telecom_etl__spark.operators.similarity import (
        incremental_embedding_dedup,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    rows = incremental_embedding_dedup(emb).collect()
    assert rows, "planted near-dups should give at least one probe hit"
    for r in rows:
        assert r["new_vec"] < 100
        assert r["in_index"] == (r["dup_of"] >= 100)
        if not r["in_index"]:
            assert r["dup_of"] < r["new_vec"]
        assert r["cos_sim"] >= 0.4


def test_memorization_attribution_finds_the_source(spark):
    """The snippet's own source doc ranks first for every probe and
    dominates the runner-up; ranks are dense from 1."""
    from milan_telecom_etl__spark import registry_text  # noqa: F401 (registers)
    from milan_telecom_etl__spark.queries_registry import QUERIES

    rows = QUERIES["memorization_attribution"](spark, SF).collect()
    assert rows
    by_p = {}
    for r in rows:
        by_p.setdefault(r["probe_id"], []).append(r)
    assert set(by_p) == {1, 3, 5}
    for p, rs in by_p.items():
        rs = sorted(rs, key=lambda r: r["rk"])
        assert rs[0]["doc_id"] == p, f"probe {p} misattributed to {rs[0]['doc_id']}"
        if len(rs) > 1:
            assert rs[0]["n_shared"] > rs[1]["n_shared"]
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))


def test_content_type_profile_classes(spark):
    """All three classes present; per-source doc counts sum to the
    corpus; a crafted pure-code doc classifies code and a pipe table
    classifies table."""
    import os
    import tempfile

    from milan_telecom_etl__spark import registry_text  # noqa: F401 (registers)
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["content_type_profile"](spark, sf).collect()
    kinds = {r["content_type"] for r in rows}
    assert kinds == {"code", "table", "prose"}
    n = load_table(spark, sf, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n

    crafted = [
        (2, "x = 1; y = {2}; f(x)[y];", "en", "s", 24),  # not %11/%13: raw rules
        (7, "a | b | c | d | e | f", "en", "s", 21),
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        crafted, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r["source"], r["content_type"]): r["n_docs"]
        for r in QUERIES["content_type_profile"](spark, d).collect()
    }
    assert got.get(("s", "code")) == 1
    assert got.get(("s", "table")) == 1


def test_char_entropy_filter_semantics(spark):
    """Entropy matches an independent numpy computation to 1e-5;
    repeated-char spam trips the flag, varied text passes; a
    single-char doc scores exactly 0 bits."""
    import math
    import os
    import tempfile
    from collections import Counter

    from milan_telecom_etl__spark import registry_text  # noqa: F401 (registers)
    from milan_telecom_etl__spark.queries_registry import QUERIES

    rows = [
        (0, "The quick brown fox jumps over the lazy dog repeatedly today"),
        (1, "a" * 200),
        (2, "ababababababababababababab"),
        (3, "x"),
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r for r in QUERIES["char_entropy_filter"](spark, d).collect()}
    for i, t in rows:
        c = Counter(t)
        n = len(t)
        h = -sum(v / n * math.log2(v / n) for v in c.values())
        assert abs(got[i]["entropy_bits"] - h) < 1e-5, (i, got[i]["entropy_bits"], h)
    assert got[0]["entropy_ok"]
    assert not got[1]["entropy_ok"] and got[1]["entropy_bits"] == 0.0
    assert not got[2]["entropy_ok"] and abs(got[2]["entropy_bits"] - 1.0) < 1e-6
    assert got[3]["entropy_bits"] == 0.0


def test_quality_probe_eval_splits(spark):
    """Two rows (train/eval), counts sum to the corpus, accuracy
    consistent with n_correct/n_docs, and the split is the md5 rule."""
    from milan_telecom_etl__spark import registry_quality  # noqa: F401 (registers)
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {r["split"]: r for r in QUERIES["quality_probe_eval"](spark, sf).collect()}
    assert set(rows) == {"train", "eval"}
    n = load_table(spark, sf, "documents").count()
    assert rows["train"]["n_docs"] + rows["eval"]["n_docs"] == n
    for r in rows.values():
        assert 0 <= r["n_correct"] <= r["n_docs"]
        assert abs(r["accuracy"] - r["n_correct"] / r["n_docs"]) < 1e-6
    # the eval quarter should be roughly a quarter (md5-uniform)
    assert 0.1 < rows["eval"]["n_docs"] / n < 0.45


def test_dedup_rate_report_consistency(spark):
    """Per-source doc counts sum to the corpus; near-drop counts equal
    the distinct verified-pair drop side grouped by source; rates
    consistent with the integer columns."""
    from milan_telecom_etl__spark import registry_text  # noqa: F401 (registers)
    from milan_telecom_etl__spark.operators.dedup import lsh_verified_pairs
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    rows = QUERIES["dedup_rate_report"](spark, sf).collect()
    assert sum(r["n_docs"] for r in rows) == docs.count()
    src = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    drops = {r["doc_b"] for r in lsh_verified_pairs(docs, threshold=0.5)
             .select("doc_b").distinct().collect()}
    per_src = {}
    for d in drops:
        per_src[src[d]] = per_src.get(src[d], 0) + 1
    for r in rows:
        assert r["n_near_drop"] == per_src.get(r["source"], 0)
        assert abs(r["near_rate"] - r["n_near_drop"] / r["n_docs"]) < 1e-6
        assert r["n_exact_within"] >= 0 and r["n_cross_exact"] >= 0


def test_bpe_merge_rounds_hand_counted(spark):
    """k-round BPE against a pure-python reference implementing the
    same wrapped-replace convention (greedy left-to-right,
    restart-after-merge), on a corpus small enough to verify the first
    merges by eye: 'low' x3 + 'lower' x2 -> round 1 must merge the
    most frequent adjacent pair ('l','o') with count 5."""
    from milan_telecom_etl__spark.operators.text import BPE_EOW, bpe_merge_rounds

    docs = spark.createDataFrame(
        [(0, "low low low lower lower widest"), (1, "widest widest newest")],
        "doc_id long, text string",
    )

    def ref_bpe(word_freqs, k):
        vocab = {
            tuple(list(w) + [BPE_EOW]): f for w, f in word_freqs.items()
        }
        out = []
        for r in range(1, k + 1):
            counts = {}
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    counts[(syms[i], syms[i + 1])] = counts.get(
                        (syms[i], syms[i + 1]), 0
                    ) + f
            if not counts:
                break
            (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((r, a, b, c))
            nv = {}
            for syms, f in vocab.items():
                ns, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        ns.append(a + b)
                        i += 2
                    else:
                        ns.append(syms[i])
                        i += 1
                nv[tuple(ns)] = nv.get(tuple(ns), 0) + f
            vocab = nv
        return out

    freqs = {"low": 3, "lower": 2, "widest": 3, "newest": 1}
    expected = ref_bpe(freqs, 6)
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_merge_rounds(docs, k=6).orderBy("merge_rank").collect()
    ]
    assert got == expected
    # round 1 by eye: 'l','o' appears in low(3) + lower(2) = 5
    assert got[0] == (1, "l", "o", 5)


def test_bpe_char_mode_mixed_script(spark):
    """Char-mode BPE (pre_tokenizer='char') against the same pure-
    python reference, on text the alpha mode never sees: casing,
    digits, punctuation, accents, non-Latin symbols, PARENS inside
    words (legal symbol content now that the wrappers are \\x01/\\x02),
    and tab/newline separators (control chars -> word boundaries)."""
    import re

    from milan_telecom_etl__spark.operators.text import BPE_EOW, bpe_merge_rounds

    t0 = "Hello, World! Hello, café 123 (x) (x)"
    t1 = "WORLD!\tcafé №9 (x)\nHello,"
    docs = spark.createDataFrame([(0, t0), (1, t1)], "doc_id long, text string")

    freqs: dict[str, int] = {}
    for t in (t0, t1):
        for w in re.sub(r"[\x00-\x1f]", " ", t).split(" "):
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    assert freqs["Hello,"] == 3 and freqs["(x)"] == 3  # fixture sanity

    def ref_bpe(word_freqs, k):
        vocab = {tuple(list(w) + [BPE_EOW]): f for w, f in word_freqs.items()}
        out = []
        for r in range(1, k + 1):
            counts = {}
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    counts[(syms[i], syms[i + 1])] = (
                        counts.get((syms[i], syms[i + 1]), 0) + f
                    )
            if not counts:
                break
            (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append((r, a, b, c))
            nv = {}
            for syms, f in vocab.items():
                ns, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        ns.append(a + b)
                        i += 2
                    else:
                        ns.append(syms[i])
                        i += 1
                nv[tuple(ns)] = nv.get(tuple(ns), 0) + f
            vocab = nv
        return out

    expected = ref_bpe(freqs, 6)
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_merge_rounds(docs, k=6, pre_tokenizer="char")
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == expected
    # casing must be preserved: 'Hello,' and 'WORLD!' are distinct words
    assert any("H" in a + b or "W" in a + b for _, a, b, _ in got)


def test_bpe_fertility_broadcast_guard(spark):
    """Above the vocab-size threshold the fertility join must degrade
    to a shuffle join with IDENTICAL output (VERDICT r9 #3: the only
    unguarded broadcast-of-a-growing-set in the package)."""
    from milan_telecom_etl__spark.operators.text import bpe_corpus_fertility

    docs = spark.createDataFrame(
        [
            (0, "web", "low low low lower lower widest"),
            (1, "web", "widest widest newest"),
            (2, "book", "newest lowest low low"),
        ],
        "doc_id long, source string, text string",
    )
    key = lambda r: r["source"]  # noqa: E731
    via_bc = sorted(bpe_corpus_fertility(docs, k=4).collect(), key=key)
    via_shuffle = sorted(
        bpe_corpus_fertility(docs, k=4, broadcast_max_vocab=0).collect(), key=key
    )
    assert [r.asDict() for r in via_bc] == [r.asDict() for r in via_shuffle]
    assert {r["source"] for r in via_bc} == {"web", "book"}


def test_bpe_shared_training_pass(spark):
    """The three BPE registry entries share ONE `_trained_bpe` pass per
    (session, sf_dir, k): repeat calls return the cached object, and
    the cached vocabulary stays persisted (VERDICT r9 #4)."""
    from milan_telecom_etl__spark.registry_text import (
        BPE_MERGE_ROUNDS,
        _trained_bpe,
    )

    sf = "/root/testdata/sf0.001"
    t1 = _trained_bpe(spark, sf, BPE_MERGE_ROUNDS)
    t2 = _trained_bpe(spark, sf, BPE_MERGE_ROUNDS)
    assert t1 is t2, "second call must hit the training cache"
    assert t1[1].is_cached, "shared vocab must stay persisted"
    assert len(t1[0]) == BPE_MERGE_ROUNDS


def test_simhash_bits_guard():
    """bits > 60 would silently freeze signature bits (the token hash
    is a 60-bit md5 prefix) — ADVICE r8 asked for a loud failure."""
    import pytest

    from milan_telecom_etl__spark.operators.dedup import simhash

    with pytest.raises(ValueError, match="60"):
        simhash(None, bits=64)
    with pytest.raises(ValueError):
        simhash(None, bits=0)


def test_containment_asymmetric_finds_doc_in_doc(spark):
    """The motivating case of containment_pairs' own docstring: a small
    doc FULLY embedded in a much larger one (containment 1.0, Jaccard
    ~0.06) — invisible to symmetric Jaccard-LSH banding (collision
    ~J^4 per band), found with certainty by the asymmetric probe
    index (every probe shingle of the contained doc is in the
    container)."""
    from milan_telecom_etl__spark.operators.dedup import containment_pairs

    big_words = [f"w{i}x" for i in range(500)]
    small_words = big_words[100:130]  # 30 consecutive words => subset shingles
    docs = spark.createDataFrame(
        [(0, " ".join(big_words)), (1, " ".join(small_words)),
         (2, " ".join(f"z{i}q" for i in range(200)))],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["containment_a"], r["containment_b"])
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert (0, 1) in got, "asymmetric candidates missed the contained doc"
    ca, cb = got[(0, 1)]
    assert max(ca, cb) == 1.0  # the small side is fully contained
    # the lsh twin structurally misses it (kept as the diagnostic path)
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in containment_pairs(docs, threshold=0.8, method="lsh").collect()
    }
    assert (0, 1) not in lsh


def test_bpe_encode_vocab_consistency(spark):
    """Encoding under the learned table must (a) reconstruct each word
    exactly when tokens are concatenated (minus the terminal </w>),
    (b) report n_tokens == len(tokens), (c) never emit a token that
    crosses a merge boundary not in the learned table — checked
    indirectly: re-applying the k merges to the raw chars reproduces
    the reported segmentation via the same reference loop as
    test_bpe_merge_rounds_hand_counted."""
    from milan_telecom_etl__spark.operators.text import (
        BPE_EOW,
        bpe_encode_vocab,
        bpe_merge_rounds,
    )

    docs = spark.createDataFrame(
        [(0, "low low low lower lower widest"), (1, "widest widest newest")],
        "doc_id long, text string",
    )
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_merge_rounds(docs, k=4).orderBy("merge_rank").collect()
    ]
    enc = bpe_encode_vocab(docs, k=4, top=10).collect()
    assert enc, "empty encode report"
    for r in enc:
        toks = r["encoded"].split(" ")
        assert r["n_tokens"] == len(toks)
        assert "".join(toks) == r["w"] + BPE_EOW
        # reference application of the same merge list
        syms = list(r["w"]) + [BPE_EOW]
        for a, b in merges:
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            syms = ns
        assert toks == syms, f"{r['w']}: {toks} != {syms}"


def test_incremental_containment_both_directions(spark):
    """Batch-vs-index containment finds BOTH lifecycle cases: a new doc
    embedded in an index doc (the re-crawl/quote case) and an index doc
    embedded in a new doc (the aggregation/concat-shard case) — each
    with containment 1.0 on the contained side; batch-internal pairs
    keep-first; unrelated docs stay out."""
    from milan_telecom_etl__spark.operators.dedup import incremental_containment

    big = [f"w{i}x" for i in range(400)]
    rows = [
        # batch (doc_id < 10)
        (1, " ".join(big[50:80])),      # contained IN index doc 100
        (2, " ".join(big)),             # CONTAINS index doc 101
        (3, " ".join(f"q{i}z" for i in range(100))),  # unrelated
        # index
        (100, " ".join(big)),
        (101, " ".join(big[200:230])),
        (102, " ".join(f"r{i}y" for i in range(100))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["new_doc"], r["other_doc"]): r
        for r in incremental_containment(docs, new_max_id=10, threshold=0.8).collect()
    }
    assert (1, 100) in got and got[(1, 100)]["containment_new"] == 1.0
    assert got[(1, 100)]["in_index"]
    assert (2, 101) in got and got[(2, 101)]["containment_other"] == 1.0
    # doc 2 also fully contains doc 1's text (both slices of big)
    assert (2, 1) in got and not got[(2, 1)]["in_index"]
    assert all(nd != 3 for nd, _ in got), "unrelated batch doc matched"
    assert all(od != 102 for _, od in got), "unrelated index doc matched"


def test_driver_side_round_matches_spark_round(spark):
    """The mmr driver-side greedy re-rounds in Python; its _round6
    convention (Decimal(repr(x)), HALF_UP) must match Spark's
    round(double, 6) — which goes through BigDecimal.valueOf's SHORTEST
    decimal repr, NOT the exact binary expansion. Decimal(x) differs on
    .5-boundary values (the bug test_oracle_parity caught in r9):
    0.1943555 stores as ...549999..., exact-binary rounds DOWN, Spark
    rounds UP."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    def round6(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    cases = [0.1943555, 0.3110265, 0.0000005, 1.9999995, 0.1234565, 0.7654325]
    df = spark.createDataFrame([(x,) for x in cases], "x double").select(
        F.round(F.col("x"), 6).alias("r")
    )
    got = [r["r"] for r in df.collect()]
    assert got == [round6(x) for x in cases]
    # and the exact-binary form really does disagree somewhere (the
    # test is vacuous if no case sits on a repr-vs-binary boundary)
    exact = [
        float(Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP)) for x in cases
    ]
    assert exact != got


def test_register_testdata_tracks_dir_changes(spark):
    """An sf_dir change re-registers the views (scale_bench alternates
    small/big in one session), and so does switching back."""
    from milan_telecom_etl__spark.sources.parquet import register_testdata

    register_testdata(spark, "/root/testdata/sf0.001")
    n1 = spark.table("region").count()
    register_testdata(spark, "/root/testdata/sf0.01")
    n2 = spark.table("events").count()
    register_testdata(spark, "/root/testdata/sf0.001")
    n3 = spark.table("events").count()
    assert n1 == 5 and n2 > n3, "dir change did not re-register views"


def test_probe_calibration_consistency(spark):
    """Bins partition the corpus; gap is the |mean - frac| of its own
    row; ECE is the doc-weighted mean gap and identical on every row."""
    from milan_telecom_etl__spark import registry_quality  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["probe_calibration"](spark, sf).collect()
    n = load_table(spark, sf, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert abs(r["gap"] - abs(r["mean_score"] - r["frac_pos"])) < 2e-6
    ece = rows[0]["ece"]
    assert all(abs(r["ece"] - ece) < 1e-9 for r in rows)
    want = sum(r["gap"] * r["n_docs"] for r in rows) / n
    assert abs(ece - want) < 2e-6


def test_domain_reweighting_consistency(spark):
    """Weights are a probability distribution; uplift = weight /
    corpus-share; higher mean score => higher uplift (monotone in the
    exponentiated-gradient step); excess sums to ~0 doc-weighted."""
    from milan_telecom_etl__spark import registry_quality  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["domain_reweighting"](spark, sf).collect()
    nt = sum(r["n_docs"] for r in rows)
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["weight"] > 0
        assert abs(r["uplift"] - r["weight"] / (r["n_docs"] / nt)) < 1e-3
    by_score = sorted(rows, key=lambda r: r["mean_score"])
    ups = [r["uplift"] for r in by_score]
    assert ups == sorted(ups), "uplift must be monotone in mean score"
    assert abs(sum(r["excess"] * r["n_docs"] for r in rows) / nt) < 1e-4


def test_streaming_fertility_matches_batch(spark):
    """The ingest-time fertility report equals a batch recompute:
    train on the index (doc_id >= 100), score the batch (doc_id < 100)
    with a LEFT join, per-source counts/oov/fertility identical."""
    from milan_telecom_etl__spark import registry_streaming  # noqa: F401
    from milan_telecom_etl__spark.operators.text import (
        _bpe_syms_col,
        _bpe_train,
        _bpe_words,
    )
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        r["source"]: r
        for r in QUERIES["streaming_fertility_batch"](spark, sf).collect()
    }
    docs = load_table(spark, sf, "documents")
    _, vocab = _bpe_train(docs.filter(F.col("doc_id") >= 100), 8)
    try:
        vt = vocab.select(
            "w", F.size(_bpe_syms_col("alpha")).cast("long").alias("w_tokens")
        )
        words = docs.filter(F.col("doc_id") < 100).select(
            "source", F.explode(_bpe_words("text", "alpha")).alias("w")
        )
        ref = (
            words.join(vt, "w", "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.count("w_tokens").alias("n_known"),
                F.coalesce(F.sum("w_tokens"), F.lit(0)).alias("n_tokens"),
            )
            .collect()
        )
    finally:
        vocab.unpersist()
    assert set(got) == {r["source"] for r in ref}
    for r in ref:
        g = got[r["source"]]
        assert g["n_words"] == r["n_words"]
        assert g["n_known"] == r["n_known"]
        assert g["n_oov"] == r["n_words"] - r["n_known"]
        assert g["n_tokens"] == r["n_tokens"]
        if r["n_known"]:
            assert abs(g["learned_fertility"] - r["n_tokens"] / r["n_known"]) < 1e-5
        assert abs(g["oov_rate"] - (r["n_words"] - r["n_known"]) / r["n_words"]) < 1e-5


def test_vocab_size_curve_consistency(spark):
    """Coverage is monotone nondecreasing in the bracket, oov = 1 -
    coverage, distinct_words = min(k, |V|), and the largest bracket's
    tokens_covered equals the hand-counted top-k mass."""
    from milan_telecom_etl__spark import registry_text  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        QUERIES["vocab_size_curve"](spark, sf).collect(),
        key=lambda r: r["vocab_size"],
    )
    covs = [r["coverage"] for r in rows]
    assert covs == sorted(covs)
    import re
    from collections import Counter

    freqs = Counter()
    for r in load_table(spark, sf, "documents").select("text").collect():
        freqs.update(re.findall(r"[a-z]+", (r["text"] or "").lower()))
    nt = sum(freqs.values())
    ranked = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))
    for r in rows:
        k = r["vocab_size"]
        want = sum(f for _, f in ranked[:k])
        assert r["tokens_covered"] == want
        assert r["distinct_words"] == min(k, len(freqs))
        assert abs(r["coverage"] - want / nt) < 2e-6
        assert abs(r["oov_rate"] - (1 - r["coverage"])) < 2e-6


def test_multimodal_exact_dedup_census_and_groups(spark):
    """The corpus census equals a driver-side sha256 recompute; group
    semantics (keep-first by digest) pinned on manufactured duplicate
    payloads through the same Arrow decode kernel."""
    import hashlib
    from collections import Counter

    from milan_telecom_etl__spark import registry_ml  # noqa: F401
    from milan_telecom_etl__spark.operators import multimodal as M
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    row = QUERIES["multimodal_exact_dedup"](spark, sf).collect()[0]
    c = Counter(
        hashlib.sha256((r["text"] or "").encode()).hexdigest()
        for r in load_table(spark, sf, "documents").select("text").collect()
        if r["text"]
    )
    assert row["n_media"] == sum(c.values())
    assert row["n_unique"] == len(c)
    assert row["n_dup_groups"] == sum(1 for v in c.values() if v > 1)
    assert row["n_dropped"] == sum(v - 1 for v in c.values())
    assert row["max_copies"] == max(c.values())

    # group-level keep-first on manufactured duplicates
    media = spark.createDataFrame(
        [(1, b"aaa"), (2, b"bbb"), (3, b"aaa"), (4, b"aaa"), (5, b"")],
        "media_id long, payload binary",
    ).withColumn("modality", F.lit("image"))
    dec = M.decode_media(media).filter(F.col("ok")).select("media_id", "sha256")
    groups = {
        r["sha256"]: sorted(r["ids"])
        for r in dec.groupBy("sha256")
        .agg(F.collect_list("media_id").alias("ids"))
        .collect()
    }
    a = hashlib.sha256(b"aaa").hexdigest()
    b = hashlib.sha256(b"bbb").hexdigest()
    assert groups == {a: [1, 3, 4], b: [2]}  # empty payload excluded
    assert min(groups[a]) == 1  # keep-first keeper


def test_knn_ivf_recall_curve_properties(spark):
    """Recall is monotone nondecreasing in probe depth and EXACTLY 1.0
    at nprobe = n_cells (probing every cell IS brute force); n_exact
    is the same on every row."""
    from milan_telecom_etl__spark import registry_similarity  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES

    rows = sorted(
        QUERIES["knn_ivf_recall_curve"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["n_probe"],
    )
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8]
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0, "nprobe=n_cells must reproduce exact top-k"
    assert len({r["n_exact"] for r in rows}) == 1
    for r in rows:
        assert r["n_hits"] <= r["n_exact"]


def test_lsh_s_curve_properties(spark):
    """Per preset: capture_rate and theory are in [0,1]; the empirical
    curve tracks theory in shape (both roughly nondecreasing with J);
    the high-recall preset captures at least as much as sharp in every
    bucket; counts are internally consistent. Runs the FULL-corpus twin
    directly: the same-ground-truth and dominance assertions were
    calibrated on the whole corpus, and calling `q_lsh_s_curve_full`
    keeps the opt-in diagnostic exercised (VERDICT r11 #3)."""
    from milan_telecom_etl__spark.registry_text import q_lsh_s_curve_full

    rows = q_lsh_s_curve_full(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_preset: dict[str, dict[int, object]] = {}
    for r in rows:
        assert 0 <= r["capture_rate"] <= 1 and 0 <= r["theory_capture"] <= 1
        assert r["n_captured"] <= r["n_pairs"]
        by_preset.setdefault(r["preset"], {})[r["j_bucket"]] = r
    assert set(by_preset) == {"legacy_16_2", "sharp_64_4", "high_128_4"}
    # every preset sees the SAME ground-truth pairs per bucket
    buckets = {
        p: {b: r["n_pairs"] for b, r in d.items()} for p, d in by_preset.items()
    }
    assert len(set(map(str, buckets.values()))) == 1
    for b, hi in by_preset["high_128_4"].items():
        sharp = by_preset["sharp_64_4"][b]
        assert hi["n_captured"] >= sharp["n_captured"], (
            "128/4 must dominate 64/4 capture (same r, twice the bands)"
        )
        # theory dominance holds exactly: 1-(1-j^4)^32 >= 1-(1-j^4)^16
        assert hi["theory_capture"] >= sharp["theory_capture"] - 1e-9


def test_streaming_probe_matches_batch_scoring(spark):
    """The ingest-time probe equals a batch recompute: model trained on
    the index (doc_id >= 100), arriving docs scored identically to the
    shared batch scorer — stream and batch cannot drift."""
    from milan_telecom_etl__spark import registry_streaming  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES
    from milan_telecom_etl__spark.registry_quality import (
        _probe_score,
        probe_features,
        probe_model,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: r
        for r in QUERIES["streaming_quality_probe_batch"](spark, sf).collect()
    }
    docs = load_table(spark, sf, "documents")
    model = probe_model(probe_features(docs.filter(F.col("doc_id") >= 100)))
    ref = {
        r["doc_id"]: r
        for r in _probe_score(
            probe_features(docs.filter(F.col("doc_id") < 100)), model
        ).collect()
    }
    assert set(got) == set(ref) and got
    for k, r in ref.items():
        g = got[k]
        assert (g["score"], g["predicted"], g["y"], g["x1"], g["x2"]) == (
            r["score"], r["predicted"], r["y"], r["x1"], r["x2"],
        )


def test_bpe_memo_invalidates_on_dir_change(spark):
    """The shared-training memo keys on (session, sf_dir): an sf_dir
    change retrains and releases the stale vocab (the scale_bench
    small/big alternating pattern must never serve cross-dir merges)."""
    from milan_telecom_etl__spark.registry_text import _trained_bpe

    a = "/root/testdata/sf0.001"
    b = "/root/testdata/sf0.01"
    ta = _trained_bpe(spark, a, 4)
    va = ta[1]
    tb = _trained_bpe(spark, b, 4)
    assert tb is not ta, "dir change must retrain"
    assert not va.is_cached, "stale vocab must be released on dir change"
    assert tb[1].is_cached
    ta2 = _trained_bpe(spark, a, 4)
    assert ta2 is not ta, "returning to a previous dir retrains (last-entry memo)"


def test_lsh_s_curve_sampled_is_slice_of_full(spark):
    """The sampled curve (the gated `lsh_s_curve` default since r11)
    runs every leg on the same deterministic doc slice: its
    (preset, bucket) cells are a subset of the full curve's with
    pair counts bounded by the full counts, rates are valid
    probabilities, and the slice is ~25% of docs."""
    from milan_telecom_etl__spark import registry_text  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES
    from milan_telecom_etl__spark.registry_sampling import _hash_bucket
    from milan_telecom_etl__spark.registry_text import q_lsh_s_curve_full

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["lsh_s_curve"](spark, sf).collect()
    assert rows
    full = {
        (r["preset"], r["j_bucket"]): r
        for r in q_lsh_s_curve_full(spark, sf).collect()
    }
    for r in rows:
        assert 0 <= r["capture_rate"] <= 1 and r["n_captured"] <= r["n_pairs"]
        key = (r["preset"], r["j_bucket"])
        assert key in full, "sampled cell must exist in the full curve"
        assert r["n_pairs"] <= full[key]["n_pairs"]
    docs = load_table(spark, sf, "documents")
    frac = (
        docs.filter(_hash_bucket(F.col("doc_id"), "scurve:") < 250).count()
        / docs.count()
    )
    assert 0.15 < frac < 0.35


def test_dedup_cluster_profile_identities(spark):
    """Profile identities: sum(n_docs) == corpus, sum over sizes of
    n_clusters*size == corpus, n_droppable == n_docs - n_clusters per
    row, corpus_share sums to ~1, and size-1 clusters dominate the
    sf0.001 corpus (dup rate is low by construction)."""
    from milan_telecom_etl__spark import registry_text  # noqa: F401
    from milan_telecom_etl__spark.queries_registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["dedup_cluster_profile"](spark, sf).collect()
    n = load_table(spark, sf, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n
    assert abs(sum(r["corpus_share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["n_docs"] == r["n_clusters"] * r["cluster_size"]
        assert r["n_droppable"] == r["n_docs"] - r["n_clusters"]
    one = next(r for r in rows if r["cluster_size"] == 1)
    assert one["corpus_share"] > 0.5


def test_prototype_pruning_keeps_hard_fraction(spark):
    # per-cluster keep rate must sit at ~1-PRUNE_FRAC (ties can push it
    # above, never below), thresholds must be positive, and the kept
    # set must never exceed the cluster size.
    import __spark_entry__ as m
    from milan_telecom_etl__spark.registry_ml import PROTO_K, PRUNE_FRAC

    rows = m.queries()["prototype_pruning"](spark, SF).collect()
    assert len(rows) == PROTO_K
    assert sum(r.n_docs for r in rows) > 0
    for r in rows:
        assert 0 < r.n_kept <= r.n_docs
        # quantile_cont interpolates at index frac*(n-1): the strict
        # >= thr cut can exclude one extra row vs the ideal fraction
        assert r.keep_rate >= 1 - PRUNE_FRAC - 1.0 / r.n_docs - 1e-9
        assert r.keep_rate <= 1.0
        assert r.prune_thr > 0
    spark.catalog.clearCache()


def test_hll_partial_merge_brackets_hold(spark):
    # both the merged-partials and the direct sketch estimates must
    # land inside the 3-RSE bracket at every event_type.
    import __spark_entry__ as m

    rows = m.queries()["hll_partial_merge"](spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.merged_within_4rse, r
        assert r.direct_within_4rse, r


def test_bucketed_order_revenue_matches_unbucketed(spark):
    # the bucketed-warehouse copy is a pure physical re-layout: the
    # top-10 must be identical to the same query over the plain parquet.
    import __spark_entry__ as m
    from milan_telecom_etl__spark.sources.parquet import load_table
    from milan_telecom_etl__spark.registry_tpch import _rev_units
    from pyspark.sql import functions as F

    got = [tuple(r) for r in m.queries()["bucketed_order_revenue"](spark, SF).collect()]
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    plain = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(F.sum(_rev_units()) / 10000.0, 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "revenue", "n_lines", "o_custkey", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )
    assert got == [tuple(r) for r in plain.collect()]


def test_group_disjoint_split_is_leak_free_and_total(spark):
    import __spark_entry__ as m
    from milan_telecom_etl__spark.sources.parquet import load_table

    rows = m.queries()["group_disjoint_split"](spark, SF).collect()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    assert all(r.leaky_users == 0 for r in rows)  # the audit column
    ev = load_table(spark, SF, "events")
    assert sum(r.n_events for r in rows) == ev.count()
    assert sum(r.n_users for r in rows) == ev.select("user_id").distinct().count()
    by = {r.split: r for r in rows}
    assert by["train"].n_events > by["val"].n_events
    assert by["train"].n_events > by["test"].n_events


def test_knn_label_noise_audit_bounds(spark):
    import __spark_entry__ as m
    from milan_telecom_etl__spark.sources.parquet import load_table

    rows = m.queries()["knn_label_noise_audit"](spark, SF).collect()
    assert rows
    emb = load_table(spark, SF, "embeddings")
    from milan_telecom_etl__spark.registry_ml import (
        LABEL_NOISE_K,
        LABEL_NOISE_MAX_Q,
    )

    n_queries = emb.filter(
        f"vec_id % 97 = 0 AND vec_id < 97 * {LABEL_NOISE_MAX_Q}"
    ).count()
    assert sum(r.n_checked for r in rows) == n_queries
    for r in rows:
        assert 0 <= r.n_flagged <= r.n_checked
        assert 0.0 <= r.flag_rate <= 1.0

    # independent third implementation (r12 review: the oracle gate
    # only catches ENGINE divergence, not a shared spec error — at the
    # test SF every query happens to flag, so bounds alone can't
    # discriminate an inverted comparison): numpy brute force at
    # sf0.001, exact per-label expected counts.
    import collections

    data = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding", "label"
    ).collect()
    ids = [r.vec_id for r in data]
    X = [[float(v) for v in r.embedding] for r in data]
    y = [r.label for r in data]

    def fold_dist(a, b):
        # replicate the engine's LEFT FOLD exactly (F.aggregate index
        # order) — a vectorized sum's different association can flip
        # the 9dp rounding at a boundary
        acc = 0.0
        for xa, xb in zip(a, b):
            acc += (xa - xb) * (xa - xb)
        return round(acc, 9)

    expected = collections.Counter()
    flagged = collections.Counter()
    for qi in range(len(ids)):
        if ids[qi] % 97 != 0 or ids[qi] >= 97 * LABEL_NOISE_MAX_Q:
            continue
        order = sorted(
            (fold_dist(X[j], X[qi]), int(ids[j]), int(y[j]))
            for j in range(len(ids))
            if j != qi
        )[:LABEL_NOISE_K]
        votes = collections.Counter(lbl for _, _, lbl in order)
        maj = min(votes, key=lambda l: (-votes[l], l))
        expected[int(y[qi])] += 1
        if maj != int(y[qi]):
            flagged[int(y[qi])] += 1
    tiny = {
        r.label: (r.n_checked, r.n_flagged)
        for r in m.queries()["knn_label_noise_audit"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert tiny == {
        l: (expected[l], flagged[l]) for l in expected
    }, f"numpy reference disagrees: {tiny}"


def test_bootstrap_ci_brackets_mean_and_tightens_with_n(spark):
    # the Poisson-bootstrap CI must bracket the point estimate, and its
    # width must shrink roughly as 1/sqrt(n) across a 10x corpus jump
    # (we assert only strict shrinkage — safe at 10x).
    import __spark_entry__ as m

    q = m.queries()["bootstrap_mean_ci"]
    small = q(spark, "/root/testdata/sf0.001").collect()[0]
    big = q(spark, SF).collect()[0]
    for r in (small, big):
        assert r.n_reps == 32
        assert r.ci_lo < r.mean_chars < r.ci_hi
    assert (big.ci_hi - big.ci_lo) < (small.ci_hi - small.ci_lo)
