"""Deduplication operators — exact and near-dup — for LLM-corpus scale
(BASELINE.json north star).

Design for 100 TB:
- exact_duplicates: hash-groupBy on md5(normalized). The shuffle key is
  the hash itself ⇒ perfectly uniform partitioning, no skew, and the
  map-side partial agg collapses most groups before the exchange.
- minhash signatures: per-doc work is a flat shingle explode + one
  groupBy(doc) — embarrassingly parallel; LSH banding turns the O(n²)
  pair search into equality joins on (band, band_hash), which Spark
  executes as a shuffle hash join keyed on uniformly-distributed
  hashes. Candidate verification (exact Jaccard) touches only bucket
  collisions, not all pairs.
- simhash: same explode/agg shape; near-dup lookup = equality on the
  signature (or banded sub-signatures), never a cross join.
- ngram_jaccard_pairs: the EXACT near-dup oracle — O(pairs sharing a
  shingle); used to validate MinHash recall, and itself scale-safe
  because the join is on shingle hashes (frequent-shingle skew is the
  known hazard; cap via df filtering, see `max_shingle_df`).

All hashing is md5-derived (engine-stable) so DuckDB oracles reproduce
values exactly. No Python UDFs.

Caching contract: several operators persist() shared subtrees (shingle
tables, words frames, standing indexes) and intentionally do NOT
unpersist before returning — the returned DataFrame is lazy and still
references them. Callers running many operators in one session must
release them between calls (`spark.catalog.clearCache()`), which is
exactly what the repo's bench/gate harnesses do per query. Library
callers embedding a single operator in a longer pipeline should
instead unpersist via `spark.catalog.clearCache()` once the pipeline's
terminal action has run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize_text

# 31-bit Mersenne prime — (a*x+b) stays within int64 for a,x < 2^31.
MERSENNE_31 = 2_147_483_647

# Default stop-shingle cap for the exact-Jaccard verify stage: shingles
# appearing in more than this many docs are dropped before the shingle
# equality join. The join cost is Σ_shingle df², so one boilerplate
# shingle shared by M docs contributes M² pairs — at corpus scale that
# is THE near-dup scale-killer. 1000 bounds any single shingle's
# contribution to 10⁶ candidate rows while being far above the df of
# any content-bearing shingle (validated by the crafted-skew test).
DEFAULT_MAX_SHINGLE_DF = 1000

# ---------------------------------------------------------------------------
# Named LSH banding presets (ADVICE r8): candidate-collision probability
# is P(J) = 1 - (1 - J^band_size)^(num_hashes/band_size), so the scheme
# choice IS a recall/precision dial at the Jaccard threshold. The r8
# default moved the verify chain (lsh_verified_pairs, near_dup_clusters,
# incremental_near_dups, containment_pairs) from 16/2 to 64/4 — sharper
# candidates, far fewer false positives to verify, but recall exactly AT
# the J=0.5 midpoint drops ~0.90 -> ~0.64. Callers for whom borderline-J
# recall matters should opt into BANDING_HIGH_RECALL explicitly:
#   lsh_verified_pairs(docs, **BANDING_HIGH_RECALL)
# ---------------------------------------------------------------------------

#: Default since r8: precision-first. P(0.5)=0.64, P(0.7)=0.99.
BANDING_SHARP = {"num_hashes": 64, "band_size": 4}
#: Pre-r8 default: recall-first, noisier candidates. P(0.5)=0.90.
BANDING_LEGACY_RECALL = {"num_hashes": 16, "band_size": 2}
#: Recommended where borderline-J recall matters. P(0.5)=0.88, P(0.7)=1.0.
BANDING_HIGH_RECALL = {"num_hashes": 128, "band_size": 4}


def _md5_int60(c: Column) -> Column:
    """Stable 60-bit integer hash (md5 prefix) — identical in DuckDB via
    ('0x' || substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingles_of(words: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a words-array column.

    IMPORTANT: pass a *bound column* (already materialized by a prior
    stage), not an inline split(normalize(...)) expression — Spark's
    higher-order functions evaluate the lambda body per element, so an
    inline subtree would re-run the regex normalization once per
    shingle (observed 40× slowdown)."""
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), k - F.lit(1))
    shingle_at = lambda i: F.array_join(F.slice(words, i + F.lit(1), n), " ")  # noqa: E731
    return F.array_distinct(F.when(k > 0, F.transform(idx, shingle_at)).otherwise(F.array()))


def _words_df(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, __words) with the normalize+split pipeline materialized
    behind an exchange barrier. The repartition doubles as the
    parallelism spread for CPU-heavy downstreams (a single local parquet
    file arrives as one split) and as a CollapseProject fence so
    downstream lambdas see a bound array, not the regex subtree."""
    # Explicit numPartitions: AQE would otherwise coalesce this tiny
    # shuffle to 1-2 partitions and serialize the CPU-heavy downstream.
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    return docs.select(
        "doc_id", F.split(normalize_text(text_col), " ").alias("__words")
    ).repartition(n_parts, F.col("doc_id"))


def word_shingles(col: str | Column, n: int = 3) -> Column:
    """Expression form (convenience, small inputs): shingles straight
    from a text column. Prefer _words_df + shingles_of in pipelines."""
    return shingles_of(F.split(normalize_text(col), " "), n)


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content fingerprint; emit one row per
    duplicated content with multiplicity and the keeper (min doc_id)."""
    return (
        docs.select(F.col("doc_id"), F.md5(normalize_text(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedupe_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep exactly one doc (min doc_id) per normalized content."""
    w_key = F.md5(normalize_text(text_col)).alias("__fp")
    ranked = docs.withColumn("__fp", w_key)
    keepers = ranked.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    return ranked.join(keepers, ["__fp", "doc_id"], "left_semi").drop("__fp")


def position_grams(words: Column, k: int = 8) -> Column:
    """ALL positional word k-grams, hashed (md5) — NOT distinct, unlike
    `shingles_of`: exact-substring dedup counts *positions*, so a gram
    repeated within one doc must appear once per occurrence."""
    n = F.greatest(F.size(words) - F.lit(k - 1), F.lit(0))
    idx = F.sequence(F.lit(0), n - F.lit(1))
    gram_at = lambda i: F.md5(F.array_join(F.slice(words, i + F.lit(1), k), " "))  # noqa: E731
    return F.when(n > 0, F.transform(idx, gram_at)).otherwise(F.array())


def duplicate_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    words: DataFrame | None = None,
) -> DataFrame:
    """Exact-substring duplication audit (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a token position is
    duplicated iff its k-token window occurs anywhere else in the corpus
    (other docs OR elsewhere in the same doc — the suffix-array notion of
    a repeated substring). Emits, per doc with >= 1 full window:
    n_grams, n_dup_positions, dup_fraction.

    The paper builds a corpus-wide suffix array — inherently sequential.
    The Spark-first restatement: every positional k-gram hashed (pure
    projection), one hash-agg per (doc, gram), one per gram, one join
    keyed on the gram hash. All shuffle keys are md5-uniform (no skew by
    construction), every agg map-side-combines, and nothing is quadratic:
    cost is O(total tokens) however large the corpus. A span-MERGING
    pass (stitching overlapping dup windows into maximal spans) would
    ride a per-doc window over n_dup_positions rows — omitted here
    because the audit fraction is what drives the keep/drop decision."""
    w = words if words is not None else _words_df(docs, text_col)
    grams = w.select(
        "doc_id", F.explode(position_grams(F.col("__words"), k)).alias("g")
    )
    # per_doc feeds BOTH the global-count agg and the join probe side;
    # persisted, the tokenize+hash pipeline runs once, not twice
    per_doc = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("np")).persist()
    global_cnt = per_doc.groupBy("g").agg(F.sum("np").alias("cnt"))
    return (
        per_doc.join(global_cnt, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("np").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("cnt") >= 2, F.col("np")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup_positions"),
        )
        .withColumn(
            "dup_fraction", F.round(F.col("n_dup_positions") / F.col("n_grams"), 6)
        )
    )


def duplicate_span_islands(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    words: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated spans (the REMOVAL unit of Lee et al. 2022):
    stitch overlapping/adjacent duplicated k-token windows into islands
    via gaps-and-islands — a window starting at token i covers
    [i, i+k-1], so two dup windows merge iff their starts differ by
    <= k. Emits (doc_id, span_start, span_end, span_tokens) per maximal
    span, 1-based token positions — exactly what a span-excision rewrite
    pass consumes.

    Scale story: dup-position detection is `duplicate_span_stats`'s
    linear hash-agg/join pipeline; the merge adds one lag + running-sum
    window PARTITIONED BY doc_id — state bounded by a single document's
    dup positions, never corpus-wide, and the shuffle key (doc_id) is
    unskewed. No stage sees more than O(tokens) rows."""
    w = words if words is not None else _words_df(docs, text_col)
    grams = w.select(
        "doc_id", F.posexplode(position_grams(F.col("__words"), k)).alias("j", "g")
    ).select("doc_id", (F.col("j") + 1).alias("i"), "g").persist()
    cnt = grams.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    dup = (
        grams.join(cnt.filter(F.col("cnt") >= 2), "g")
        .select("doc_id", "i")
        .distinct()
    )
    from pyspark.sql.window import Window

    ordw = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(
        F.col("i") - F.lag("i").over(ordw) > k, F.lit(1)
    ).otherwise(F.lit(0))
    islands = dup.withColumn(
        "island", F.sum(brk).over(ordw.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(F.min("i").alias("span_start"), (F.max("i") + F.lit(k - 1)).alias("span_end"))
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1).cast("long").alias("span_tokens"),
        )
    )


def dedup_span_excise(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    words: DataFrame | None = None,
) -> DataFrame:
    """The full Lee et al. 2022 rewrite: return each doc's normalized
    text with every duplicated span EXCISED, keeping the corpus-first
    occurrence of each duplicated gram (min (doc_id, position)): exact
    copies collapse to one full text + empty remainders, and unique
    text is untouched. One copy of each duplicated k-gram survives
    EXCEPT under overlapping self-repeats (ADVICE r6): in periodic
    text (e.g. "x y z w" * 4) the removable island merges into — and
    excises part of — the kept first-occurrence window, so a gram can
    lose its last full copy. The per-gram *stats/islands* twins stay
    exact; callers needing guaranteed retention under periodicity
    should drop whole docs (dedup_exact_keepers) instead of excising.

    Policy, precisely: a position i in doc d is *removable* iff its
    k-gram occurs >= 2 times corpus-wide AND (d, i) is not the gram's
    lexicographically-first occurrence. Removable windows merge into
    maximal spans (gaps-and-islands, as duplicate_span_islands); every
    token covered by a span is dropped; the survivors re-join in order.
    Emits (doc_id, clean_text, n_kept_tokens, n_removed_tokens).

    Scale story: first-occurrence election is ONE arg-min agg keyed on
    the gram hash (md5-uniform); span expansion explodes each span to
    its <= span_tokens positions (bounded by the doc's token count, so
    O(tokens) corpus-wide); the rewrite is a left-anti join on
    (doc_id, pos) + one per-doc sorted re-assembly — shuffle keys are
    doc_id or the gram hash, both unskewed. Nothing quadratic, nothing
    driver-side."""
    w = words if words is not None else _words_df(docs, text_col)
    w = w.persist()
    # grams feeds the gram-stats agg AND the removable-position probe:
    # persisted, the md5 window hashing runs once, not twice
    grams = w.select(
        "doc_id", F.posexplode(position_grams(F.col("__words"), k)).alias("j", "g")
    ).select("doc_id", (F.col("j") + 1).alias("i"), "g").persist()
    # per gram: total count + first occurrence as a single packed key
    # (doc_id * 2^32 + i). The shift bounds tokens-per-doc: a doc with
    # >= 2^32 tokens would silently mis-order first-occurrence election
    # (identically on both engines — parity would hide it), so the
    # BIGINT budget is split 2^31 docs x 2^32 tokens rather than the
    # r6 2^20 "by contract" shift nothing enforced (ADVICE r6).
    packed = F.col("doc_id") * F.lit(1 << 32) + F.col("i")
    gstat = grams.groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt"), F.min(packed).alias("first_occ")
    )
    removable = (
        grams.join(gstat, "g")
        .filter((F.col("cnt") >= 2) & (packed != F.col("first_occ")))
        .select("doc_id", "i")
        .distinct()
    )
    from pyspark.sql.window import Window

    ordw = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(F.col("i") - F.lag("i").over(ordw) > k, F.lit(1)).otherwise(F.lit(0))
    spans = (
        removable.withColumn(
            "island", F.sum(brk).over(ordw.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("doc_id", "island")
        .agg(F.min("i").alias("s"), (F.max("i") + F.lit(k - 1)).alias("e"))
    )
    cut = spans.select(
        "doc_id", F.explode(F.sequence(F.col("s"), F.col("e"))).alias("pos")
    ).distinct()
    toks = w.select(
        "doc_id", F.posexplode(F.col("__words")).alias("j", "w")
    ).select("doc_id", (F.col("j") + 1).alias("pos"), "w")
    kept = toks.join(cut, ["doc_id", "pos"], "left_anti")
    n_toks = w.select("doc_id", F.size("__words").alias("n_total"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept_tokens"),
        )
        .join(n_toks, "doc_id", "right")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept_tokens"), F.lit(0)).cast("long").alias("n_kept_tokens"),
            (F.col("n_total") - F.coalesce(F.col("n_kept_tokens"), F.lit(0)))
            .cast("long")
            .alias("n_removed_tokens"),
        )
    )


def _drop_stop_shingles(sh: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """The stop-shingle cap: drop the shingles of `sh` whose document
    frequency exceeds `max_shingle_df` (broadcast left-anti join against
    the heavy set). `None` returns `sh` unchanged."""
    if max_shingle_df is None:
        return sh
    heavy = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_shingle_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(heavy), "shingle", "left_anti")


def shingle_table(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = None,
    words: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, shingle) exploded table — the substrate for exact
    Jaccard. Joins happen on the raw shingle string (≈ the same shuffle
    bytes as a hex hash, and skips 2×N md5 computations). `max_shingle_df`
    drops shingles appearing in more than that many docs (stop-shingle
    skew cap: at corpus scale a boilerplate shingle shared by millions of
    docs would otherwise produce a quadratic join blowup). Pass `words`
    (a persisted _words_df) to share the normalize+split stage with
    other consumers — the regex pipeline is the CPU hot spot, so
    composed pipelines should run it once."""
    w = words if words is not None else _words_df(docs, text_col)
    sh = w.select(
        "doc_id", F.explode(shingles_of(F.col("__words"), n)).alias("shingle")
    )
    return _drop_stop_shingles(sh, max_shingle_df)


def _shared_shingles(pairs: DataFrame, sh: DataFrame, a: str, b: str) -> DataFrame:
    """(a, b, n_common) for every pair of `pairs` sharing >= 1 shingle:
    side a's shingle rows, semi-matched against side b's on
    (b, shingle). Pairs with no shared shingle drop out."""
    return (
        pairs.join(sh.select(F.col("doc_id").alias(a), "shingle"), a)
        .join(sh.select(F.col("doc_id").alias(b), "shingle"), [b, "shingle"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def _with_sizes(inter: DataFrame, sh: DataFrame, a: str, b: str) -> DataFrame:
    """`inter` plus size_a / size_b: each side's shingle count in `sh`."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    sa = sizes.select(F.col("doc_id").alias(a), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias(b), F.col("n_shingles").alias("size_b"))
    return inter.join(sa, a).join(sb, b)


def _jaccard_at_least(overlap: DataFrame, threshold: float) -> DataFrame:
    """Adds jaccard = n_common / (size_a + size_b - n_common), rounded
    to 6 places, and keeps the rows at or above `threshold`."""
    jac = F.round(
        F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")), 6
    )
    return overlap.withColumn("jaccard", jac).filter(F.col("jaccard") >= threshold)


def _containment_at_least(
    overlap: DataFrame, threshold: float, c_a: str, c_b: str
) -> DataFrame:
    """Adds both directed containments, c_a = n_common / size_a and
    c_b = n_common / size_b (rounded to 6 places), and keeps the rows
    whose larger one is at or above `threshold`."""
    return (
        overlap.withColumn(c_a, F.round(F.col("n_common") / F.col("size_a"), 6))
        .withColumn(c_b, F.round(F.col("n_common") / F.col("size_b"), 6))
        .filter(F.greatest(F.col(c_a), F.col(c_b)) >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    words: DataFrame | None = None,
) -> DataFrame:
    """EXACT near-dup pairs by shingle-set Jaccard ≥ threshold.

    |A∩B| from the shingle-hash equality self-join; |A|,|B| from per-doc
    counts; Jaccard = inter / (|A|+|B|-inter). Join keys are uniform
    hashes; complexity is Σ_shingle df² — UNBOUNDED unless
    `max_shingle_df` caps stop-shingle document frequency. This is the
    validation oracle for the LSH path; production pipelines should use
    `lsh_verified_pairs` (candidates only) or pass a df cap.
    """
    # Persist: the shingle table feeds three consumers (both self-join
    # sides + the per-doc sizes); without it the regex-normalize +
    # explode upstream runs three times.
    sh = shingle_table(docs, text_col, n, max_shingle_df, words).persist()
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    overlap = _with_sizes(inter, sh, "doc_a", "doc_b")
    return _jaccard_at_least(overlap, threshold).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _hash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per hash function, derived from the function
    index (no RNG → reproducible across engines and runs)."""
    params = []
    for i in range(num_hashes):
        a = (1_103_515_245 * (i + 1) + 12_345) % MERSENNE_31
        b = (22_695_477 * (i + 1) + 1) % MERSENNE_31
        params.append((a or 1, b))
    return params


def _minhash_sig_arr(w: DataFrame, n: int, num_hashes: int) -> DataFrame:
    """(doc_id, __sig array<bigint>) — the MinHash signature as ONE
    shuffle-free projection over the words table.

    h_i(x) = (a_i * (x mod P31) + b_i) mod P31 over 60-bit shingle
    hashes, folded to a per-doc elementwise min with `aggregate` over
    the shingle array: acc starts at [P31]*k and each shingle zips in
    `least(acc_i, h_i(x))`. The (a_i, b_i) table ships as a single
    nested-array Literal (the `sign_bits` discipline — one constant
    reference in codegen, not k expression trees), parsed from one SQL
    string (one driver→JVM call, not ~3 per hash), and the shingle's
    md5 is bound ONCE per shingle via a 1-element `transform` acting as
    a let-binding (an inline `_md5_int60(s)` inside the per-param
    lambda would re-hash once per hash function — the 40× hazard
    `shingles_of` documents). No explode, no groupBy, no shuffle:
    signing 100 TB of docs is map-only. Precondition: one row per
    doc_id (every caller feeds unique-keyed docs); docs with fewer
    than n words have no shingles and are dropped, exactly as the
    former explode+groupBy shape dropped them.
    """
    p31 = F.lit(MERSENNE_31).cast("long")
    pairs = ", ".join(f"array({a}, {b})" for a, b in _hash_params(num_hashes))
    params = F.expr(f"array({pairs})")
    init = F.array_repeat(p31, num_hashes)
    sig = F.aggregate(
        shingles_of(F.col("__words"), n),
        init,
        lambda acc, s: F.element_at(
            F.transform(
                F.array(_md5_int60(s) % p31),
                lambda x: F.zip_with(
                    acc,
                    F.transform(
                        params,
                        lambda p: (F.element_at(p, 1) * x + F.element_at(p, 2)) % p31,
                    ),
                    lambda l, r: F.least(l, r),
                ),
            ),
            1,
        ),
    )
    # the width rides as column metadata so consumers of a SHARED
    # signature table can fail fast instead of silently banding nulls
    # (element_at past the array end is null; concat_ws drops nulls,
    # so an under-wide sig would collide every doc on degenerate band
    # hashes — r14 review finding #3)
    return w.filter(F.size("__words") >= F.lit(n)).select(
        "doc_id", sig.alias("__sig", metadata={"num_hashes": num_hashes})
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    words: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature as `num_hashes` columns mh_0..mh_{k-1}
    — a column view over `_minhash_sig_arr`'s array (the element_at
    projection references the non-cheap signature alias k times, which
    keeps CollapseProject from inlining the fold k-fold)."""
    w = words if words is not None else _words_df(docs, text_col)
    sig = _minhash_sig_arr(w, n, num_hashes)
    return sig.select(
        "doc_id",
        *[
            F.element_at(F.col("__sig"), i + 1).alias(f"mh_{i}")
            for i in range(num_hashes)
        ],
    )


def minhash_banded(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 2,
    words: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_id, band_hash): the banded MinHash signature table
    — the LSH index layout. Banding slices `_minhash_sig_arr`'s array
    directly (band_hash = md5 of the comma-joined band values, same
    bytes as the former concat_ws over mh_* columns); both the full
    self-join candidates and the incremental probe path build on it.
    A pure projection over the signatures — banding 100 TB is map-only.

    `sig` shares a PRE-COMPUTED (doc_id, __sig) signature table with
    ≥ num_hashes elements: `_hash_params` derives (a_i, b_i) from the
    function INDEX, so `_hash_params(k)` is a strict prefix of
    `_hash_params(K)` for k ≤ K and the first `num_hashes` elements of
    a wider signature ARE this preset's signature (prefix property,
    test-pinned). Multi-preset evals (the S-curve) compute one widest
    signature and slice, instead of re-folding the shingle stream per
    preset (VERDICT r13 #7). The band array is ONE SQL expression
    string, not a driver→JVM call per band element."""
    if sig is None:
        w = words if words is not None else _words_df(docs, text_col)
        sig = _minhash_sig_arr(w, n, num_hashes)
    else:
        try:
            declared = sig.schema["__sig"].metadata.get("num_hashes")
        except (KeyError, AttributeError):
            declared = None
        if declared is not None and declared < num_hashes:
            raise ValueError(
                f"shared signature table is {declared} hashes wide; "
                f"this banding needs {num_hashes} (prefix property only "
                "allows slicing NARROWER presets from a wider signature)"
            )
    n_bands = num_hashes // band_size

    def band(bi: int) -> str:
        vals = ", ".join(
            f"CAST(element_at(`__sig`, {bi * band_size + j + 1}) AS STRING)"
            for j in range(band_size)
        )
        return f"struct({bi} AS band_id, md5(concat_ws(',', {vals})) AS band_hash)"

    bands = ", ".join(band(bi) for bi in range(n_bands))
    return sig.select(
        "doc_id", F.expr(f"explode(array({bands}))").alias("band")
    ).select("doc_id", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    band_size: int = 2,
    words: DataFrame | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of their signature become a
    candidate pair. Equality join per band on (band_id, band_hash) —
    distributed-friendly; no cross join anywhere. `sig` shares a
    pre-computed wider signature table (see minhash_banded)."""
    banded = minhash_banded(docs, text_col, n, num_hashes, band_size, words, sig)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def incremental_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    new_max_id: int = 100,
    n: int = 3,
    num_hashes: int = 64,
    band_size: int = 4,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Dedup a NEW batch against the existing corpus index — the shape
    production pipelines actually run (daily crawl vs standing index),
    where re-deduping the whole corpus per arrival would be quadratic
    in corpus-lifetime. Docs with doc_id < new_max_id are the incoming
    batch (a constant-size slice by contract — the batch does not grow
    with the corpus); everything else is the standing index.

    Scale story — the asymmetry IS the optimization: the batch's
    banded signatures are broadcast (batch_size * n_bands rows), the
    corpus-side banded table streams through a broadcast-hash join —
    the corpus is never shuffled and never self-joined. Candidate
    volume is O(batch * bucket) instead of the full-dedup O(n *
    bucket); in steady state the index's banded table is a stored
    artifact and only the batch's signatures are computed. Within the
    batch, keep-first (dup_of < new_doc) dedups the arrivals against
    each other; against the index any collision counts. The verify
    stage is the exact-Jaccard join of lsh_verified_pairs restricted
    to the candidate probes. Output: (new_doc, dup_of, n_common,
    jaccard, in_index) for every verified duplicate — the batch's
    drop list is `SELECT DISTINCT new_doc`.

    No reference-repo counterpart (extension operator); the full-corpus
    twin is `lsh_verified_pairs` (reference semantics per SURVEY §2
    extension table).
    """
    words = _words_df(docs, text_col).persist()
    banded = minhash_banded(docs, text_col, n, num_hashes, band_size, words)
    new_b = banded.filter(F.col("doc_id") < new_max_id).select(
        "band_id", "band_hash", F.col("doc_id").alias("new_doc")
    )
    cand = _incremental_candidates(banded, new_b, new_max_id)
    sh = shingle_table(docs, text_col, n, max_shingle_df, words).persist()
    return _incremental_verify(cand, sh, threshold, new_max_id)


def _incremental_candidates(
    banded: DataFrame, new_b: DataFrame, new_max_id: int
) -> DataFrame:
    """Probe join shared by the train-in-run and standing-index forms:
    the batch's banded signatures broadcast against the (index+batch)
    banded table; keep probes FROM the batch (any index hit, keep-first
    within the batch)."""
    return (
        banded.join(F.broadcast(new_b), ["band_id", "band_hash"])
        .filter(
            (F.col("doc_id") >= F.lit(new_max_id))
            | (F.col("doc_id") < F.col("new_doc"))
        )
        .select("new_doc", F.col("doc_id").alias("dup_of"))
        .distinct()
    )


def _incremental_verify(
    cand: DataFrame, sh: DataFrame, threshold: float, new_max_id: int
) -> DataFrame:
    """Exact-Jaccard verify over the df-capped shingle table, restricted
    to the candidate probes — shared by both incremental forms so they
    cannot drift."""
    inter = _shared_shingles(cand, sh, "new_doc", "dup_of")
    overlap = _with_sizes(inter, sh, "new_doc", "dup_of")
    return _jaccard_at_least(overlap, threshold).select(
        "new_doc",
        "dup_of",
        F.col("n_common").cast("long").alias("n_common"),
        "jaccard",
        (F.col("dup_of") >= F.lit(new_max_id)).alias("in_index"),
    )


def incremental_near_dups_serving(
    batch_docs: DataFrame,
    index_banded: DataFrame,
    index_shingles: DataFrame,
    text_col: str = "text",
    new_max_id: int = 100,
    n: int = 3,
    num_hashes: int = 64,
    band_size: int = 4,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """The STANDING-INDEX form of `incremental_near_dups` — the "in
    steady state the index's banded table is a stored artifact"
    sentence above, realized: the index side arrives as warehouse
    artifacts (its banded signature table and its UNCAPPED shingle
    inverted index — the tables an index refresh job writes), and only
    the arriving batch's signatures and shingles are computed at probe
    time. Per-batch cost never scans the standing corpus: the batch's
    banded signatures broadcast against the stored banded table, and
    the verify join reads only candidate docs' shingle rows.

    Exactness contract vs the train-in-run twin: MinHash signatures
    are per-doc (map-only over the doc's own shingles), so the stored
    banded rows are batch-independent — but the df stop-shingle cap
    must see the UNION's document frequencies (a batch can push a
    shingle over the cap), which is WHY the artifact stores the index
    shingles uncapped: the cap applies here to artifact+batch combined,
    reproducing shingle_table(all_docs, cap) bit-for-bit. Both forms
    share _incremental_candidates/_incremental_verify, so their plans
    differ only in where the index tables come from."""
    # words persists across its two consumers (banded + shingles) until
    # the caller's materialization/clearCache — same lifecycle as the
    # train-in-run twin's persists.
    words = _words_df(batch_docs, text_col).persist()
    batch_banded = minhash_banded(
        batch_docs, text_col, n, num_hashes, band_size, words
    )
    banded = index_banded.select("doc_id", "band_id", "band_hash").unionByName(
        batch_banded.select("doc_id", "band_id", "band_hash")
    )
    new_b = batch_banded.select(
        "band_id", "band_hash", F.col("doc_id").alias("new_doc")
    )
    cand = _incremental_candidates(banded, new_b, new_max_id)
    sh_all = index_shingles.select("doc_id", "shingle").unionByName(
        shingle_table(batch_docs, text_col, n, None, words)
    )
    sh = _drop_stop_shingles(sh_all, max_shingle_df).persist()
    return _incremental_verify(cand, sh, threshold, new_max_id)


def _probe_shingles(sh: DataFrame, m_probes: int) -> DataFrame:
    """(p_doc, shingle, n_probes): each doc's `m_probes` smallest-hash
    shingles. The doc's own probe count rides along, so a tiny doc is
    never held to more hits than it has probes."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(_md5_int60(F.col("shingle")))
    return (
        sh.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= m_probes)
        .select(
            F.col("doc_id").alias("p_doc"),
            "shingle",
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_probes"),
        )
    )


def containment_probe_candidates(
    shingles: DataFrame,
    m_probes: int = 8,
    min_hits: int = 2,
) -> DataFrame:
    """Asymmetric containment candidates (ADVICE r8): probe each doc's
    `m_probes` smallest-hash shingles against the full shingle inverted
    index, and keep a pair only if at least `min_hits` of one side's
    probes land in the other (capped at the prober's own probe count,
    so one-shingle docs still qualify at their full containment).

    Recall law: if containment_small(A,B) = c, each of A's probes is in
    B w.p. ≈ c, so the pair is missed w.p. P(<min_hits of m) — EXACTLY
    0 for full containment (every shingle of A is in B, in particular
    all probes) and ≈ 1 - 8.5e-5 at c = 0.8, m = 8, min_hits = 2. This
    is the "sign only the small side" scheme: every doc is signed with
    m shingles as a potential containee, while as a container it is
    only ever the streamed index side — no symmetric banding, so the
    Jaccard collision law (which made high-containment/low-Jaccard
    pairs invisible to MinHash-LSH) does not apply.

    Scale: probe side is m rows per doc (a top-m window on the shingle
    hash); the probe-hit join fans each probe shingle out to its
    document frequency (capped upstream by `max_shingle_df`), but the
    fan-out lands in a HASH AGGREGATION (map-side partial combine) and
    only directed pairs clearing min_hits reach the expensive verify
    join. min_hits = 1 measured 6.3x candidate growth at a 3x decade
    on replicated scale data (single shared-trigram coincidences scale
    with the duplicate rate); min_hits = 2 kills the coincidence class
    while leaving the containment recall law intact."""
    hits = (
        _probe_shingles(shingles, m_probes).join(
            shingles.select(F.col("doc_id").alias("o_doc"), "shingle"), "shingle"
        )
        .filter(F.col("p_doc") != F.col("o_doc"))
        .groupBy("p_doc", "o_doc")
        .agg(F.count(F.lit(1)).alias("hits"), F.max("n_probes").alias("n_probes"))
    )
    return (
        hits.filter(F.col("hits") >= F.least(F.lit(min_hits), F.col("n_probes")))
        .select(
            F.least("p_doc", "o_doc").alias("doc_a"),
            F.greatest("p_doc", "o_doc").alias("doc_b"),
        )
        .distinct()
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    band_size: int = 4,
    threshold: float = 0.8,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    method: str = "asymmetric",
    m_probes: int = 8,
    min_hits: int = 2,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Containment near-dup pairs — the doc-IN-doc case Jaccard
    misses: a 100-shingle doc fully embedded in a 10,000-shingle doc
    has containment_small = 1.0 but Jaccard ≈ 0.01 (quotes, boilerplate
    wrappers, concatenated shards). Two stages: a candidate generator,
    then the exact-shingle-intersection verify scoring BOTH directed
    containments n_common/|A| and n_common/|B|, keeping pairs whose max
    clears the threshold.

    The candidate stage is pluggable (ADVICE r8): pass `candidates`
    ((doc_a < doc_b) pairs from an external index), or pick `method`:
    - "asymmetric" (default): `containment_probe_candidates` — signs
      only the small side (m smallest-hash shingles probe the inverted
      index), so the motivating containment-1.0/Jaccard-0.01 case is
      found with recall 1.0; see its docstring for the recall law.
    - "lsh": symmetric banded MinHash (the r8 default, kept as the
      diagnostic twin) — collides by JACCARD (~J^band_size per band),
      so high-containment/low-Jaccard pairs only surface when the size
      gap is moderate.
    """
    words = _words_df(docs, text_col).persist()
    sh = shingle_table(docs, text_col, n, max_shingle_df, words).persist()
    if candidates is not None:
        cands = candidates
    elif method == "asymmetric":
        cands = containment_probe_candidates(sh, m_probes, min_hits)
    elif method == "lsh":
        cands = minhash_lsh_candidates(docs, text_col, n, num_hashes, band_size, words)
    else:
        raise ValueError(f"unknown containment candidate method: {method!r}")
    inter = _shared_shingles(cands, sh, "doc_a", "doc_b")
    overlap = _with_sizes(inter, sh, "doc_a", "doc_b")
    return _containment_at_least(
        overlap, threshold, "containment_a", "containment_b"
    ).select("doc_a", "doc_b", "n_common", "containment_a", "containment_b")


def index_compaction(
    docs: DataFrame,
    text_col: str = "text",
    new_max_id: int = 100,
    n: int = 3,
    num_hashes: int = 64,
    band_size: int = 4,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """The standing-index MERGE step that follows `incremental_near_dups`
    — production dedup is a lifecycle, not a query: probe the batch
    against the index, then compact the index by inserting the batch's
    survivors and discarding its verified duplicates. Output is the
    per-doc membership verdict of the updated index:

      kept_index   — already in the index (doc_id >= new_max_id)
      inserted     — batch doc with no verified duplicate; its banded
                     signature rows join the stored index
      dropped_dup  — batch doc verified (Jaccard >= threshold) as a
                     duplicate of an index doc or an earlier batch doc

    Scale story: the verdict is `incremental_near_dups`'s broadcast
    probe (the corpus is never self-joined) plus one broadcast anti-join
    of the drop list against the corpus ids — map-only over the index
    side. In steady state the banded-signature refresh appends only the
    `inserted` docs' rows (batch-sized, not corpus-sized); no index
    rewrite. No reference-repo counterpart (extension operator); the
    probe stage's full-corpus twin is `lsh_verified_pairs`.
    """
    dropped = (
        incremental_near_dups(
            docs, text_col, new_max_id, n, num_hashes, band_size, threshold,
            max_shingle_df,
        )
        .select(F.col("new_doc").alias("doc_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return docs.select("doc_id").join(F.broadcast(dropped), "doc_id", "left").select(
        "doc_id",
        F.when(F.col("doc_id") >= F.lit(new_max_id), F.lit("kept_index"))
        .when(F.col("__dropped"), F.lit("dropped_dup"))
        .otherwise(F.lit("inserted"))
        .alias("status"),
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """Per-doc SimHash over word hashes: bit b of the signature is the
    majority vote of bit b across token hashes (duplicates count).

    ONE shuffle-free projection (the `_minhash_sig_arr` discipline):
    the vote vector folds with `aggregate` over the words array — each
    token's md5 binds once via a 1-element transform let-binding, bit
    b's ±1 contribution extracted with `bitwiseAND` against a single
    pow2 Literal array (shiftleft/shiftright take only int literals,
    and per-bit expression trees would bloat codegen k-fold) — and the
    signature reassembles by summing the winning bits' pow2 values.
    Tokenizing + signing 100 TB is map-only; duplicates count, exactly
    as the former explode+groupBy vote did.

    `bits` is capped at 60: the token hash is `_md5_int60` (60-bit md5
    prefix), so bit positions >= 60 would AND to 0 against every token
    and silently freeze as constant all-minus votes (ADVICE r8)."""
    if not 1 <= bits <= 60:
        raise ValueError(
            f"simhash bits must be in [1, 60] (token hash is 60-bit md5"
            f" prefix; higher bits would be constant) — got {bits}"
        )
    w = _words_df(docs, text_col)
    pow2 = F.lit([1 << b for b in range(bits)]).cast("array<bigint>")
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
    votes = F.aggregate(
        F.col("__words"),
        F.array_repeat(zero, bits),
        lambda acc, wd: F.element_at(
            F.transform(
                F.array(_md5_int60(wd)),
                lambda h: F.zip_with(
                    acc,
                    F.transform(
                        pow2,
                        lambda p: F.when(h.bitwiseAND(p) != 0, one).otherwise(-one),
                    ),
                    lambda l, r: l + r,
                ),
            ),
            1,
        ),
    )
    sig = F.aggregate(
        F.zip_with(votes, pow2, lambda v, p: F.when(v > 0, p).otherwise(zero)),
        zero,
        lambda a, x: a + x,
    )
    return w.filter(F.col("__words").isNotNull()).select("doc_id", sig.alias("simhash"))


def simhash_band_candidates_auto(
    docs: DataFrame,
    text_col: str = "text",
    n_docs: int | None = None,
    n_bands: int = 4,
    target_bucket: int = 32,
    max_bucket: int = 1000,
) -> DataFrame:
    """Scale-path SimHash banding: band width grows with the corpus so
    bucket population stays bounded, plus a stop-bucket cap.

    The pinned 32-bit/8-bit-band twin has only 256 bucket values per
    band — bucket sizes grow linearly with the corpus and candidate
    pairs quadratically (r6 sf0.1->sf1.0 profile: 14x wall, 63x rows
    for 10x data). Here the signature is 60-bit (the md5 hash's full
    width) and band_bits = clamp(8..15, log2(n / target_bucket)), so
    E[bucket] stays ~target_bucket as n grows — the Google simhash-dedup
    layout (Manku et al. 2007): any pair within hamming distance
    n_bands-1 of the 60-bit signature still shares >= 1 clean band.
    Buckets that outgrow max_bucket anyway (degenerate band values —
    boilerplate-heavy corpora) are dropped whole, mirroring the
    max_shingle_df stop-shingle guard: a band value carried by >1000
    docs has no discriminative power, and the Sigma bucket^2 blowup it
    would cause is the actual 100 TB killer. Candidate generation is
    therefore ~n * target_bucket pairs regardless of corpus size.

    The signature is built at exactly n_bands * band_bits wide (max 60,
    the md5 hash's usable width): bits outside the banded span would be
    majority-vote aggregates computed and never read, and the hamming
    guarantee is defined over the banded signature."""
    import math

    if n_docs is None:
        n_docs = docs.count()
    band_bits = min(
        60 // n_bands,
        max(8, math.ceil(math.log2(max(n_docs, 2) / target_bucket))),
    )
    bits = n_bands * band_bits
    mask = (1 << band_bits) - 1
    sig = simhash(docs, text_col, bits=bits)
    bands = [
        F.struct(
            F.lit(bi).alias("band_id"),
            F.shiftright(F.col("simhash"), bi * band_bits)
            .bitwiseAND(F.lit(mask))
            .alias("band_val"),
        )
        for bi in range(n_bands)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("band")
    ).select(
        "doc_id",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_val").alias("band_val"),
    ).persist()  # 3 consumers (live, a, b): without this the whole
    # tokenize+60-bit-vote pipeline executes once PER consumer — at any
    # scale that's 3 corpus scans for one; with it, one pass + cheap
    # re-reads (measured 3.4 s -> ~1.5 s at sf0.1)
    live = (
        banded.groupBy("band_id", "band_val")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") <= max_bucket)
        .select("band_id", "band_val")
    )
    pruned = banded.join(live, ["band_id", "band_val"], "left_semi")
    a, b = pruned.alias("a"), pruned.alias("b")
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash_near_dup_candidates(
    docs: DataFrame, text_col: str = "text", **kwargs
) -> DataFrame:
    """THE SimHash near-dup entry point — corpus-size-keyed dispatch
    (VERDICT r6 #5): routes to `simhash_band_candidates_auto`, whose
    band width derives from corpus size (collapsing to the pinned
    32-bit/8-bit-band layout below ~8k docs, growing past it so bucket
    population stays ~constant) with the stop-bucket cap. A naive
    caller therefore gets the ~linear scale path; the fixed 32-bit
    registry twin (`simhash_band_candidates`) survives as the
    static-SQL oracle companion and small-corpus reference layout."""
    return simhash_band_candidates_auto(docs, text_col, **kwargs)


# Above this many label-state rows the per-round helper joins stop
# broadcasting and fall back to shuffle joins (the same threshold the
# r3-r15 min-label loop used for its label state) — and, since r16,
# the single-executor-task finish hands over to the alternating-star
# rounds (1M edges ≈ 16 MB in the worker: comfortably one task).
_CC_BROADCAST_MAX_STATE = 1_000_000


def _cc_labels_single_task(e: DataFrame) -> DataFrame:
    """Exact connected components over a SMALL edge frame in ONE
    executor task: repartition(1) + mapInPandas union-find. This is the
    standard filter-then-finish-locally shortcut (GraphFrames' connected
    components does the same below a size threshold) with the finish on
    an EXECUTOR, not the driver — the plan contains a shuffle and an
    ArrowEvalPython/mapInPandas node, never a collect, so the VERDICT
    r15 #3 contract (no collect anywhere in the cluster path) holds
    while a sub-threshold graph pays one job instead of O(log n)
    distributed rounds (~1.2 s/round of pure stage-scheduling latency
    at small SF — measured r16, the alternating rounds made
    near_dup_clusters 2x slower than the old driver finish at sf0.1).
    Emits (doc_id, label) for every NON-ROOT edge-touching node —
    byte-identical to `_cc_star_rounds`' converged min-star
    edges (pinned row-equal in tests/test_semantics.py)."""
    import pandas as pd

    def finish(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for b in batches:
            for hi, lo in zip(b["hi"], b["lo"]):
                ra, rb = find(int(hi)), find(int(lo))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        nodes = sorted(parent)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(nodes, dtype="int64"),
                "label": pd.Series((find(x) for x in nodes), dtype="int64"),
            }
        )

    return e.repartition(1).mapInPandas(finish, "doc_id long, label long")


def _cc_edges(pairs: DataFrame) -> tuple[DataFrame | None, int]:
    """The oriented edge list (hi > lo, self-loops dropped, distinct)
    over a (doc_a, doc_b) pair frame, persisted, and its size — one
    count action. An edgeless graph returns (None, 0) with the cache
    released."""
    e = (
        pairs.select(
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("hi"),
            F.least(F.col("doc_a"), F.col("doc_b")).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .persist()
    )
    n_edges = e.count()
    if n_edges == 0:
        e.unpersist()
        return None, 0
    return e, n_edges


def _cc_labels(pairs: DataFrame) -> tuple[DataFrame | None, int]:
    """Component labels over a (doc_a, doc_b) pair frame, dispatching on
    the verified edge count: below `_CC_BROADCAST_MAX_STATE` the
    single-executor-task union-find finishes in one job; above it the
    alternating-star rounds take over. Both paths run to fixpoint and
    emit identical rows — (doc_id, label=component min) for every
    non-root edge-touching node — and neither collects anything to the
    driver."""
    e, n_edges = _cc_edges(pairs)
    if e is None:
        return None, 0
    if n_edges < _CC_BROADCAST_MAX_STATE:
        # lazy localCheckpoint: the one Python task runs on the first
        # action and every later action reads the snapshot — the same
        # constant-size-plan discipline as the star rounds' output
        return (
            _cc_labels_single_task(e).localCheckpoint(eager=False),
            n_edges,
        )
    return _cc_star_rounds(e, n_edges)


def _cc_labels_alternating(pairs: DataFrame) -> tuple[DataFrame | None, int]:
    """`_cc_labels` with the star rounds forced at any edge count — the
    at-scale path on its own, so tests pin it row-equal against a
    union-find on small graphs."""
    e, n_edges = _cc_edges(pairs)
    if e is None:
        return None, 0
    return _cc_star_rounds(e, n_edges)


def _cc_star_rounds(e: DataFrame, n_edges: int) -> tuple[DataFrame, int]:
    """Distributed connected components by ALTERNATING LARGE-STAR /
    SMALL-STAR rounds (Kiveris, Lattanzi, Mirrokni, Rastogi,
    Vassilvitskii — "Connected Components in MapReduce and Beyond",
    SoCC'14), replacing BOTH the r10-r15 driver-side union-find (the
    one collect-shaped query path left at 100 TB — VERDICT r15 #3) and
    the O(diameter)-round min-label fixpoint it fell back to: the
    alternating rounds converge in O(log n) rounds on adversarial
    chains and 1-2 rounds on the dense near-clique components real
    dedup graphs consist of.

    Input: `_cc_edges`' persisted oriented edge list and its size.
    Returns (labels, n_edges) where labels is (doc_id, label) for every
    non-root edge-touching node with label = the component's min
    doc_id — identical semantics to a driver-side union-find (the
    reference tests/test_semantics.py pins it row-equal against) and
    the oracle's recursive-CTE transitive closure. NOTHING is collected:
    state lives in executor caches, the per-round action is one
    set-equality aggregate, and the converged labels are snapshotted
    with localCheckpoint (executor-local; acceptable for state this
    small — a lost executor forces recompute of a tiny frame).

    Edges keep the invariant hi > lo (every pointer aims at a smaller
    id). Per round:
    - large-star: every node x attaches each LARGER neighbor y to
      m = min(N(x) ∪ {x}) — one agg over the bidirected edge list +
      one (broadcast when small) join;
    - small-star: every node x attaches its smaller neighbors and
      itself to m = min(N⁻(x) ∪ {x}) = min(N⁻(x)) — same shape over
      the downward edges only.
    Convergence = the round was an exact no-op (the paper's fixpoint),
    checked with ONE action: a +1/-1 multiset diff between the round's
    input and output edge sets (both already distinct). At fixpoint the
    edge set is a union of min-stars, i.e. exactly the label map.

    State is O(|edges|) = O(dup subgraph), never O(corpus): the same
    bound the min-label loop had, now with logarithmic instead of
    linear round count. Each round shuffles the edge list twice (two
    aggs) when the state is too big to broadcast — at 100 TB the edge
    list is the verified near-dup pairs, orders of magnitude smaller
    than the corpus the LSH+verify stages already bounded."""
    small_state = n_edges < _CC_BROADCAST_MAX_STATE

    def hint(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_state else df

    prev = e
    for _ in range(10_000):  # safety bound; converges in O(log n) rounds
        bid = prev.select(F.col("hi").alias("x"), F.col("lo").alias("y")).union(
            prev.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
        )
        mn = bid.groupBy("x").agg(F.min("y").alias("mn"))
        ls = (
            bid.join(hint(mn), "x")
            .filter(F.col("y") > F.col("x"))
            .select(
                F.col("y").alias("hi"),
                F.least(F.col("x"), F.col("mn")).alias("lo"),
            )
            .distinct()
        )
        mn2 = ls.groupBy("hi").agg(F.min("lo").alias("mn"))
        # localCheckpoint, NOT persist: each round's plan references
        # its input ~6x (bid twice, ls three times), so keeping lineage
        # would grow the logical plan 6^rounds — planning, not
        # execution, becomes the bottleneck (guide §3.3/§7.3; measured:
        # a 64-chain OOMed the driver on plan text alone). The
        # checkpoint truncates every round's plan to a constant-size
        # LogicalRDD scan over executor-stored state. LAZY (eager=False)
        # so the round costs ONE action, not two: the convergence count
        # below materializes the checkpoint as a side effect — the
        # LogicalRDD plan truncation happens at build time either way,
        # only the rdd.count() force is skipped (r16: halved the
        # per-round job count, the dominant cost at small SF where each
        # job is pure scheduling latency).
        nxt = (
            ls.join(hint(mn2), "hi")
            .filter(F.col("lo") != F.col("mn"))
            .select(F.col("lo").alias("hi"), F.col("mn").alias("lo"))
            .union(mn2.select("hi", F.col("mn").alias("lo")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # convergence: the round was an exact no-op — a +1/-1 multiset
        # diff between input and output edge sets (both distinct) over
        # two checkpointed (constant-size-plan) frames; this one action
        # also materializes nxt's pending checkpoint
        n_diff = (
            nxt.withColumn("__side", F.lit(1))
            .unionByName(prev.withColumn("__side", F.lit(-1)))
            .groupBy("hi", "lo")
            .agg(F.sum("__side").alias("__s"))
            .filter(F.col("__s") != 0)
            .count()
        )
        # e's cache is deliberately NOT released here: the registry
        # EXECUTION PROTOCOL (queries_registry docstring) has the
        # harness clear between entries, and the live cache is what
        # keeps a harness's repeated calls warm across reps (the edge
        # list re-matches by plan). Checkpoint storage of the round
        # frames is executor-local and freed by the ContextCleaner.
        prev = nxt
        if n_diff == 0:
            break
    # The converged star edges ARE the label map (already checkpointed
    # — the final select stays a constant-size LogicalRDD plan, the
    # same snapshot discipline the min-label loop used; ADVICE r3).
    labels = prev.select(F.col("hi").alias("doc_id"), F.col("lo").alias("label"))
    return labels, n_edges


def near_dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    n: int = 3,
    num_hashes: int = 64,
    band_size: int = 4,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Connected components over the near-dup pair graph → cluster ids.

    Edges come from `lsh_verified_pairs` — LSH banding prunes the pair
    space, exact Jaccard (stop-shingle df capped) verifies candidates —
    so the edge build never runs an unbanded shingle self-join; that is
    the only formulation that survives corpus scale (the exact
    all-pairs variant is Σdf² in shingle document frequency).

    Labeling is the alternating large-star/small-star component join
    (`_cc_labels_alternating` — Kiveris et al. SoCC'14): O(log n)
    rounds, state O(dup subgraph), and NO collect anywhere in the plan
    (VERDICT r15 #3 — the driver-side union-find this replaces was the
    one collect-shaped query path left at 100 TB; it survives only as
    the test reference). Component state iterates ONLY over
    edge-touching vertices — an isolated doc keeps its own label by
    construction and re-attaches with label = doc_id in the final
    projection-join, so propagation never touches the corpus.
    Labeling always runs to FIXPOINT — a round cap could leave a
    long-chain component with several labels per doc and diverge from
    the oracle's exact transitive closure (ADVICE r2); the no-op-round
    early exit terminates in O(log diameter) rounds, with a large
    safety bound against pathological inputs.

    This is the grouping step of corpus dedup: keep one doc per cluster
    (label == doc_id) instead of dropping both ends of every pair.
    The registry oracles it with a DuckDB recursive-CTE transitive
    closure over the identical verified pair list.
    """
    pairs = lsh_verified_pairs(
        docs,
        text_col,
        n=n,
        num_hashes=num_hashes,
        band_size=band_size,
        threshold=threshold,
        max_shingle_df=max_shingle_df,
    ).select("doc_a", "doc_b")
    # The distributed work is the EDGE BUILD (shingle → LSH → verify);
    # the verified pair list is O(dup subgraph), orders of magnitude
    # smaller than the corpus, so the star rounds run over executor
    # caches with broadcast helper joins below the state threshold.
    labels, n_edges = _cc_labels(pairs)
    if labels is None:  # edgeless graph: every doc is its own cluster
        return docs.select(
            "doc_id", F.col("doc_id").alias("cluster_id")
        )
    if n_edges < _CC_BROADCAST_MAX_STATE:
        labels = F.broadcast(labels)
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def dedupe_near(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dedup keep-set: one doc (the cluster's min doc_id) per
    near-dup cluster."""
    clusters = near_dup_clusters(docs, text_col, threshold)
    return clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")


def lsh_verified_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    band_size: int = 4,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    words: DataFrame | None = None,
) -> DataFrame:
    """The production two-stage near-dup pipeline: LSH banding prunes
    the pair space to candidates, then EXACT shingle Jaccard verifies
    each candidate (kills LSH false positives). At corpus scale this is
    the shape that works: the exact self-join over all pairs is
    quadratic in shingle document frequency, but restricted to LSH
    candidates it touches only O(|candidates| · |doc shingles|) rows.
    The verify stage additionally drops stop-shingles with document
    frequency above `max_shingle_df` (both from intersections AND from
    per-doc sizes), bounding per-shingle join fan-out.

    Default banding is the SHARP 64-hash / 4-row scheme (16 bands).
    The r=2/b=8 layout this replaced measured 6.68x wall for 3.33x
    data at the sf3->sf10 decade — its per-band collision rate J^2
    admits a fat false-positive candidate tail on templated corpora
    that the verify stage then pays for quadratically; r=4 collides at
    J^4 and measured linear (3.33x) at the same decade. Trade-off:
    recall exactly AT the J=0.5 midpoint drops to 0.64 (vs 0.90);
    corpora whose borderline-J recall matters should pass
    num_hashes=128, band_size=4 (32 bands — the datasketch default),
    which restores midpoint recall to 0.87 at the same J^4 tail
    (measured +30% candidates, +0.7 s at sf0.1).
    """
    # ONE normalize+split pass feeds both the minhash candidates and
    # the verify-stage shingle table — the regex pipeline is the CPU
    # hot spot and would otherwise run twice. Callers composing several
    # dedup-side consumers (curation_funnel) pass a shared persisted
    # `words` to extend the sharing across operators.
    if words is None:
        words = _words_df(docs, text_col).persist()
    cands = minhash_lsh_candidates(docs, text_col, n, num_hashes, band_size, words)
    sh = shingle_table(docs, text_col, n, max_shingle_df, words).persist()
    inter = _shared_shingles(cands, sh, "doc_a", "doc_b")
    overlap = _with_sizes(inter, sh, "doc_a", "doc_b")
    return _jaccard_at_least(overlap, threshold).select(
        "doc_a", "doc_b", "n_common", "jaccard"
    )


def incremental_containment(
    docs: DataFrame,
    text_col: str = "text",
    new_max_id: int = 100,
    n: int = 3,
    m_probes: int = 8,
    min_hits: int = 2,
    threshold: float = 0.8,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Containment dedup of a NEW batch against the standing corpus —
    the production lifecycle shape of `containment_pairs`, the way
    `incremental_near_dups` is the lifecycle shape of
    `lsh_verified_pairs`. Docs with doc_id < new_max_id are the batch
    (constant-size by contract); everything else is the index.

    Both directed containments stay batch-asymmetric:
    - batch-doc-inside-index-doc: the BATCH's probe shingles (m
      smallest-hash per doc — batch_size x m rows) broadcast against
      the streaming corpus shingle table;
    - index-doc-inside-batch-doc: the corpus's stored probe table
      streams against the BROADCAST batch shingle set.
    So the corpus side is never shuffled and never self-joined; in
    steady state both the index's shingle table and its probe table
    are stored artifacts. min_hits has the `containment_probe_
    candidates` semantics (capped at the prober's probe count — the
    full-containment recall-1.0 guarantee holds). The verify stage is
    the exact shingle intersection scoring BOTH directed containments;
    within the batch keep-first applies (other < new_doc), against the
    index any hit counts. Output: (new_doc, other_doc, n_common,
    containment_new, containment_other, in_index)."""
    words = _words_df(docs, text_col).persist()
    sh = shingle_table(docs, text_col, n, max_shingle_df, words).persist()
    probes = _probe_shingles(sh, m_probes)
    is_batch = lambda c: c < F.lit(new_max_id)  # noqa: E731
    # direction A: batch probes (broadcast) into the streaming corpus
    dir_a = (
        sh.select(F.col("doc_id").alias("o_doc"), "shingle")
        .join(F.broadcast(probes.filter(is_batch(F.col("p_doc")))), "shingle")
        .filter(
            (F.col("o_doc") != F.col("p_doc"))
            & (~is_batch(F.col("o_doc")) | (F.col("o_doc") < F.col("p_doc")))
        )
        .groupBy(
            F.col("p_doc").alias("new_doc"), F.col("o_doc").alias("other_doc")
        )
        .agg(F.count(F.lit(1)).alias("hits"), F.max("n_probes").alias("np"))
    )
    # direction B: the corpus's probe table (streaming) into the
    # broadcast batch shingles
    dir_b = (
        probes.join(
            F.broadcast(
                sh.filter(is_batch(F.col("doc_id"))).select(
                    F.col("doc_id").alias("t_doc"), "shingle"
                )
            ),
            "shingle",
        )
        .filter(
            (F.col("p_doc") != F.col("t_doc"))
            & (~is_batch(F.col("p_doc")) | (F.col("p_doc") < F.col("t_doc")))
        )
        .groupBy(
            F.col("t_doc").alias("new_doc"), F.col("p_doc").alias("other_doc")
        )
        .agg(F.count(F.lit(1)).alias("hits"), F.max("n_probes").alias("np"))
    )
    floor = lambda: F.least(F.lit(min_hits), F.col("np"))  # noqa: E731
    cands = (
        dir_a.filter(F.col("hits") >= floor())
        .select("new_doc", "other_doc")
        .unionByName(
            dir_b.filter(F.col("hits") >= floor()).select("new_doc", "other_doc")
        )
        .distinct()
    )
    inter = _shared_shingles(cands, sh, "new_doc", "other_doc")
    overlap = _with_sizes(inter, sh, "new_doc", "other_doc")
    return _containment_at_least(
        overlap, threshold, "containment_new", "containment_other"
    ).select(
        "new_doc",
        "other_doc",
        F.col("n_common").cast("long").alias("n_common"),
        "containment_new",
        "containment_other",
        (F.col("other_doc") >= F.lit(new_max_id)).alias("in_index"),
    )
