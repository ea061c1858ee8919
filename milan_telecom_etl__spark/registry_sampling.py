"""Registry entries: deterministic sampling, train/val/test splits,
corpus mixing, and context-window packing — the selection/assembly
stages of a training-data pipeline.

All selection is HASH-based (md5-derived), never RNG-based: the same
row always lands in the same sample/split/bin on any engine, any run,
any cluster size — the property that makes 100 TB pipelines resumable
and auditable. (Spark's df.sample is seed-dependent per-partition and
NOT stable across repartitioning — unsuitable for reproducible corpus
work.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .queries_registry import register
from .sources.parquet import load_table, table_row_count

# Stable per-row hash in [0, 1000): md5 of the key with a salt so
# different stages draw independent "randomness".
_HASH_SQL = "(('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 15))::BIGINT % 1000)"


def _hash_bucket(key: Column, salt: str) -> Column:
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15), 16, 10
    ).cast("long")
    return h % 1000


@register(
    "deterministic_sample",
    f"""
    SELECT doc_id, n_chars FROM documents
    WHERE {_HASH_SQL.format(salt="sample:", key="doc_id")} < 50
    """,
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% systematic sample by key hash — reproducible on any engine/
    cluster (unlike seed-based df.sample)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(_hash_bucket(F.col("doc_id"), "sample:") < 50).select(
        "doc_id", "n_chars"
    )


@register(
    "train_val_test_split",
    f"""
    SELECT split, count(*) AS n_docs,
           round(CAST(sum(n_chars) AS DOUBLE), 6) AS total_chars
    FROM (
      SELECT n_chars,
        CASE WHEN {_HASH_SQL.format(salt="split:", key="doc_id")} < 900 THEN 'train'
             WHEN {_HASH_SQL.format(salt="split:", key="doc_id")} < 950 THEN 'val'
             ELSE 'test' END AS split
      FROM documents
    ) GROUP BY split
    """,
)
def q_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test assignment by salted key hash — membership
    is a pure function of doc_id (no leakage on re-runs or appends)."""
    docs = load_table(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"), "split:")
    split = (
        F.when(b < 900, "train").when(b < 950, "val").otherwise("test").alias("split")
    )
    return (
        docs.select(split, "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("n_chars").cast("double"), 6).alias("total_chars"),
        )
    )


@register(
    "corpus_mixing",
    f"""
    WITH rates AS (
      SELECT * FROM (VALUES ('src0', 1000), ('src1', 500), ('src2', 250)) AS t(source, keep_per_mille)
    )
    SELECT d.source, count(*) AS n_kept
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {_HASH_SQL.format(salt="mix:", key="d.doc_id")} < r.keep_per_mille
    GROUP BY d.source
    """,
)
def q_corpus_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture sampling (100%/50%/25% here): the data-mixing
    stage that reweights sources for pretraining. The rate table rides a
    broadcast join; selection stays hash-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [("src0", 1000), ("src1", 500), ("src2", 250)], "source string, keep_per_mille int"
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(_hash_bucket(F.col("doc_id"), "mix:") < F.col("keep_per_mille"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@register(
    "context_packing",
    """
    WITH toks AS (
      SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    runsum AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS bin_id,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM runsum GROUP BY 1
    """,
)
def q_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs (in stable doc_id order) to ~2048-
    token context bins via running token sums — the assembly step that
    turns a document corpus into training sequences. The global running
    sum is the one inherently sequential step; at 100 TB it becomes
    per-shard packing (partition by source/date, pack within shard),
    which this same expression does under a partitionBy."""
    docs = load_table(spark, sf_dir, "documents")
    from .operators.text import word_count

    toks = docs.select("doc_id", word_count(F.col("text")).alias("n_tokens"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    runsum = toks.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        runsum.withColumn(
            "bin_id", F.floor((F.col("cum") - F.col("n_tokens")) / 2048).cast("long")
        )
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("bin_tokens"))
    )


def _simhash_band_sql(bits: int = 32) -> str:
    from .registry_text import _simhash_sql

    # reuse the full simhash oracle as a subquery, then band it
    return f"""
    WITH sig AS ({_simhash_sql(bits)}),
    banded AS (
      SELECT doc_id, b.band_id, (simhash >> (b.band_id * 8)) & 255 AS band_val
      FROM sig, (VALUES (0), (1), (2), (3)) AS b(band_id)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    """


@register("simhash_band_candidates", _simhash_band_sql())
def q_simhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 32-bit signature split into 4 byte
    bands; docs sharing any band are candidates (hamming ≤ 24 guaranteed
    caught ≥ band-wise). Same banding trick as MinHash-LSH, but over the
    token-frequency signature."""
    from .operators.dedup import simhash

    # the banded table feeds both self-join sides; persisted, the
    # tokenize + 32-bit vote pipeline runs once, not twice (r7 A/B at
    # sf0.1: cold 5.7 -> 2.9 s, steady 1.73 -> 1.49 s — the r6
    # recompute-wins note predated the per-query clearCache bench
    # protocol and no longer holds)
    sig = simhash(load_table(spark, sf_dir, "documents"))
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.shiftright(F.col("simhash"), b * 8).bitwiseAND(F.lit(255)).alias("band_val"),
                )
                for b in range(4)
            ]
        )
    ).alias("band")
    banded = sig.select("doc_id", bands).select(
        "doc_id", F.col("band.band_id").alias("band_id"), F.col("band.band_val").alias("band_val")
    ).persist()
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _simhash_auto_sql() -> str:
    """Full value oracle for the AUTO twin (VERDICT r6 #2 close-out):
    the runtime-derived constants are derived in SQL too — band_bits
    from count(*) via a cfg CTE, the dynamic bit range via
    unnest(range(0, 4*band_bits)) instead of per-bit unrolled columns,
    the band mask via a dynamic shift. Bit votes and the signature
    reassembly are integer sums (order-independent), so no float-parity
    hazard anywhere; tokenization/hash mirror the green pinned twin."""
    from .registry_text import _norm

    return f"""
    WITH n AS (SELECT count(*) AS cnt FROM documents),
    cfg AS (SELECT least(15, greatest(8,
              CAST(ceil(log2(greatest(cnt, 2) / 32.0)) AS INT))) AS band_bits
            FROM n),
    docs AS (SELECT doc_id, {_norm()} AS t FROM documents),
    tok AS (
      SELECT doc_id,
             ('0x' || substr(md5(unnest(string_split(t, ' '))), 1, 15))::BIGINT AS h
      FROM docs),
    bitsq AS (SELECT unnest(range(0, 4 * band_bits)) AS b FROM cfg),
    v AS (
      SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM tok, bitsq GROUP BY doc_id, b),
    sig AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS simhash
      FROM v GROUP BY doc_id),
    banded AS (
      SELECT doc_id, bd.band_id,
             (simhash >> (bd.band_id * band_bits))
               & ((1::BIGINT << band_bits) - 1) AS band_val
      FROM sig, cfg, (VALUES (0), (1), (2), (3)) bd(band_id)),
    live AS (SELECT band_id, band_val FROM banded
             GROUP BY 1, 2 HAVING count(*) <= 1000)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN live l
      ON a.band_id = l.band_id AND a.band_val = l.band_val
    JOIN banded b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
      AND a.doc_id < b.doc_id
    """


@register("simhash_band_candidates_auto", _simhash_auto_sql())
def q_simhash_band_candidates_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of simhash_band_candidates (r6 profile: the
    pinned twin's 256-value bands go quadratic — 14x wall, 63x rows at
    10x data). 60-bit signature, band width log2(n/32) keeps bucket
    population ~constant as the corpus grows; oversized buckets are
    dropped whole (stop-bucket guard, the max_shingle_df pattern)."""
    from .operators.dedup import simhash_band_candidates_auto

    return simhash_band_candidates_auto(
        load_table(spark, sf_dir, "documents"),
        n_docs=table_row_count(sf_dir, "documents"),
    )


_FULL_HASH_SQL = "('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 15))::BIGINT"


@register(
    "stratified_cap",
    f"""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
           round(avg(value), 6) AS avg_value
    FROM (
      SELECT event_type, value, row_number() OVER (
        PARTITION BY event_type
        ORDER BY {_FULL_HASH_SQL.format(salt="cap:", key="event_id")}, event_id) AS rk
      FROM events
    ) WHERE rk <= 2000 GROUP BY event_type
    """,
)
def q_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balancing downsample: keep at most K rows per class,
    chosen by salted key-hash rank — a uniform, reproducible draw
    within each class (rare classes keep everything, head classes are
    capped). The avg over kept rows proves both engines selected the
    identical subset. One window shuffle keyed on the class; at 100 TB
    pre-aggregate class counts first and skip the window entirely for
    classes already under the cap."""
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("cap:"), F.col("event_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("event_type").orderBy(h, F.col("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2000)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@register(
    "weighted_sample",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS BIGINT) + 1 AS w,
             ({_FULL_HASH_SQL.format(salt="ws:", key="doc_id")} % 1000000 + 0.5)
               / 1000000.0 AS u
      FROM documents
    ), r AS (
      SELECT doc_id, source, w,
             row_number() OVER (
               PARTITION BY source ORDER BY ln(u) / w DESC, doc_id) AS rk
      FROM t
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(w) AS BIGINT) AS w_sum, CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM r WHERE rk <= 10 GROUP BY source
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, per source: the
    Efraimidis–Spirakis one-pass scheme — rank by ln(u)/w (u a salted
    hash-uniform, w the token-count weight) and keep the top k per
    partition. Longer documents draw proportionally more keep
    probability, the draw is engine-reproducible (no RNG state: u is a
    pure function of doc_id), and the whole thing is one window shuffle
    keyed on source. Integer outputs (counts + weight/id sums) prove
    both engines kept the IDENTICAL subset; the only float is the sort
    key, where sub-ulp libm drift cannot reorder hash-grid-spaced keys
    and exact ties fall to the doc_id tie-break. At 100 TB this is the
    corpus-mixing draw: temperature-adjust w per source and the same
    window does quality-weighted mixture sampling."""
    from .operators.text import word_count

    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    t = docs.select(
        "doc_id",
        "source",
        (word_count(F.col("text")) + 1).cast("long").alias("w"),
        ((h % 1000000 + 0.5) / 1000000.0).alias("u"),
    )
    wnd = Window.partitionBy("source").orderBy(
        (F.log("u") / F.col("w")).desc(), "doc_id"
    )
    return (
        t.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= 10)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("w").cast("long").alias("w_sum"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )


@register(
    "training_shards",
    """
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents
    )
    SELECT doc_id, CAST(h % 8 AS BIGINT) AS shard_id,
           CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM h
    """,
)
def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard export assignment: shard =
    md5(doc_id) mod n_shards, position = rank of the hash within the
    shard — i.e. a reproducible global shuffle + sharding of the corpus
    for a data loader, independent of input order, partitioning, or
    engine (the property seed-based RNG shuffles lack; module
    docstring). The hash doubles as the intra-shard shuffle order, so
    consecutive positions are content-uncorrelated — what curriculum-
    free pretraining wants from "shuffled" shards.

    Scale story: the hash is a pure projection; md5 uniformity balances
    shards to within sampling noise regardless of key skew; the
    row_number window sorts WITHIN each shard only (shuffle keyed on
    shard_id, n_shards-way; at 100 TB you'd raise n_shards to
    O(total/shard_target) so each sort fits an executor — the constant
    is a knob, the plan shape is unchanged). A writer would
    partitionBy(shard_id) with pos as the in-file order."""
    from pyspark.sql.window import Window

    n_shards = 8
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("shard_id").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("shard_id", (F.col("h") % n_shards).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard_id", "pos")
    )


@register(
    "padding_waste_buckets",
    """
    WITH toks AS (
      SELECT doc_id,
             greatest(1, CAST(ceil(ln(greatest(n_chars, 1) / 5.0) / ln(2))
                              AS BIGINT)) AS lb
      FROM documents
    ), b AS (
      SELECT doc_id, CAST(power(2, lb) AS BIGINT) AS bucket_cap,
             CAST(greatest(n_chars, 1) / 5.0 AS DOUBLE) AS est_toks
      FROM toks JOIN documents USING (doc_id)
    )
    SELECT bucket_cap, CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(est_toks), 6) AS sum_tokens,
           round(sum(bucket_cap - est_toks), 6) AS padding_waste,
           round(sum(bucket_cap - est_toks) / sum(bucket_cap), 6)
             AS waste_ratio
    FROM b GROUP BY 1
    """,
)
def q_padding_waste_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: docs grouped into power-of-2
    token-budget buckets (est. tokens = n_chars/5, the chars-per-token
    rule of thumb), reporting per bucket how many pad tokens a
    fixed-length batcher would burn — the number that justifies (or
    kills) sequence-bucketed batching vs plain context packing
    (`context_packing` is the packing alternative; this is the
    measurement that picks between them).

    Scale story: a pure projection (log2 bucket id) + one map-side-
    combined hash-agg over ~30 bucket keys — the same
    aggregate-everything-into-tiny-domains shape as class_balance/
    value_histogram; nothing wider than n rows, output bounded by
    log2(max_len) buckets however large the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    est = F.greatest(F.col("n_chars"), F.lit(1)) / F.lit(5.0)
    lb = F.greatest(F.lit(1), F.ceil(F.log(2.0, est)).cast("long"))
    return (
        docs.select(
            F.pow(F.lit(2.0), lb).cast("long").alias("bucket_cap"),
            est.cast("double").alias("est_toks"),
        )
        .groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.sum("est_toks"), 6).alias("sum_tokens"),
            F.round(F.sum(F.col("bucket_cap") - F.col("est_toks")), 6).alias(
                "padding_waste"
            ),
            F.round(
                F.sum(F.col("bucket_cap") - F.col("est_toks"))
                / F.sum("bucket_cap"),
                6,
            ).alias("waste_ratio"),
        )
    )


_MIX_ALPHA = 0.7
_MIX_BUDGET = 1_000_000


@register(
    "temperature_mixing",
    f"""
    WITH per_src AS (
      SELECT source,
             CAST(sum(len(regexp_extract_all(text, '[a-zA-Z0-9]+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ), q AS (
      SELECT source, n_tokens,
             CAST(round(pow(n_tokens, {_MIX_ALPHA}) * 1e9) AS BIGINT) AS wq
      FROM per_src
    ), tot AS (
      SELECT CAST(sum(wq) AS BIGINT) AS swq, CAST(sum(n_tokens) AS BIGINT) AS st
      FROM q
    )
    SELECT q.source, q.n_tokens,
           round(q.wq * 1.0 / tot.swq, 6) AS weight,
           round(q.wq * 1.0 / tot.swq * {_MIX_BUDGET} / q.n_tokens, 6)
             AS effective_epochs,
           q.wq * tot.st > q.n_tokens * tot.swq AS upsampled
    FROM q, tot
    """,
)
def q_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the alpha-sampling rule the
    LLaMA / Pile recipes publish): per-source sampling weight
    proportional to n_tokens^alpha (alpha = 0.7 < 1 flattens the
    distribution — head sources down-weighted, tail sources upsampled)
    plus the effective-epoch count each source would see at a fixed
    token budget (epochs > 1 on small sources is the overfitting signal
    the alpha knob trades against diversity).

    Cross-engine float discipline: pow(n, 0.7) is the one
    transcendental — quantized to integer nano-units (the ln-1e9
    convention the NB/LM entries proved); every ratio after that is
    integer-exact until the final 6dp round, and the `upsampled` flag
    is a PURE INTEGER cross-multiplication (wq*st > n*swq), no float
    boundary at all. Scale: per-source token counts are one hash-agg
    (20 rows out); the weight table broadcasts to whatever sampler
    consumes it (corpus_mixing's keep-rate join shape)."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(
            F.size(F.expr(r"regexp_extract_all(text, '[a-zA-Z0-9]+', 0)"))
        ).cast("long").alias("n_tokens")
    )
    q = per_src.withColumn(
        "wq", F.round(F.pow(F.col("n_tokens"), F.lit(_MIX_ALPHA)) * F.lit(1e9)).cast("long")
    )
    tot = q.agg(
        F.sum("wq").cast("long").alias("swq"),
        F.sum("n_tokens").cast("long").alias("st"),
    )
    return q.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.round(F.col("wq") / F.col("swq"), 6).alias("weight"),
        F.round(F.col("wq") / F.col("swq") * F.lit(_MIX_BUDGET) / F.col("n_tokens"), 6).alias(
            "effective_epochs"
        ),
        (F.col("wq") * F.col("st") > F.col("n_tokens") * F.col("swq")).alias("upsampled"),
    )


# Group-disjoint splitting (GroupShuffleSplit semantics): the
# doc-grain hash split above is leakage-safe per DOCUMENT, but a
# user-behavior model leaks if one user's events straddle train and
# test. Split on the GROUP key instead — membership is a pure
# function of user_id, so every event of a user lands in one split on
# any engine, any re-run, any append.
@register(
    "group_disjoint_split",
    f"""
    WITH s AS (
      SELECT user_id,
             CASE WHEN {_HASH_SQL.format(salt="gsplit:", key="user_id")} < 900
                    THEN 'train'
                  WHEN {_HASH_SQL.format(salt="gsplit:", key="user_id")} < 950
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM events
    ),
    leak AS (
      SELECT count(*) AS leaky_users FROM (
        SELECT user_id FROM (SELECT DISTINCT user_id, split FROM s)
        GROUP BY user_id HAVING count(*) > 1)
    )
    SELECT split,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(leak.leaky_users AS BIGINT) AS leaky_users
    FROM s CROSS JOIN leak
    GROUP BY split, leak.leaky_users
    """,
)
def q_group_disjoint_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 split hashed on user_id (the group key), with the
    leakage audit IN the result: leaky_users counts users observed in
    more than one split and must be 0 by construction — the column
    exists so a refactor that breaks group-disjointness (e.g.
    switching to event-grain hashing) fails the value oracle, not a
    code review. One hash agg per side; the audit is a user-grain
    aggregate (bounded by |users|, not |events|)."""
    ev = load_table(spark, sf_dir, "events")
    b = _hash_bucket(F.col("user_id"), "gsplit:")
    s = ev.select(
        "user_id",
        F.when(b < 900, "train").when(b < 950, "val").otherwise("test").alias("split"),
    )
    leak = (
        s.select("user_id", "split")
        .distinct()
        .groupBy("user_id")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("leaky_users"))
    )
    return (
        s.groupBy("split")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .crossJoin(F.broadcast(leak))
        .select(
            "split",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("leaky_users").cast("long").alias("leaky_users"),
        )
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap (the distributed bootstrap: resample weights ~
# Poisson(1) instead of materializing resamples — Efron's bootstrap as
# used at cluster scale, cf. bag-of-little-bootstraps literature). All
# R replicates ride ONE corpus pass as parallel weighted aggregates —
# no explode, no per-replicate scan — so the CI costs the same single
# map-side-combine aggregation at any corpus size.
# ---------------------------------------------------------------------------

BOOT_REPS = 32
# Poisson(1) CDF, P(X <= k) for k = 0..6 (15 significant digits —
# identical literals on both engines); u >= last threshold caps w at 7
_POIS_CDF = (
    "0.367879441171442", "0.735758882342885", "0.919698602928606",
    "0.981011843123846", "0.996340153172656", "0.999405815182418",
    "0.999916758850712",
)
_TWO48 = 281474976710656.0  # 2^48: 12 hex chars of md5, exact in double


def _boot_u_sql(i: int) -> str:
    return (
        f"(('0x' || substr(md5('boot{i}:' || CAST(doc_id AS VARCHAR)), 1, 12))"
        f"::BIGINT / {_TWO48})"
    )


def _boot_w_sql(i: int) -> str:
    u = _boot_u_sql(i)
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"(CASE {cases} ELSE 7 END)"


def _bootstrap_sql() -> str:
    sums = ",\n           ".join(
        f"sum({_boot_w_sql(i)} * n_chars) AS s{i}, sum({_boot_w_sql(i)}) AS c{i}"
        for i in range(BOOT_REPS)
    )
    means = ", ".join(f"s{i} * 1.0 / c{i}" for i in range(BOOT_REPS))
    return f"""
    WITH a AS (
      SELECT sum(n_chars) * 1.0 / count(*) AS point,
           {sums}
      FROM documents
    ),
    m AS (SELECT unnest([{means}]) AS m FROM a)
    SELECT round(a.point, 6) AS mean_chars,
           round(quantile_cont(m.m, 0.025), 6) AS ci_lo,
           round(quantile_cont(m.m, 0.975), 6) AS ci_hi,
           CAST({BOOT_REPS} AS INT) AS n_reps
    FROM m, a
    GROUP BY a.point
    """


@register("bootstrap_mean_ci", _bootstrap_sql())
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap CI for the corpus mean document length, via the
    Poisson bootstrap: replicate r's weight for a doc is
    Poisson(1)-inverse-CDF of a hash-uniform u_r(doc_id) (12 md5 hex
    chars / 2^48 — exact in double on both engines, thresholds are
    shared 15-digit literals), so every replicate is deterministic
    and engine-identical. All 32 replicates are computed as 64
    parallel aggregate expressions in ONE corpus scan (map-side
    partials; the shuffle carries 65 numbers total); replicate means
    then feed an exact percentile over 32 rows. At 100 TB: same one
    pass, same 65-number shuffle — the bootstrap costs one
    aggregation regardless of R x corpus size."""
    docs = load_table(spark, sf_dir, "documents")

    # r15 optimization round: the former shape inlined each replicate's
    # weight expression (md5 -> conv -> /2^48 -> 7-threshold CASE) into
    # BOTH of its aggregates, so the md5 subtree appeared 7 (CASE arms)
    # x 2 (aggregates) = 14 times per replicate — a 386 KB formatted
    # plan whose cost at sf0.1 was pure overhead: ~2.5-3.6 s of
    # py4j-by-py4j Column construction plus ~2 s of Catalyst
    # re-optimization PER REP, with execution itself in the
    # milliseconds. Factor the tree instead: project u_i once (32 md5
    # trees, one let-binding projection built as a single SQL string =
    # one parse instead of thousands of py4j calls), flat-CASE the
    # Poisson inverse-CDF over the BOUND u_i column, and aggregate over
    # bound w_i columns. CollapseProject cannot re-inline the u_i
    # projection (each u_i is a non-cheap expr referenced 7x above), so
    # the factored shape survives to the physical plan. Arithmetic is
    # expression-for-expression identical (same md5/conv/division/CASE
    # thresholds), only bound through columns — value-oracle-equal by
    # construction, and re-proven against the unchanged DuckDB oracle.
    def u_sql(i: int) -> str:
        return (
            f"cast(conv(substring(md5(concat('boot{i}:', cast(doc_id as string)))"
            f", 1, 12), 16, 10) as bigint) / {_TWO48!r}D"
        )

    def w_sql(i: int) -> str:
        arms = " ".join(
            f"WHEN u{i} < {t}D THEN {k}" for k, t in enumerate(_POIS_CDF)
        )
        return f"CASE {arms} ELSE 7 END"

    with_u = docs.selectExpr(
        "n_chars", *[f"{u_sql(i)} AS u{i}" for i in range(BOOT_REPS)]
    )
    with_w = with_u.selectExpr(
        "n_chars", *[f"{w_sql(i)} AS w{i}" for i in range(BOOT_REPS)]
    )
    aggs = [
        (F.sum("n_chars") * 1.0 / F.count(F.lit(1))).alias("point"),
    ]
    for i in range(BOOT_REPS):
        wi = F.col(f"w{i}")
        aggs.append(F.sum(wi * F.col("n_chars")).alias(f"s{i}"))
        aggs.append(F.sum(wi).alias(f"c{i}"))
    a = with_w.agg(*aggs)
    means = F.array(
        *[F.col(f"s{i}") * 1.0 / F.col(f"c{i}") for i in range(BOOT_REPS)]
    )
    m = a.select("point", F.explode(means).alias("m"))
    return m.groupBy("point").agg(
        F.round(F.percentile("m", 0.025), 6).alias("ci_lo"),
        F.round(F.percentile("m", 0.975), 6).alias("ci_hi"),
    ).select(
        F.round(F.col("point"), 6).alias("mean_chars"),
        "ci_lo",
        "ci_hi",
        F.lit(BOOT_REPS).cast("int").alias("n_reps"),
    )
