"""Physical-plan audits (SURVEY.md §4): the docstrings in plans/ claim
specific plan shapes — these tests pin them so a regression (lost
broadcast, global sort instead of top-k, unpushed filter) fails CI."""

from __future__ import annotations

from pyspark.sql import functions as F

from milan_telecom_etl__spark.plans.queries import star_join_revenue, top_cells_events
from milan_telecom_etl__spark.operators.constraints import fk_enforce, fk_violations
from milan_telecom_etl__spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


import pytest


@pytest.fixture(autouse=True)
def _clean_block_cache(spark):
    """Plan pins must see the plans a FRESH session would produce:
    registry entries legitimately persist shared subtrees (words
    tables, banded signatures, the embeddings corpus) and the driver
    collects them later, so they never unpersist — when the full suite
    runs, a leaked InMemoryRelation whose logical plan matches a pin
    test's subtree substitutes a cache scan for the pinned FileScan/
    broadcast shape (first seen r7: knn_method_eval's persisted
    embeddings flipping test_semdedup_two_level_plan_stays_broadcast
    under full-suite ordering only). Cleared again after each test, so
    the persists a test leaves never reach the next module."""
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_top_cells_uses_topk_not_global_sort(spark):
    plan = _plan(top_cells_events(load_table(spark, SF, "events")))
    assert "TakeOrderedAndProject" in plan  # O1: true top-k
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_star_join_broadcasts_dims(spark):
    df = star_join_revenue(
        load_table(spark, SF, "lineitem"),
        load_table(spark, SF, "orders"),
        load_table(spark, SF, "customer"),
        load_table(spark, SF, "nation"),
        load_table(spark, SF, "region"),
    )
    plan = _plan(df)
    # dims ride broadcast joins; no shuffle for customer/nation/region
    assert plan.count("BroadcastHashJoin") >= 3


def test_semi_and_anti_joins_broadcast(spark):
    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer")
    semi = _plan(fk_enforce(orders, cust, "o_custkey", "c_custkey"))
    anti = _plan(fk_violations(orders, cust, "o_custkey", "c_custkey"))
    assert "LeftSemi" in semi and "BroadcastHashJoin" in semi
    assert "LeftAnti" in anti and "BroadcastHashJoin" in anti


def test_filter_pushdown_reaches_parquet(spark):
    df = load_table(spark, SF, "lineitem").filter(F.col("l_quantity") > 30).select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan
    # column pruning: the scan reads only the 2 needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_aggregation_runs_in_codegen(spark):
    from milan_telecom_etl__spark.plans.views import hourly_events

    plan = _plan(hourly_events(load_table(spark, SF, "events")))
    # map-side partial aggregation BEFORE the exchange (shuffle moves
    # per-(hour,cell) partials, not raw rows), vectorized parquet scan
    assert "partial_sum" in plan and plan.index("partial_sum") > plan.index("Exchange")
    assert "HashAggregate" in plan  # hash agg, not sort agg
    assert "Batched: true" in plan  # columnar scan


def test_bucketed_join_is_shuffle_free(spark):
    from milan_telecom_etl__spark.pipeline import write_bucketed

    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    write_bucketed(orders.select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey", 8)
    write_bucketed(
        lineitem.select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey", 8
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would otherwise broadcast (which also turns
        # bucketing off); at warehouse scale both sides exceed the
        # threshold naturally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        joined = a.join(b, a.o_orderkey == b.l_orderkey)
        joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located bucketed join: sort-merge with NO shuffle exchange
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_quality_stats_joins_broadcast(spark):
    import __spark_entry__ as m

    # grouped z-score and MAD outliers must broadcast their stats side
    for name in ("group_zscore", "mad_outliers"):
        plan = _plan(m.queries()[name](spark, SF))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_bigram_topk_is_take_ordered(spark):
    import __spark_entry__ as m

    plan = _plan(m.queries()["bigram_counts"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_kmeans_estep_broadcasts_centroids(spark):
    import __spark_entry__ as m

    plan = _plan(m.queries()["kmeans_estep"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_assignment_fold_is_shuffle_free(spark):
    # the library E-step (literal centroid fold) must add NO exchange
    from milan_telecom_etl__spark.operators.clustering import assign_clusters, seed_rows

    emb = load_table(spark, SF, "embeddings")
    seeds = seed_rows(emb, 3)
    plan = _plan(assign_clusters(emb, seeds))
    assert "Exchange" not in plan


def test_unpivot_is_single_scan_expand(spark):
    import __spark_entry__ as m

    plan = _plan(m.queries()["unpivot_measures"](spark, SF))
    assert "Expand" in plan
    assert plan.count("FileScan") == 1  # melt reads the input once, not 4x


def test_time_weighted_avg_reuses_window_partitioning(spark):
    # window(user_id) then groupBy(user_id): the hash-agg must reuse the
    # window's exchange — exactly one shuffle end-to-end.
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["time_weighted_avg"](spark, SF))
    assert plan.count("Exchange") == 1


def test_regr_trend_has_partial_aggregation(spark):
    # regr_* must map-side combine (HashAggregate below the exchange):
    # each partition reduces to k·|groups| moment rows before shuffling.
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["regr_value_trend"](spark, SF))
    pre_exchange = plan.split("Exchange")[-1]  # bottom-most fragment
    assert "HashAggregate" in pre_exchange


def test_exists_subquery_decorrelates_to_semi_join(spark):
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["exists_big_order"](spark, SF))
    assert "LeftSemi" in plan  # Catalyst decorrelated EXISTS


def test_sliding_window_partial_agg_below_exchange(spark):
    # Expand (4-window fan-out) must be collapsed by a map-side partial
    # HashAggregate BEFORE the exchange: the shuffle carries per-window
    # partials, not 4x raw events.
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["sliding_window_counts"](spark, SF))
    assert "Expand" in plan
    below = plan.split("Exchange")[-1]
    assert "HashAggregate" in below and "Expand" in below


def test_tpch_q3_broadcasts_customer_side(spark):
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["tpch_q3"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # exactly one shuffle pair for the big join/agg: orderkey exchange
    assert plan.count("Exchange hashpartitioning") <= 2


def test_near_dup_edge_build_is_lsh_pruned(spark):
    """VERDICT r1 #1: the near-dup edge substrate must come from LSH
    banding (equality join on band_hash), never an UNBANDED shingle
    self-join (Σdf² blowup at corpus scale). An unbanded self-join shows
    up as a join keyed on shingle alone; the verified path only ever
    joins shingle TOGETHER WITH a doc key."""
    import re

    from milan_telecom_etl__spark.operators import dedup as D

    docs = load_table(spark, SF, "documents")
    plan = _plan(D.lsh_verified_pairs(docs))
    assert "band_hash" in plan  # candidates come from the banding join
    # no INNER join keyed on shingle alone (the Σdf² pair-generating
    # self-join); the LeftAnti single-key shingle join is the df cap
    # itself and is fine (bounded by the broadcast heavy-shingle list)
    assert not re.search(r"Join \[shingle#\d+\], \[shingle#\d+\], Inner", plan)

    # the edge substrate (checked banded above) is consumed through a
    # materialized label snapshot: the cluster output must be the tiny
    # label set broadcast back onto the corpus, not a re-derivation of
    # the whole LSH lineage per consumer (at this size the labels come
    # from the single-task union-find's lazy localCheckpoint)
    clusters = D.near_dup_clusters(docs, threshold=0.5)
    cplan = clusters._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in cplan  # snapshotted labels, lineage truncated
    assert "broadcast" in cplan  # reattachment join broadcasts the labels


def test_tpch_q9_broadcasts_all_dims_one_exchange_pair(spark):
    # part/supplier/nation attach by broadcast; the only hash exchanges
    # belong to the lineitem-orders orderkey join + final group-by.
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["tpch_q9"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("Exchange hashpartitioning") <= 3


def test_tpch_q21_semi_anti_chain(spark):
    # sole-blame attribution = one LeftSemi + one LeftAnti, both keyed
    # on l_orderkey (no exists-subquery re-execution per row).
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["tpch_q21"](spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_tpch_q16_distinct_then_broadcast_anti(spark):
    import __spark_entry__ as entry

    plan = _plan(entry.queries()["tpch_q16"](spark, SF))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_l2_normalize_materializes_norm_once(spark):
    # the norm fold must appear ONCE in the plan, not inlined into the
    # per-element division lambda (64x re-eval otherwise; 7x slowdown)
    from milan_telecom_etl__spark.operators.similarity import l2_normalize

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(l2_normalize(emb))
    assert plan.count("zip_with") == 1
    # and the fence must survive composition under a generator
    # (posexplode_outer: plain posexplode infers a size()>0 filter that
    # pushes below the fence with the full expression substituted)
    composed = l2_normalize(emb).select("vec_id", F.posexplode_outer("unit"))
    assert _plan(composed).count("zip_with") == 1


def test_fuzzy_pairs_joins_on_block_keys_not_nested_loop(spark):
    """VERDICT r3 #3: the fuzzy match must be an EQUALITY join on the
    deletion-variant block keys — never a nested-loop/cartesian over a
    degenerate block."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["fuzzy_supplier_pairs"](spark, SF))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # the join keys are the block columns, hashed or sorted on equality
    assert "pos" in plan and "variant" in plan


def test_pagerank_iterations_broadcast_rank_state(spark):
    """Rank state below the node threshold rides BroadcastHashJoins;
    the persisted edge list must not be re-sorted per iteration."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["pagerank_part_supplier"](spark, SF))
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Round-5 operators
# ---------------------------------------------------------------------------


def test_countmin_probe_is_broadcast_no_global_sort_on_sketch(spark):
    """The sketch (d x w rows) must join its probes via broadcast hash
    join; sketch build aggregates with map-side partial agg (two
    HashAggregates around one Exchange)."""
    from milan_telecom_etl__spark.registry_quality import q_countmin_heavy_hitters

    plan = _plan(q_countmin_heavy_hitters(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_auc_has_no_single_partition_global_window(spark):
    """The rank prefix must run per range-bucket windows plus a 16-row
    offset window — never one window over all distinct scores. The
    only empty-partitionBy window allowed is over the per-bucket
    totals (16 rows)."""
    from milan_telecom_etl__spark.registry_ml import q_auc_returnflag

    plan = _plan(q_auc_returnflag(spark, SF))
    # the in-bucket window is keyed on the value-derived range bucket
    assert "windowspecdefinition(pid" in plan
    assert plan.count("Window") >= 2


def test_bloom_decontamination_broadcasts_bit_table(spark):
    """The corpus probe joins the <=1024-row (word, bits) table via
    broadcast — the fixed-size build side is the point."""
    from milan_telecom_etl__spark.registry_text import q_bloom_decontamination

    plan = _plan(q_bloom_decontamination(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_pq_codebook_and_adc_ride_broadcasts(spark):
    from milan_telecom_etl__spark.registry_similarity import q_knn_pq_adc

    plan = _plan(q_knn_pq_adc(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # codebook/subspace fan-out


def test_setsim_verify_is_array_intersect_not_join(spark):
    """Round-6 restructure pin: the exact-verify stage must be the
    per-pair array_intersect on the two docs' shingle arrays (plus the
    candidate self-join), NOT a per-shingle tok join + groupBy + size
    joins. (No Exchange-count pin: the pre-AQE textual plan repeats
    shared persisted subtrees nondeterministically; the structural
    markers below are what the restructure actually guarantees.)"""
    from milan_telecom_etl__spark.registry_text import q_setsim_prefix_join

    plan = _plan(q_setsim_prefix_join(spark, SF))
    assert "array_intersect" in plan
    # the old shape's per-shingle verify aggregated an `i` intersection
    # count column; the array path has no such aggregate
    assert "count(1) AS i" not in plan and " AS i#" not in plan
    # no corpus-wide distinct on the exploded shingle table: dedupe
    # happens map-side inside array_distinct before the explode
    assert "array_distinct" in plan


def test_semdedup_auto_assignment_broadcasts_seeds(spark):
    """Auto-k twin keeps the pinned twin's plan shape: seed assignment
    is a broadcast fan-out (map-side fold), never a shuffled join of
    the corpus against the seed set."""
    from milan_telecom_etl__spark.registry_similarity import q_semdedup_auto

    plan = _plan(q_semdedup_auto(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan


def test_semdedup_two_level_plan_stays_broadcast(spark):
    """The IVF two-level assignment (large-k path) must keep every
    seed-derived frame on the broadcast side: coarse routing is a
    broadcast fan-out, the fine step a BroadcastHashJoin on gid, the
    only corpus shuffle the vec_id hash exchange for the top-p cell
    pick — never a sort-merge join of the corpus against seeds."""
    from pyspark.sql import functions as F
    from milan_telecom_etl__spark.operators.similarity import _as_double
    from milan_telecom_etl__spark.registry_similarity import _assign_two_level

    emb = load_table(spark, SF, "embeddings")
    embd = emb.select("vec_id", _as_double(F.col("embedding")).alias("ed"))
    seeds = embd.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("cid"), F.col("ed").alias("ce")
    )
    plan = _plan(_assign_two_level(embd, seeds, 64))
    assert "BroadcastNestedLoopJoin" in plan  # coarse anchor fan-out
    assert "BroadcastHashJoin" in plan  # fine step on gid
    assert "SortMergeJoin" not in plan
    # seed filters reach the scan
    assert "LessThan(vec_id,64)" in plan and "LessThan(vec_id,8)" in plan


def test_simhash_auto_bucket_cap_drops_degenerate_corpus(spark):
    """Stop-bucket guard: a corpus of identical docs puts every doc in
    the same bucket per band; above max_bucket the bucket is dropped
    whole and NO candidate pairs escape (the Sigma bucket^2 blowup is
    refused, not attempted)."""
    from milan_telecom_etl__spark.operators.dedup import (
        simhash_band_candidates_auto,
    )

    docs = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated everywhere").alias("text"),
    )
    out = simhash_band_candidates_auto(docs, max_bucket=10)
    assert out.count() == 0
    # with the cap above the corpus size the same docs all pair up
    loose = simhash_band_candidates_auto(docs, max_bucket=1000)
    assert loose.count() == 40 * 39 // 2


def test_duplicate_spans_no_cartesian_no_broadcast_of_grams(spark):
    """Exact-substring audit must stay linear: equality joins on the
    gram hash only — a cartesian or a broadcast of the (corpus-sized)
    gram table would both be 100 TB killers."""
    from milan_telecom_etl__spark.operators.dedup import duplicate_span_stats
    from milan_telecom_etl__spark.sources.parquet import load_table as lt

    plan = _plan(duplicate_span_stats(lt(spark, SF, "documents"), k=8))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the one join is an EQUALITY join keyed on the gram hash (at tiny
    # SF the cost model may broadcast the gram-count side — fine; what
    # matters is the key, which keeps the plan linear at any scale)
    import re

    assert re.search(r"(BroadcastHash|SortMerge|ShuffledHash)Join \[g#", plan)


def test_cross_source_overlap_broadcasts_sizes_only(spark):
    """The per-source size table (n_sources rows) broadcasts; the
    shingle self-join is an equality join on the hash, not a nested
    loop."""
    from milan_telecom_etl__spark.registry_text import q_cross_source_overlap

    plan = _plan(q_cross_source_overlap(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # za + zb size joins
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_training_shards_single_bounded_window(spark):
    """One row_number window partitioned by shard_id — no global
    (single-partition) sort: the intra-shard sort is the only wide op."""
    from milan_telecom_etl__spark.registry_sampling import q_training_shards

    plan = _plan(q_training_shards(spark, SF))
    assert plan.count("Window") == 1
    assert "SinglePartition" not in plan


def test_multi_consumer_pipelines_cache_once(spark):
    """The round-6 scan-hygiene wins, pinned: plans whose expensive
    subtree feeds several consumers must show an InMemoryRelation (the
    persist) — without it the corpus re-scans once per consumer
    (simhash auto ran 4 FileScans; nb_lang 7; auc 4)."""
    import __spark_entry__ as m

    for name in ("nb_lang_confusion", "auc_returnflag", "duplicate_spans", "dedup_span_excise"):
        plan = _plan(m.queries()[name](spark, SF))
        assert "InMemoryRelation" in plan, f"{name}: lost its persist"


def test_gopher_flags_plan_is_map_only(spark):
    """gopher_quality_flags docstring: one projection, HOF folds, no
    explode/shuffle — flagging 100 TB must stay map-only."""
    from milan_telecom_etl__spark.registry_quality import q_gopher_quality_flags

    plan = _plan(q_gopher_quality_flags(spark, SF))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode
    assert "FileScan" in plan


def test_incremental_dedup_broadcasts_the_batch(spark):
    """incremental_near_dups docstring: the batch's banded signatures
    broadcast; the corpus-side banded table is never self-joined via a
    shuffle on the band key — the candidate probe is a broadcast-hash
    join (the corpus streams)."""
    from milan_telecom_etl__spark.registry_text import q_incremental_dedup

    plan = _plan(q_incremental_dedup(spark, SF))
    assert "BroadcastHashJoin" in plan
    # no cartesian anywhere in the pipeline
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_c4_line_filter_plan_is_map_only(spark):
    """c4_line_filter docstring: line split, rule evaluation, and
    reassembly are ONE higher-order projection — no explode, no
    shuffle; 100 TB of line filtering is scan-bound."""
    from milan_telecom_etl__spark.registry_quality import q_c4_line_filters

    plan = _plan(q_c4_line_filters(spark, SF))
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "FileScan" in plan


def test_boilerplate_purge_broadcasts_frequent_lines(spark):
    """boilerplate_line_purge docstring: the frequent-line set (and the
    1-row threshold aggregate) broadcast back — the corpus must not be
    shuffle-joined on the line key; the per-doc reassembly groupBy is
    the only wide op over the exploded lines."""
    from milan_telecom_etl__spark.registry_quality import (
        q_boilerplate_line_purge,
    )

    plan = _plan(q_boilerplate_line_purge(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pii_density_single_shuffle(spark):
    """pii_density docstring: four regexp_count kernels in one scan,
    then a per-source hash agg — exactly one exchange, no explode."""
    from milan_telecom_etl__spark.registry_text import q_pii_density

    plan = _plan(q_pii_density(spark, SF))
    assert plan.count("Exchange") <= 2  # partial->final agg pair
    assert "Generate" not in plan
    assert "FileScan" in plan


def test_rrf_probe_side_broadcasts(spark):
    """rrf_hybrid_retrieval docstring: probe token/vector tables
    broadcast (no cartesian product; the only nested loop is the
    bounded broadcast dense leg)."""
    from milan_telecom_etl__spark.registry_similarity import (
        q_rrf_hybrid_retrieval,
    )

    plan = _plan(q_rrf_hybrid_retrieval(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_t5_and_url_filter_plans_are_map_only(spark):
    """t5_span_corruption and url_filter_flags docstrings: pure
    per-row projections — zero Exchange, zero Generate; synthesizing
    training examples / URL verdicts over 100 TB must stay map-only."""
    from milan_telecom_etl__spark.registry_quality import q_url_filter_flags
    from milan_telecom_etl__spark.registry_text import q_t5_span_corruption

    for fn in (q_t5_span_corruption, q_url_filter_flags):
        plan = _plan(fn(spark, SF))
        assert "Exchange" not in plan, fn.__name__
        assert "Generate" not in plan, fn.__name__
        assert "FileScan" in plan, fn.__name__


def test_hard_negatives_broadcasts_queries(spark):
    """hard_negatives docstring: the bounded query set broadcasts; the
    corpus is never shuffled for scoring (the only Exchange feeds the
    per-query window)."""
    from milan_telecom_etl__spark.registry_similarity import q_hard_negative_mining

    plan = _plan(q_hard_negative_mining(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_funnel_and_repetition_plan_shapes(spark):
    """r9 shapes: gopher_repetition_flags is ONE map-only pass — no
    join, no exchange of any kind (the r8 form exploded 9 n-gram
    grains into two hash aggregations; the per-doc stats never needed
    a shuffle). curation_funnel's doc-keyed joins stay pinned to
    shuffle-merge (the r8 broadcast-OOM fix: every side is
    corpus-grain and Spark's static size estimate under HOF/regex
    projections must not flip them to broadcast builds), and the
    corpus is scanned ONCE into a persisted projection (VERDICT r8
    #2), not once per gate."""
    from milan_telecom_etl__spark.registry_quality import (
        q_curation_funnel,
        q_gopher_repetition_flags,
    )

    rep = _plan(q_gopher_repetition_flags(spark, SF))
    assert "Join" not in rep, "repetition battery grew a join"
    assert "Exchange" not in rep, "repetition battery grew a shuffle"
    fdf = q_curation_funnel(spark, SF)
    fun = _plan(fdf)
    # 4 flag frames + keeper/near/cont drop sets = 7 pinned joins
    assert fun.count("SortMergeJoin") >= 7, "funnel doc-grain joins lost the merge pin"
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        fdf.explain("formatted")
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", buf.getvalue()))
    assert len(scan_ids) <= 3, f"funnel re-scans documents: {sorted(scan_ids)}"


def test_incremental_containment_is_batch_asymmetric(spark):
    """Both directed probe passes must broadcast the BATCH side only
    (batch probes / batch shingles) — the standing index streams
    through broadcast-hash joins and is never shuffled as a join side,
    never self-joined. The only exchanges are the probe window's
    doc_id partition, the hash aggregations, and the verify joins."""
    from milan_telecom_etl__spark.registry_text import q_incremental_containment

    plan = _plan(q_incremental_containment(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, "directed passes lost the broadcast pin"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_curve_window_is_bounded_by_topk(spark):
    """vocab_size_curve's ranking window must consume
    TakeOrderedAndProject (top-16k), never a global Sort of the full
    vocabulary — the single-partition-window fix its docstring claims."""
    from milan_telecom_etl__spark.registry_text import q_vocab_size_curve

    plan = _plan(q_vocab_size_curve(spark, SF))
    assert "TakeOrderedAndProject" in plan
    w = plan.index("Window")
    assert "TakeOrderedAndProject" in plan[w:], (
        "rank window no longer fed by the bounded top-k"
    )


def test_s_curve_single_corpus_scan(spark):
    """lsh_s_curve: ONE distinct documents scan — the persisted words
    frame must feed the exact ground truth AND all three banding
    pipelines (formatted-explain scan-id census, the curation_funnel
    pin's method: toString() would overcount because every
    InMemoryRelation prints its cached lineage inline)."""
    import io
    import re
    from contextlib import redirect_stdout

    from milan_telecom_etl__spark.registry_text import _s_curve_plan
    from milan_telecom_etl__spark.sources.parquet import load_table

    out = _s_curve_plan(load_table(spark, SF, "documents"))
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", buf.getvalue()))
    assert len(scan_ids) <= 1, f"lsh_s_curve re-scans documents: {sorted(scan_ids)}"


def test_ivf_recall_curve_reuses_candidate_cache(spark):
    """knn_ivf_recall_curve: the per-depth legs must read the persisted
    candidate table (InMemoryTableScan), not re-score the corpus —
    at most the assignment/exact scans of the embeddings file."""
    from milan_telecom_etl__spark.registry_similarity import (
        _ivf_recall_curve_plan,
    )

    df = _ivf_recall_curve_plan(spark, SF)
    df.count()  # materialize the candidate persist
    assert "InMemoryTableScan" in _plan(df), "candidate table no longer cached"


def test_aqe_skew_join_fires_and_matches_salted(spark):
    """The 'salted joins vs AQE' crossover, evidenced (VERDICT r10 #8 /
    r11 "Next" #9): on a deliberately skewed shuffle join (2/3 of the
    probe side on ONE key), OptimizeSkewedJoin must split the hot
    partition — SortMergeJoin(skew=true) in the FINAL adaptive plan —
    and the adaptive result must equal the explicit replicate-and-salt
    form (salting is semantics-invariant; scripts/skew_ab.py holds the
    timing A/B recorded in SCALE.md)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(300_000).select(
            F.when(F.col("id") % 3 > 0, F.lit(7))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        adaptive = left.join(right, "k").groupBy().agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        )
        a = adaptive.collect()[0]
        plan = adaptive._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "OptimizeSkewedJoin did not fire"

        ksalt = 8
        ls = left.withColumn("__salt", (F.col("v") % ksalt).cast("int"))
        rs = right.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(ksalt)]))
        )
        salted = (
            ls.join(rs, (ls.k == rs.k) & (ls.__salt == rs.__salt))
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        )
        s = salted.collect()[0]
        assert (a["n"], a["sv"]) == (s["n"], s["sv"])
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_order_revenue_is_exchange_free(spark):
    # the bucketed-warehouse demo's whole point: groupBy on the bucket
    # key, the orderkey SMJ, and the top-10 all run without ANY
    # exchange (no shuffle, no broadcast) — the shuffle was paid once
    # at ingest by bucketed.appendable_bucketed_table.
    import __spark_entry__ as m

    df = m.queries()["bucketed_order_revenue"](spark, SF)
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_bucketed_table_reregisters_metadata_only(spark):
    # a fresh session (here: a dropped catalog entry) re-registers the
    # existing bucketed files via DDL — the scan must still report the
    # bucket spec (Bucketed: true path), not degrade to a plain scan.
    from milan_telecom_etl__spark.bucketed import (
        appendable_bucketed_table,
        layout_name,
    )

    appendable_bucketed_table(spark, SF, "orders", "o_orderkey")  # ensure built
    spark.sql(f"DROP TABLE IF EXISTS `{layout_name(SF, 'orders', 'o_orderkey')}`")
    df = appendable_bucketed_table(spark, SF, "orders", "o_orderkey")
    agg = df.groupBy("o_orderkey").count()
    assert "Exchange" not in _plan(agg)


def test_bucketed_user_sessions_is_exchange_free(spark):
    # windows (lag + running sum) and the per-user rollup all ride the
    # events bucket partitioning on user_id: no Exchange anywhere.
    import __spark_entry__ as m

    plan = _plan(m.queries()["bucketed_user_sessions"](spark, SF))
    assert "Exchange" not in plan
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan


def test_bucketed_half_written_build_is_rebuilt(spark, tmp_path, monkeypatch):
    # a killed build leaves files without _SUCCESS: the loader must
    # rebuild, never register the partial files (artifacts.refresh
    # checks the committer marker before it trusts a manifest).
    import os
    from milan_telecom_etl__spark import bucketed as B

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    name = B.layout_name(SF, "nation", "n_nationkey")
    path = os.path.join(str(tmp_path), "bucketed", name)
    os.makedirs(path)
    with open(os.path.join(path, "part-garbage.parquet"), "wb") as f:
        f.write(b"not parquet")
    try:
        df = B.appendable_bucketed_table(spark, SF, "nation", "n_nationkey")
        assert df.count() > 0  # rebuilt (reading garbage would throw)
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
    finally:
        # never leak a tmp_path-backed catalog entry into the session
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_derived_default_parallelism_law():
    # pure-function facts of the sizing law: cores floor, pow2 growth,
    # and the sf100e v2 point — 6.03 GiB UNCOMPRESSED events derive 128,
    # the measured spill-free lever the v1 file-bytes law missed
    # (VERDICT r14 #3; SCALE.md "Law limitation", closed r15)
    from milan_telecom_etl__spark.session import derived_default_parallelism

    assert derived_default_parallelism(6_470_000_000, 32) == 128  # sf100e unc.
    assert derived_default_parallelism(1_810_000_000, 32) == 32  # <= 32 tasks' worth
    assert derived_default_parallelism(100, 32) == 32  # never below cores
    assert derived_default_parallelism(10**12, 32) == 16384  # grows with volume, pow2


def test_tier_bytes_uncompressed_counts_decoded_size(tmp_path, spark):
    # law v2's input: a compressible parquet file must count its
    # DECODED row-group bytes, not its on-disk size (events compress
    # ~4.3x and v1 under-derived dp exactly there); non-parquet files
    # fall back to file size
    from milan_telecom_etl__spark.session import (
        tier_bytes,
        tier_bytes_uncompressed,
    )

    d = str(tmp_path / "tier")
    # hex pads defeat dictionary encoding but compress well under
    # snappy — the shape where file bytes and row-group
    # total_byte_size (encoded, pre-compression) genuinely diverge
    spark.range(200_000).selectExpr(
        "id", "id % 7 as k", "repeat(hex(hash(id)), 8) as pad"
    ).coalesce(1).write.parquet(d)
    (tmp_path / "tier" / "notes.txt").write_bytes(b"z" * 1000)
    unc, raw = tier_bytes_uncompressed(d), tier_bytes(d)
    assert unc > raw * 1.2  # footer sums see through the compression


def test_bucket_width_sizing_law():
    # the SCALE.md bucket-width A/B, as code (VERDICT r12 #2): both
    # halves of the law pin the derived count.
    from milan_telecom_etl__spark.bucketed import (
        MIN_BUCKET_BYTES,
        TARGET_BUCKET_BYTES,
        WAVES,
        _derive_n,
    )

    # sf0.1 lineitem (~10.8 MB): small-files guard binds — a handful
    # of buckets, NOT 2x cores.
    assert _derive_n(10_818_932, 32) == 2
    # sf10 lineitem (~1.08 GB) on local[32]: the parallelism floor
    # binds at 2 waves — exactly the measured 64-bucket A/B winner
    # (7.03 s plain / 3.64 s @16 / 2.09 s @64).
    assert _derive_n(1_081_893_200, 32) == 64
    # 100 TB on a 2000-core cluster: the few-hundred-MB-per-bucket
    # half binds — hundreds of thousands of buckets, each <= TARGET.
    n = _derive_n(100 << 40, 2000)
    assert (100 << 40) / n <= TARGET_BUCKET_BYTES
    assert n >= WAVES * 2000

    # the pow2 round-up must not breach the MIN bound it clamped to:
    # 40 MB / 32 cores clamps to 10, and 16 (up) would give 2.6 MB
    # buckets — the law rounds DOWN to 8 instead (r13 review)
    assert _derive_n(40 << 20, 32) == 8

    # invariants across the whole range
    for nbytes in (0, 1, MIN_BUCKET_BYTES - 1, 10**6, 40 << 20, 10**9, 10**12, 100 << 40):
        for par in (1, 8, 32, 2000):
            n = _derive_n(nbytes, par)
            assert n >= 1 and (n & (n - 1)) == 0  # power of two
            assert nbytes / n <= TARGET_BUCKET_BYTES  # never over-fat
            assert n == 1 or nbytes / n >= MIN_BUCKET_BYTES  # never under-fed
            if nbytes >= WAVES * par * MIN_BUCKET_BYTES:
                assert n >= WAVES * par  # floor once data can fill it


def test_bucketed_derived_width_matches_law_on_testdata(spark):
    # derived_n_buckets = _derive_n(actual bytes, actual parallelism)
    # at two real SFs (VERDICT r12 #2: "pins the derived value at two
    # SFs") — the Hadoop-FS byte measurement agrees with a local stat.
    import os
    from milan_telecom_etl__spark.bucketed import (
        _derive_n,
        _table_bytes,
        derived_n_buckets,
    )

    par = spark.sparkContext.defaultParallelism
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        p = os.path.join(sf_dir, "lineitem.parquet")
        local = (
            os.path.getsize(p)
            if os.path.isfile(p)
            else sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith(".")
            )
        )
        assert _table_bytes(spark, sf_dir, "lineitem") == local
        assert derived_n_buckets(spark, sf_dir, "lineitem") == _derive_n(local, par)


def test_bucketed_reregistration_never_reinfers_schema(spark, monkeypatch):
    # fresh-session re-registration must come from the schema the
    # manifest recorded, not parquet-footer inference (ADVICE r12 #4):
    # poison DataFrameReader.parquet and re-register anyway.
    import pyspark.sql.readwriter as RW
    from milan_telecom_etl__spark.bucketed import (
        appendable_bucketed_table,
        layout_name,
    )

    built = appendable_bucketed_table(spark, SF, "orders", "o_orderkey")
    spark.sql(f"DROP TABLE IF EXISTS `{layout_name(SF, 'orders', 'o_orderkey')}`")

    def _boom(self, *a, **k):
        raise AssertionError("re-registration re-inferred schema from parquet")

    monkeypatch.setattr(RW.DataFrameReader, "parquet", _boom)
    df = appendable_bucketed_table(spark, SF, "orders", "o_orderkey")
    assert df.schema == built.schema
    assert "Exchange" not in _plan(df.groupBy("o_orderkey").count())


def _appendable_corpus(spark, tmp_path):
    """A corpus COPY laid out as a directory table so new files can
    land: sf0.001 documents as base-0.parquet under
    <tmp>/corp/documents.parquet/."""
    import os
    import shutil

    corp = tmp_path / "corp"
    tdir = corp / "documents.parquet"
    tdir.mkdir(parents=True)
    shutil.copy(os.path.join(SF, "documents.parquet"), tdir / "base-0.parquet")
    return str(corp), str(tdir)


def _drop_file_into(spark, df, tdir: str, fname: str, tmp_path) -> None:
    import glob
    import os
    import shutil

    stage = str(tmp_path / f"stage_{fname}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
    shutil.copy(part, os.path.join(tdir, fname))


def _fp_derive(d):
    from milan_telecom_etl__spark.operators import text as X

    return d.select("doc_id", F.md5(X.normalize_text("text")).alias("fingerprint"))


def _dup_groups(idx):
    return (
        idx.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_appendable_index_serves_growth_without_rewriting_history(
    spark, tmp_path, monkeypatch
):
    # VERDICT r13 #5: ingest a new shard, bucket it at the standing
    # width, serve dedup from the union — equal to a full rebuild,
    # zero Exchange on the union read (pinned at an explicit n>1 so
    # the property can actually fail — r13 vacuous-pin trap), history
    # files untouched by the append.
    import os

    from milan_telecom_etl__spark import bucketed as B
    from milan_telecom_etl__spark.artifacts import _read_text

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "art"))
    corp, tdir = _appendable_corpus(spark, tmp_path)
    serve = lambda: B.appendable_bucketed_table(  # noqa: E731
        spark, corp, "documents", "fingerprint",
        n=4, derive=_fp_derive, variant="fpidx",
    )
    try:
        idx = serve()
        assert _rows(_dup_groups(idx)) == _rows(
            _dup_groups(_fp_derive(spark.read.parquet(tdir)))
        )
        (bdir,) = os.listdir(str(tmp_path / "art" / "bucketed"))
        ipath = str(tmp_path / "art" / "bucketed" / bdir)
        base_files = {
            f: os.stat(os.path.join(ipath, f)).st_mtime_ns
            for f in os.listdir(ipath)
            if f.endswith(".parquet")
        }

        # corpus grows: 40 docs re-texting existing content under new
        # ids — dup groups must now SPAN batches (keeper = old min id)
        docs = spark.read.parquet(tdir)
        delta = docs.limit(40).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
        _drop_file_into(spark, delta, tdir, "delta-1.parquet", tmp_path)

        idx2 = serve()
        # history untouched: every pre-append bucket file survives
        # bit-for-bit (same name, same mtime); the delta added files
        for f, mt in base_files.items():
            assert os.stat(os.path.join(ipath, f)).st_mtime_ns == mt, f
        assert len([f for f in os.listdir(ipath) if f.endswith(".parquet")]) > len(
            base_files
        )
        # union read = one bucketed scan, groupBy rides the buckets
        plan = _plan(_dup_groups(idx2))
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        # equality with a full recompute on the grown corpus
        assert _rows(_dup_groups(idx2)) == _rows(
            _dup_groups(_fp_derive(spark.read.parquet(tdir)))
        )
        # and the manifest records both shards at the standing width
        import json as _json

        manifest = _json.loads(_read_text(spark, B.fs_join(ipath, "_shards.json")))
        assert manifest["n"] == 4
        assert set(manifest["files"]) == {"base-0.parquet", "delta-1.parquet"}
    finally:
        if "bdir" in locals():
            spark.sql(f"DROP TABLE IF EXISTS `{bdir}`")


def test_appendable_minhash_index_serves_growth(spark, tmp_path, monkeypatch):
    # VERDICT r14 #4: the banded MinHash signature index is append-only
    # on a grow-only corpus. Pins, on an appended corpus at an explicit
    # n>1 width with broadcast disabled (vacuous-pin discipline):
    #   1. candidates == a full re-fold of the grown corpus;
    #   2. history bucket files untouched by the append;
    #   3. the serve plan scans ONLY the index (no documents.parquet —
    #      history text is never re-shingled at query time);
    #   4. the candidate self-join is a bucketed SMJ: zero Exchange
    #      below the join (the only shuffle is the final distinct).
    import os

    from milan_telecom_etl__spark import bucketed as B  # noqa: F401
    from milan_telecom_etl__spark.operators import dedup as D
    from milan_telecom_etl__spark.registry_text import (
        q_minhash_candidates_appendable,
    )

    import milan_telecom_etl__spark.registry_text as RT

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "art"))
    corp, tdir = _appendable_corpus(spark, tmp_path)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # pre-build the SAME index identity at an explicit n=4 so the
        # zero-Exchange pin runs where co-partitioning can actually
        # fail (r13 vacuous-pin trap: derived widths collapse to 1
        # bucket at fixture scale); the entry then serves this table
        B.appendable_bucketed_table(
            spark, corp, "documents", "bh",
            n=4, derive=RT._banded_bh, variant="mhband64x4bh",
        )
        r1 = q_minhash_candidates_appendable(spark, corp)
        full = D.minhash_lsh_candidates(
            spark.read.parquet(tdir), num_hashes=64, band_size=4
        )
        assert _rows(r1) == _rows(full)

        (bdir,) = os.listdir(str(tmp_path / "art" / "bucketed"))
        ipath = str(tmp_path / "art" / "bucketed" / bdir)
        base_files = {
            f: os.stat(os.path.join(ipath, f)).st_mtime_ns
            for f in os.listdir(ipath)
            if f.endswith(".parquet")
        }

        docs = spark.read.parquet(tdir)
        delta = docs.limit(40).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
        _drop_file_into(spark, delta, tdir, "delta-1.parquet", tmp_path)

        r2 = q_minhash_candidates_appendable(spark, corp)
        for f, mt in base_files.items():
            assert os.stat(os.path.join(ipath, f)).st_mtime_ns == mt, f
        full2 = D.minhash_lsh_candidates(
            spark.read.parquet(tdir), num_hashes=64, band_size=4
        )
        rows2 = _rows(r2)
        assert rows2 == _rows(full2)
        # the append must contribute: delta-vs-history and
        # delta-vs-delta pairs both present (re-texted docs collide
        # with their originals)
        assert any(bb >= 10_000_000 for _, bb in rows2)

        plan = _plan(r2)
        assert "documents.parquet" not in plan  # no history re-shingle
        assert "Bucketed: true" in plan
        assert "SortMergeJoin" in plan
        # the join's children carry no Exchange: the only shuffle in
        # the whole plan is the final distinct's single hash exchange
        final = plan.split("AdaptiveSparkPlan")[0]
        assert final.count("Exchange") <= 1, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for t in spark.catalog.listTables():
            if t.name.startswith("bkta_"):
                spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")


def test_incremental_dedup_appendable_serves_growth(spark, tmp_path, monkeypatch):
    # Fourth append consumer (r15): both the banded-signature slice and
    # the uncapped shingle store are append-only standing tables. On an
    # APPENDED corpus the entry must equal the train-in-run twin, touch
    # no document text at probe time, and leave both stores' history
    # files untouched.
    import os

    from milan_telecom_etl__spark.operators import dedup as D
    from milan_telecom_etl__spark.registry_text import (
        q_incremental_dedup_appendable,
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "art"))
    corp, tdir = _appendable_corpus(spark, tmp_path)
    try:
        r1 = q_incremental_dedup_appendable(spark, corp)
        twin = D.incremental_near_dups(
            spark.read.parquet(tdir), new_max_id=100
        )
        assert _rows(r1) == _rows(twin)
        # the twin persists its words/shingle fragments (caller
        # clearCache contract, queries_registry.py:8); without this the
        # POST-append twin plan-matches the pre-append cached fragment
        # and serves the old file listing
        spark.catalog.clearCache()

        art = str(tmp_path / "art" / "bucketed")
        base_files = {
            os.path.join(d, f): os.stat(os.path.join(art, d, f)).st_mtime_ns
            for d in os.listdir(art)
            for f in os.listdir(os.path.join(art, d))
            if f.endswith(".parquet")
        }
        assert len(os.listdir(art)) == 2  # both stores standing

        # grow the corpus: re-texted docs under new INDEX-side ids plus
        # a handful of new BATCH docs (ids just under the boundary)
        docs = spark.read.parquet(tdir)
        delta = docs.limit(40).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
        _drop_file_into(spark, delta, tdir, "delta-1.parquet", tmp_path)

        r2 = q_incremental_dedup_appendable(spark, corp)
        for f, mt in base_files.items():
            assert os.stat(os.path.join(art, f)).st_mtime_ns == mt, f
        twin2 = D.incremental_near_dups(
            spark.read.parquet(tdir), new_max_id=100
        )
        rows2 = _rows(r2)
        assert rows2 == _rows(twin2)
        # probe-time plan never reads document text
        plan = _plan(r2)
        assert "documents.parquet" not in plan
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("bkta_"):
                spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")


def test_appendable_delta_gets_loader_adaptation(spark, tmp_path, monkeypatch):
    # ADVICE r14: the append path read delta files raw while the
    # rebuild path went through load_table — for a table needing
    # physical-type adaptation (events ts long-ns -> timestamp) the two
    # paths would diverge or implicitly cast. The delta now passes
    # through adapt_table: appended rows must be type- and
    # value-identical to a full rebuild.
    import os

    from milan_telecom_etl__spark import bucketed as B
    from milan_telecom_etl__spark.sources.parquet import load_table

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "art"))
    corp = tmp_path / "corp"
    tdir = corp / "events.parquet"
    tdir.mkdir(parents=True)

    def _events(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id as user_id",
            "cast(id % 100 as int) as cell_id",
            # epoch NANOS as a long — the pre-adaptation physical shape
            "1385856000000000000 + id * 1000000000 as ts",
        )

    _drop_file_into(spark, _events(0, 200), str(tdir), "base-0.parquet", tmp_path)
    serve = lambda: B.appendable_bucketed_table(  # noqa: E731
        spark, str(corp), "events", "user_id", n=2
    )
    try:
        idx = serve()
        assert str(idx.schema["ts"].dataType) == "TimestampType()"
        _drop_file_into(
            spark, _events(200, 300), str(tdir), "delta-1.parquet", tmp_path
        )
        idx2 = serve()
        assert str(idx2.schema["ts"].dataType) == "TimestampType()"
        # appended rows match the loader's adaptation bit-for-bit
        assert _rows(idx2.select("user_id", "ts")) == _rows(
            load_table(spark, str(corp), "events").select("user_id", "ts")
        )
        (bdir,) = os.listdir(str(tmp_path / "art" / "bucketed"))
    finally:
        if "bdir" in locals():
            spark.sql(f"DROP TABLE IF EXISTS `{bdir}`")


def test_appendable_index_rebuilds_on_mutation_pending_and_width(
    spark, tmp_path, monkeypatch
):
    import json as _json
    import os

    from milan_telecom_etl__spark import bucketed as B
    from milan_telecom_etl__spark.artifacts import _read_text, _write_text

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "art"))
    corp, tdir = _appendable_corpus(spark, tmp_path)
    widths = iter([2, 2, 2])
    monkeypatch.setattr(
        B, "derived_n_buckets", lambda *a, **k: next(widths)
    )
    serve = lambda: B.appendable_bucketed_table(  # noqa: E731
        spark, corp, "documents", "fingerprint",
        derive=_fp_derive, variant="fpidx",
    )
    try:
        serve()
        (bdir,) = os.listdir(str(tmp_path / "art" / "bucketed"))
        ipath = str(tmp_path / "art" / "bucketed" / bdir)
        gen0 = {f for f in os.listdir(ipath) if f.endswith(".parquet")}

        # 1. orphaned append marker -> whole-or-rebuild
        _write_text(spark, B.fs_join(ipath, "_append_pending"), "[]")
        serve()
        assert _read_text(spark, B.fs_join(ipath, "_append_pending")) is None
        gen1 = {f for f in os.listdir(ipath) if f.endswith(".parquet")}
        assert gen1 != gen0  # rebuilt, not served as-is

        # 2. a manifest file mutated in place (not append-only growth):
        # replace base-0 with a valid parquet of different content
        _drop_file_into(
            spark,
            spark.read.parquet(tdir).limit(100),
            tdir,
            "base-0.parquet",
            tmp_path,
        )
        serve()
        gen2 = {f for f in os.listdir(ipath) if f.endswith(".parquet")}
        assert gen2 != gen1

        # 3. width migration: the bytes of refresh's FRESH listing (not
        # the memoized derived_n_buckets — a long-lived ingest process's
        # memo never re-observes growth) derive width 8
        # >= 2 * WIDTH_MIGRATION_FACTOR -> rebuild at the fresh width
        listed = sum(os.path.getsize(os.path.join(tdir, f)) for f in os.listdir(tdir)
                     if not f.startswith((".", "_")))
        monkeypatch.setattr(B, "_derive_n", lambda nbytes, par: 8 if nbytes == listed else 2)
        serve()
        manifest = _json.loads(_read_text(spark, B.fs_join(ipath, "_shards.json")))
        assert manifest["n"] == 8
    finally:
        if "bdir" in locals():
            spark.sql(f"DROP TABLE IF EXISTS `{bdir}`")


def test_appendable_explicit_width_change_rebuilds(spark, tmp_path, monkeypatch):
    # an explicit n is the layout the caller needs (a join pair must
    # share one width): a layout stored at another width rebuilds at
    # n, while n=None keeps serving whatever width is stored
    import json as _json
    import os

    from milan_telecom_etl__spark import bucketed as B
    from milan_telecom_etl__spark.artifacts import _read_text

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    name = B.layout_name(SF, "orders", "o_orderkey")
    path = os.path.join(str(tmp_path), "bucketed", name)

    def stored():
        manifest = _json.loads(_read_text(spark, B.fs_join(path, "_shards.json")))
        parts = [f for f in os.listdir(path) if f.startswith("part-")]
        return manifest["n"], len(parts)

    serve = lambda n=None: B.appendable_bucketed_table(  # noqa: E731
        spark, SF, "orders", "o_orderkey", n=n
    )
    try:
        serve(2)
        assert stored() == (2, 2)
        df = serve(4)
        assert stored() == (4, 4)  # rebuilt at the asked width
        assert "Exchange" not in _plan(df.groupBy("o_orderkey").count())
        serve()
        assert stored() == (4, 4)  # n=None serves the stored width
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")


@pytest.mark.parametrize("store", ["bucketed", "load_or_build"])
def test_corrupt_manifest_rebuilds_in_place(spark, tmp_path, monkeypatch, store):
    # ADVICE r13 #2: a writer killed mid-write (pre-atomic builds)
    # could leave a truncated manifest; the next call must rebuild in
    # place and serve the same schema and rows, not raise forever until
    # manual cleanup.
    from collections import Counter

    from milan_telecom_etl__spark import bucketed as B
    from milan_telecom_etl__spark.artifacts import (
        _read_text,
        _write_text,
        artifact_path,
        load_or_build,
    )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    name = B.layout_name(SF, "orders", "o_orderkey")
    if store == "bucketed":
        path = B.fs_join(B.artifact_root(), "bucketed", name)
        serve = lambda: B.appendable_bucketed_table(  # noqa: E731
            spark, SF, "orders", "o_orderkey"
        )
    else:
        path = artifact_path(SF, "orders_by_status")
        serve = lambda: load_or_build(  # noqa: E731
            spark,
            SF,
            "orders_by_status",
            lambda: load_table(spark, SF, "orders").groupBy("o_orderstatus").count(),
            table="orders",
        )
    manifest = B.fs_join(path, "_shards.json")
    try:
        built = serve()
        rows = Counter(built.collect())
        original = _read_text(spark, manifest)
        assert original is not None
        _write_text(spark, manifest, original[: len(original) // 2])
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")  # a fresh session
        df = serve()
        assert df.schema == built.schema
        assert Counter(df.collect()) == rows
        assert _read_text(spark, manifest) == original  # rebuilt in place
        if store == "bucketed":
            assert "Exchange" not in _plan(df.groupBy("o_orderkey").count())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_entry_persists_warm_across_reps_and_one_clear_cache(spark):
    # VERDICT r12 #1: the materializing eval entries persist their
    # shared subtrees and leave them to the caller — warm across a
    # harness's repeated calls (a second call's persist of the same
    # logical plan is served by the live InMemoryRelation, so it adds
    # no cache), fully released by one clearCache() call.
    import __spark_entry__ as m

    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    cm = spark._jsparkSession.sharedState().cacheManager()
    n0 = rdds().size()
    m.queries()["lsh_s_curve"](spark, SF).count()
    # words + exact + shared wide signature (+ the exact side's own
    # shingle table)
    n1 = rdds().size()
    assert n1 >= n0 + 3
    m.queries()["lsh_s_curve"](spark, SF).count()
    assert rdds().size() == n1, "second rep re-cached its subtrees"

    m.queries()["knn_ivf_recall_curve"](spark, SF).count()
    assert rdds().size() == n1 + 1  # + candidate table

    spark.catalog.clearCache()
    assert cm.isEmpty() and rdds().size() == n0


def test_exact_dedup_serves_from_bucketed_index_exchange_free(spark):
    # VERDICT r12 #4: the exact-dedup defaults consume the standing
    # bucketed fingerprint index — groupBy(fingerprint) rides the
    # bucket partitioning, zero Exchange anywhere; the plain twin
    # keeps its per-query shuffle (sanity: the two plans differ).
    import __spark_entry__ as m

    for name in ("exact_dup_groups", "dedup_exact_keepers"):
        plan = _plan(m.queries()[name](spark, SF))
        assert "Exchange" not in plan, name
        assert "Bucketed: true" in plan, name
    plain = _plan(m.queries()["exact_dup_groups_plain"](spark, SF))
    assert "Exchange" in plain


def test_bucketed_derive_requires_variant_and_separates_identity(spark):
    import pytest as _pytest
    from milan_telecom_etl__spark import bucketed as B

    with _pytest.raises(ValueError, match="variant"):
        B.appendable_bucketed_table(
            spark, SF, "nation", "n_nationkey", derive=lambda d: d
        )
    # a derived layout must never collide with the base table's name
    assert B.layout_name(SF, "documents", "fingerprint", "fpidx") != B.layout_name(
        SF, "documents", "fingerprint"
    )


def test_fingerprint_index_schema_is_projection(spark):
    # the standing dedup index is (doc_id, fingerprint) ONLY — the
    # text column must not ride along (the index stays kilobyte-grain
    # per doc at 100 TB)
    from milan_telecom_etl__spark.registry_text import _fingerprint_index

    idx = _fingerprint_index(spark, SF)
    assert [f.name for f in idx.schema.fields] == ["doc_id", "fingerprint"]


def test_derived_layout_width_uses_size_fraction(spark):
    # the fingerprint index's bucket count must be sized on the
    # PROJECTION's bytes (size_fraction), not the multi-KB document
    # rows — at 100 TB source-byte sizing would make near-empty files
    from milan_telecom_etl__spark import bucketed as B
    from milan_telecom_etl__spark.registry_text import _fingerprint_index

    par = spark.sparkContext.defaultParallelism
    src_bytes = B._table_bytes(spark, SF, "documents")
    n_source_sized = B._derive_n(src_bytes, par)
    n_index = B.derived_n_buckets(spark, SF, "documents", size_fraction=1 / 32)
    assert n_index == B._derive_n(max(1, int(src_bytes / 32)), par)
    assert n_index <= n_source_sized
    # and the registered index really carries the fraction-sized
    # width: one file per bucket is the module's write invariant, so
    # the part-file count IS the bucket count (no vacuous fallback arm)
    import os as _os

    idx = _fingerprint_index(spark, SF)
    plan = _plan(idx.groupBy("fingerprint").count())
    assert "Exchange" not in plan
    name = B.layout_name(SF, "documents", "fingerprint", "fpidx")
    path = B.fs_join(B.artifact_root(), "bucketed", name)
    parts = [f for f in _os.listdir(path) if f.startswith("part-")]
    assert len(parts) == n_index, (n_index, parts)


def test_bucketed_join_pair_shares_one_width_at_divergent_tier(spark):
    # r13 review: per-table width derivation gives lineitem/orders
    # DIFFERENT widths at most tiers (here sf0.1: 2 vs 1), and unequal
    # bucket counts silently reintroduce the SMJ exchange. The entry
    # must size the pair on the larger side — pin zero Exchange at a
    # tier where the per-table widths actually diverge (sf0.001, where
    # the old plan-pin runs, derives 1 for BOTH sides — vacuous).
    import __spark_entry__ as m
    from milan_telecom_etl__spark import bucketed as B

    sf = "/root/testdata/sf0.1"
    n_li = B.derived_n_buckets(spark, sf, "lineitem")
    n_ord = B.derived_n_buckets(spark, sf, "orders")
    assert n_li != n_ord, "tier no longer divergent — move this pin"
    plan = _plan(m.queries()["bucketed_order_revenue"](spark, sf))
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan


def test_derived_key_bucketing_exchange_free_at_n_gt_1(spark, tmp_path, monkeypatch):
    # the shipped tiers all derive n=1 for the fingerprint index (a
    # 50 B/row projection), where zero-Exchange is trivial — force a
    # multi-bucket build of the same derived-key layout and pin that
    # groupBy(fingerprint) still rides the bucket partitioning with
    # zero Exchange (the mechanism the 100 TB posture relies on). A
    # private artifact root: an explicit width would otherwise rebuild
    # the shared index the registry entries serve.
    from pyspark.sql import functions as F
    from milan_telecom_etl__spark import bucketed as B
    from milan_telecom_etl__spark.operators.text import normalize_text

    def derive(docs):
        return docs.select(
            "doc_id", F.md5(normalize_text("text")).alias("fingerprint")
        )

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
    name = B.layout_name(SF, "documents", "fingerprint", "fpidx")
    try:
        idx = B.appendable_bucketed_table(
            spark, SF, "documents", "fingerprint", n=4, derive=derive, variant="fpidx"
        )
        agg = idx.groupBy("fingerprint").agg(
            F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper")
        )
        plan = _plan(agg)
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        # one file per bucket is the write invariant
        import os as _os
        path = B.fs_join(B.artifact_root(), "bucketed", name)
        parts = [f for f in _os.listdir(path) if f.startswith("part-")]
        assert len(parts) == 4, parts
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
