"""Registry entries: advanced analytics operators beyond the reference
surface (SURVEY.md §2.5 notes these come "free" from Spark — here they
are made first-class, each with a DuckDB oracle).

These are the CDR-analysis staples the reference's schema implies but
never implements: sessionization, as-of lookup, interval self-join,
hierarchical rollup, set ops, exact percentiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .queries_registry import register
from .sources.parquet import load_table

SESSION_GAP_MIN = 30


def _new_session_flag(w) -> "F.Column":
    """1 where a session starts under the 30-min gap rule: first event
    for the user, or gap since the previous one > SESSION_GAP_MIN.
    Shared by q_sessionize and q_bucketed_user_sessions so the rule
    can't desynchronize between them. Microsecond-exact (unix_micros):
    a seconds cast would truncate sub-second timestamps and could flip
    a session boundary vs the oracle's full-precision INTERVAL compare
    on a sub-second corpus (r12 review)."""
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    return F.when(
        gap.isNull() | (gap > SESSION_GAP_MIN * 60 * 1_000_000), 1
    ).otherwise(0)


@register(
    "sessionize",
    f"""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL {SESSION_GAP_MIN} MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM e
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session
    flag → running sum = session id → per-session aggregate. Two window
    passes + one aggregation, all partitioned by user_id — one shuffle
    key end-to-end, no repartitioning between steps."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_session = _new_session_flag(w)
    # event_id tie-break keeps tied-timestamp rows deterministic on both
    # sides of the parity gate (ADVICE r2)
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(ws).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@register(
    "asof_last_click",
    """
    SELECT event_id, user_id, ts,
           last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
    FROM events
    WHERE event_type = 'purchase'
      OR event_type = 'click'
    QUALIFY event_type = 'purchase'
    """,
)
def q_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of lookup: for every purchase, the user's most recent strictly
    prior click — the point-in-time join pattern (CDR analog: last cell
    handoff before a call). One ordered window per user, no join."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


@register(
    "burst_pairs",
    """
    SELECT a.user_id, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id <> a.event_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id
    """,
)
def q_burst_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: ordered event pairs of the same user within
    5 minutes (burst detection). Equality key (user_id) carries the
    shuffle; the range predicate filters within partitions — never a
    cross join."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    a, b = ev.alias("a"), ev.alias("b")
    five_min = F.expr("INTERVAL 5 MINUTES")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.event_id") != F.col("a.event_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + five_min),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "revenue_rollup",
    """
    SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (region → nation → grand total) — grouping
    sets in one pass (Expand + single hash agg), not three queries."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("r_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("n_name"),
            "revenue",
        )
    )


@register(
    "set_ops_customers",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (INTERSECT / UNION / EXCEPT with SQL precedence:
    INTERSECT binds tighter; UNION/EXCEPT associate left)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey")
    )
    big = orders.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    debtors = cust.filter(F.col("c_acctbal") < 0).select(F.col("c_custkey"))
    fulfilled = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return building.intersect(big).union(debtors).distinct().exceptAll(
        fulfilled.distinct()
    )


@register(
    "price_percentiles",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 6) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB quantile_cont). At 100 TB swap to approx_percentile — the
    t-digest sketch — at the cost of oracle exactness."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99"),
    )


@register(
    "event_type_profile",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(value), 6) AS total_value,
           round(stddev_samp(value), 6) AS sd_value
    FROM events GROUP BY event_type
    """,
)
def q_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate profile incl. distinct-count and sample stddev."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
    )


@register(
    "signup_purchase_funnel",
    """
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN first_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN first_signup IS NOT NULL AND first_purchase > first_signup
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
    FROM f
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel: users who purchased strictly after their first signup —
    conditional min-per-type then one scalar aggregation (two hash aggs,
    no self-join)."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("first_signup").isNotNull(), 1).otherwise(0)).cast("long").alias("n_signup"),
        F.sum(
            F.when(
                F.col("first_signup").isNotNull()
                & (F.col("first_purchase") > F.col("first_signup")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_converted"),
    )


@register(
    "cohort_retention",
    """
    WITH firstseen AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS active_day
      FROM events
    )
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, active_day) AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM activity JOIN firstseen USING (user_id)
    WHERE date_diff('day', cohort_day, active_day) <= 7
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, activity
    counted per day-offset (first week). first-seen agg + distinct
    activity + broadcast-sized join back."""
    ev = load_table(spark, sf_dir, "events")
    firstseen = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).cast("date").alias("cohort_day")
    )
    activity = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("active_day")
    ).distinct()
    return (
        activity.join(firstseen, "user_id")
        .withColumn("day_offset", F.datediff(F.col("active_day"), F.col("cohort_day")).cast("long"))
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )


@register(
    "value_histogram",
    """
    SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin,
           count(*) AS n, round(avg(value), 6) AS avg_in_bin
    FROM events GROUP BY 1
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (bin = floor(value/width)) — single
    aggregation; the profiling primitive for value distributions."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.col("value") / 25.0).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_in_bin"),
    )


@register(
    "profile_orders",
    """
    SELECT count(*) AS n_rows,
      CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice_nulls,
      round(min(o_totalprice), 6) AS o_totalprice_min,
      round(max(o_totalprice), 6) AS o_totalprice_max,
      round(avg(o_totalprice), 6) AS o_totalprice_mean,
      CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderstatus_nulls,
      CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS o_orderstatus_distinct,
      CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_orderpriority_nulls,
      CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS o_orderpriority_distinct
    FROM orders
    """,
)
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile (nulls/ranges/cardinalities) — the
    pre-load data-profiling operator (operators/profiling.py)."""
    from .operators.profiling import profile_columns

    return profile_columns(
        load_table(spark, sf_dir, "orders"),
        numeric_cols=["o_totalprice"],
        categorical_cols=["o_orderstatus", "o_orderpriority"],
    )


@register(
    "price_deciles",
    """
    SELECT decile, count(*) AS n,
           round(min(o_totalprice), 6) AS lo, round(max(o_totalprice), 6) AS hi
    FROM (
      SELECT o_totalprice,
             CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INT) AS decile
      FROM orders
    ) GROUP BY decile
    """,
)
def q_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing via NTILE (deterministic tiebreak on the key) —
    the feature-binning primitive. Note: a global NTILE is a single-
    partition sort; at 100 TB use approx quantile cutpoints + a
    broadcast range join instead (see SCALE.md)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 6).alias("lo"),
            F.round(F.max("o_totalprice"), 6).alias("hi"),
        )
    )


@register(
    "quantity_price_correlation",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_cov
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped correlation/covariance — the feature-relationship
    profile; both are single-pass streaming aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_cov"),
    )


@register(
    "snapshot_diff",
    """
    WITH s1 AS (
      SELECT user_id, event_type AS old_type FROM (
        SELECT user_id, event_type, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
        FROM events WHERE ts < TIMESTAMP '2024-01-20')
      WHERE rk = 1
    ), s2 AS (
      SELECT user_id, event_type AS new_type FROM (
        SELECT user_id, event_type, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk
        FROM events)
      WHERE rk = 1
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_users FROM (
      SELECT CASE WHEN old_type IS NULL THEN 'added'
                  WHEN old_type = new_type THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM s2 LEFT JOIN s1 USING (user_id)
    ) GROUP BY status
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (CDC diff): latest state per key at a
    cutoff vs now, outer-joined into added/changed/unchanged tallies —
    the audit that validates any incremental pipeline against a full
    rebuild. Both snapshots derive from one table scan shape (window
    keep-latest); the diff join is keyed on user_id."""
    ev = load_table(spark, sf_dir, "events")

    def latest(df, col_alias):
        w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("user_id", F.col("event_type").alias(col_alias))
        )

    s1 = latest(ev.filter(F.col("ts") < F.lit("2024-01-20").cast("timestamp")), "old_type")
    s2 = latest(ev, "new_type")
    status = (
        F.when(F.col("old_type").isNull(), "added")
        .when(F.col("old_type") == F.col("new_type"), "unchanged")
        .otherwise("changed")
    )
    return (
        s2.join(s1, "user_id", "left")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@register(
    "cube_type_hour",
    """
    WITH base AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hr,
             CAST(round(value * 1000000) AS BIGINT) AS vu
      FROM events
    )
    SELECT coalesce(event_type, '(all)') AS etype,
           CAST(coalesce(hr, -1) AS INT) AS hr, count(*) AS n,
           round(sum(vu) / (count(*) * 1000000.0), 6) AS avg_value
    FROM base GROUP BY CUBE (event_type, hr)
    """,
)
def q_cube_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all four marginals of type × hour in one
    pass — the OLAP cross-tab next to revenue_rollup's hierarchy).
    Means come from exact integer micro-unit sums: cube cells span
    wildly different group sizes, so a float avg would eventually land
    a rounding boundary (same trap as gap_fill_hourly)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.hour("ts").cast("int").alias("hr"),
        F.round(F.col("value") * 1000000).cast("long").alias("vu"),
    )
    return (
        base.cube("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vu").alias("su"))
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("etype"),
            F.coalesce("hr", F.lit(-1)).cast("int").alias("hr"),
            "n",
            F.round(F.col("su") / (F.col("n") * 1000000.0), 6).alias("avg_value"),
        )
    )


@register(
    "session_window_builtin",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), s AS (
      SELECT user_id, ts, sum(new_s) OVER (
        PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
      FROM e
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the BUILT-IN session_window (one groupBy, no
    window-function passes — Spark merges overlapping [ts, ts+gap)
    intervals internally; also the streaming-native form). Oracle is
    the gaps-and-islands rewrite with matching >=gap split semantics
    and end = last_ts + gap. Complements `sessionize`, which pins the
    explicit lag/cumsum plan."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "price_rank_profile",
    """
    SELECT p_partkey, p_brand,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd,
           ntile(4) OVER w AS quartile
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
    """,
)
def q_price_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows (percent_rank / cume_dist / ntile) per brand
    — one sort per partition serves all three (same WINDOW clause, and
    the key tiebreak makes every rank deterministic)."""
    from pyspark.sql.window import Window

    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return part.select(
        "p_partkey",
        "p_brand",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "exists_big_order",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
)
def q_exists_big_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery, expressed in SQL and left to Catalyst
    to decorrelate into a left-semi hash join (the plan a hand-written
    semi join would produce — pinned in tests/test_plans.py). Registered
    via spark.sql to exercise the SQL front door end-to-end."""
    # register only the two tables the SQL touches — registering the
    # whole testdata set reads every parquet footer per call
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
        )
        """
    )


# ---------------------------------------------------------------------------
# Round 2 additions: sketch-percentile bracket + iterative PageRank.
# ---------------------------------------------------------------------------


@register(
    "approx_percentile_bracket",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50_exact,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90_exact,
           TRUE AS p50_in_bracket,
           TRUE AS p90_in_bracket
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_approx_percentile_bracket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (the constant-memory quantile sketch — the
    100 TB path) bracket-checked like the HLL entry: the sketch's
    guarantee is RANK error <= 1/accuracy, so the estimate must lie
    between the exact quantiles at q ∓ 0.02 (a 200x-slack rank window
    for accuracy=1000). The query emits the exact quantiles plus the
    in-bracket booleans; the oracle emits the exact quantiles and TRUE
    — an out-of-bracket sketch hash-fails the gate."""
    orders = load_table(spark, sf_dir, "orders")

    def bracket(q: float) -> F.Column:
        est = F.expr(f"approx_percentile(o_totalprice, {q}, 1000)")
        lo = F.expr(f"percentile(o_totalprice, {max(q - 0.02, 0.0)})")
        hi = F.expr(f"percentile(o_totalprice, {min(q + 0.02, 1.0)})")
        return (est >= lo) & (est <= hi)

    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90_exact"),
        bracket(0.5).alias("p50_in_bracket"),
        bracket(0.9).alias("p90_in_bracket"),
    )


_PR_D = 0.85
_PR_ITERS = 3


def _pagerank_sql(iters: int = _PR_ITERS) -> str:
    """PageRank unrolled as chained CTEs (same oracle technique as the
    kmeans Lloyd loop): ranks are 9dp-quantized per iteration so
    neighbor-sum ordering noise (~1e-19) can't cascade across engines."""
    ctes = [
        "ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)",
        """edges AS (
      SELECT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM ps
      UNION ALL
      SELECT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst FROM ps)""",
        "nodes AS (SELECT DISTINCT src AS id FROM edges)",
        "n AS (SELECT count(*) AS cnt FROM nodes)",
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1)",
        "r0 AS (SELECT id, 1.0 / (SELECT cnt FROM n) AS r FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
      SELECT e.dst AS id,
             round({1 - _PR_D} / (SELECT cnt FROM n)
                   + {_PR_D} * sum(p.r / deg.d), 9) AS r
      FROM edges e
      JOIN r{i - 1} p ON e.src = p.id
      JOIN deg ON e.src = deg.src
      GROUP BY e.dst)"""
        )
    return f"""
    WITH {', '.join(ctes)}
    SELECT id AS node_id,
           CASE WHEN id % 2 = 0 THEN 'part' ELSE 'supplier' END AS side,
           r AS pagerank
    FROM r{iters}
    """


@register("pagerank_part_supplier", _pagerank_sql())
def q_pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite part–supplier graph (edges =
    DISTINCT lineitem pairs; node ids disambiguated by parity). The
    second iterative-graph family next to connected components: each
    round is one edges⋈ranks join + one aggregation, both keyed on
    node id — rank state is |V| rows however big the fact table, and
    the unchanging edges/deg sides are persisted across rounds. Every
    graph node has degree >= 1 by construction (nodes ARE edge
    endpoints), so no dangling-mass term. Oracle: the loop unrolled as
    chained CTEs with per-iteration 9dp rank quantization."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    edges = (
        ps.select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .union(
            ps.select(
                (F.col("l_suppkey") * 2 + 1).alias("src"),
                (F.col("l_partkey") * 2).alias("dst"),
            )
        )
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ed = edges.join(deg, "src").persist()  # constant across iterations
    nodes = edges.select(F.col("src").alias("id")).distinct().persist()
    n = nodes.count()
    ranks = nodes.withColumn("r", F.lit(1.0 / n))
    # rank state is |V| rows — known exactly (n). Below ~1M nodes the
    # per-iteration join broadcasts the rank side, so the (much larger,
    # persisted) edge list is never re-shuffled or re-sorted: one
    # shuffle per iteration (the dst aggregation) instead of three.
    # Larger graphs fall back to the shuffle join automatically.
    small_v = n < 1_000_000
    for _ in range(_PR_ITERS):
        rk = F.broadcast(ranks) if small_v else ranks
        ranks = (
            ed.join(rk, ed.src == rk.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(
                F.round(
                    F.lit((1 - _PR_D) / n) + _PR_D * F.sum(F.col("r") / F.col("d")), 9
                ).alias("r")
            )
        )
    return ranks.select(
        F.col("id").alias("node_id"),
        F.when(F.col("id") % 2 == 0, "part").otherwise("supplier").alias("side"),
        F.col("r").alias("pagerank"),
    )


@register(
    "grouping_sets_revenue",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
             AS gid,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form cube/rollup compile to)
    + grouping() bitmask to disambiguate NULL-as-aggregate from
    NULL-as-value. One scan, one Expand (4-way row fan-out), one
    hash aggregate with map-side partials — the multi-granularity
    report pattern without re-scanning per level. Revenue in exact
    integer cents (order-independent sums)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    g = (
        orders.select("o_orderstatus", "o_orderpriority", cents.alias("c"))
        .groupingSets(
            [
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderstatus"],
                ["o_orderpriority"],
                [],
            ],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
            .cast("long")
            .alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("c").cast("long").alias("revenue_cents"),
        )
    )
    return g.select(
        "o_orderstatus", "o_orderpriority", "gid", "n_orders", "revenue_cents"
    )


def fuzzy_block_variants(names: DataFrame, col: str) -> DataFrame:
    """Deletion-variant blocking keys (the SymSpell technique): for each
    name emit one (pos, variant-with-pos-deleted, length) key per
    character position. Two equal-length names at substitution
    distance 1 differ at exactly one position p, so both produce the
    SAME (p, variant) key — the blocking is EXACT for the
    equal-length dist≤1 predicate, and including pos in the key stops
    cross-position collisions ('ab'/'ba'). Block cardinality grows
    with the corpus (≈|S|·len keys, each block ≈ the true candidate
    group), unlike length-blocking which collapses fixed-width name
    universes into ONE all-pairs block (VERDICT r3 weak #3)."""
    return names.select(
        F.col(col),
        F.length(col).alias("ln"),
        F.explode(F.sequence(F.lit(0), F.length(col) - 1)).alias("pos"),
    ).withColumn(
        "variant",
        F.expr(f"concat(substring({col}, 1, pos), substring({col}, pos + 2))"),
    )


@register(
    "fuzzy_supplier_pairs",
    """
    WITH s AS (SELECT s_suppkey, s_name FROM supplier)
    SELECT a.s_name AS name_a, b.s_name AS name_b,
           CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
    FROM s a JOIN s b
      ON length(a.s_name) = length(b.s_name)
     AND a.s_name < b.s_name
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    """,
)
def q_fuzzy_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-match join (entity-resolution primitive): supplier
    name pairs within Levenshtein distance 1 at equal length (= one
    substitution). Deletion-variant blocks (fuzzy_block_variants) make
    the join an equality join on (pos, variant, length): ~|S|·len tiny
    blocks instead of one degenerate length block, so the shape
    survives a 100× supplier corpus. A true dist-1 pair collides at
    exactly its one differing position, so the candidate set carries no
    duplicate pairs; the levenshtein predicate remains the decider
    (blocks only prune). Both engines run identical unit-cost
    Levenshtein."""
    supp = load_table(spark, sf_dir, "supplier").select("s_name")
    a = fuzzy_block_variants(
        supp.select(F.col("s_name").alias("name_a")), "name_a"
    )
    b = fuzzy_block_variants(
        supp.select(F.col("s_name").alias("name_b")), "name_b"
    )
    return (
        a.join(
            b.withColumnRenamed("ln", "ln_b"),
            ["pos", "variant"],
        )
        .filter((F.col("ln") == F.col("ln_b")) & (F.col("name_a") < F.col("name_b")))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 1)
        .select("name_a", "name_b", "dist")
    )


@register(
    "pareto_frontier_parts",
    """
    WITH pts AS (
      SELECT p_retailprice AS price, p_size AS size, count(*) AS n_parts
      FROM part GROUP BY 1, 2
    )
    SELECT price, size, n_parts
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.price <= p.price AND q.size >= p.size
        AND (q.price < p.price OR q.size > p.size)
    )
    """,
)
def q_pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query: the set of (price, size) points
    not dominated by any other (cheaper-or-equal AND bigger-or-equal,
    strict somewhere) — minimize p_retailprice, maximize p_size.

    The oracle states dominance directly (NOT EXISTS self-join); the
    Spark plan is the sort-scan formulation: after reducing to distinct
    points, sort by (price asc, size desc) and keep rows whose running
    max size over all PRECEDING rows is below their own — an exact
    rewrite of the dominance test, O(n log n) not O(n^2).

    Scale story: a skyline is prunable partition-locally — any point
    dominated within one partition is dominated globally — so stage 1
    runs the same window keyed by partition id (parallel, no global
    sort), and only the per-partition survivors (tiny: each partition's
    own frontier) reach the stage-2 global window."""
    from pyspark.sql.window import Window

    part = load_table(spark, sf_dir, "part")
    pts = part.groupBy(
        F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
    ).agg(F.count(F.lit(1)).alias("n_parts"))

    def _survivors(df: DataFrame, *keys) -> DataFrame:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.asc("price"), F.desc("size"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            df.withColumn("_pm", F.max("size").over(w))
            .filter(F.col("_pm").isNull() | (F.col("_pm") < F.col("size")))
            .drop("_pm")
        )

    local = _survivors(pts.withColumn("pid", F.spark_partition_id()), "pid")
    return _survivors(local.drop("pid")).select("price", "size", "n_parts")


@register(
    "triangle_count_parts",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3
        ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT count(DISTINCT l_partkey) FROM lineitem) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           n_triangles
    FROM tri
    """,
)
def q_triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the part co-purchase graph (parts are
    adjacent when they share an order) — the clustering-coefficient /
    community-density primitive next to pagerank_part_supplier.

    The oracle counts each triangle once via id ordering (u < v < w
    implied by composing a<b edges). The Spark plan uses the
    compact-forward orientation instead: edges point from the
    (degree, id)-smaller endpoint to the larger, so every wedge is
    enumerated at its LOWEST-degree vertex — the join fan-out per
    vertex is bounded by its out-degree, which orientation caps near
    sqrt(|E|) on skewed graphs (the hub that would otherwise produce
    deg^2 wedges has out-degree ~0). Same count, same single-counting
    guarantee (the orientation is acyclic), radically smaller shuffle
    on power-law graphs."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    und = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .distinct()
        .persist()  # consumed by degrees, orientation, and n_edges
    )
    deg = (
        und.select(F.col("u").alias("n")).unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    # orient: smaller (deg, id) -> larger (deg, id)
    oriented = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
        .persist()  # three probes of the oriented edge list (e1/e2/e3)
    )
    # edge-iterator: per-vertex out-neighbor arrays, one array_intersect
    # per edge — no wedge relation ever materializes (the wedge join is
    # sum(outdeg^2) rows; this is |E| rows with ~outdeg-sized arrays)
    adj = oriented.groupBy("s").agg(F.collect_set("t").alias("nb"))
    adj_u = adj.select(F.col("s"), F.col("nb").alias("nu"))
    adj_v = adj.select(F.col("s").alias("t"), F.col("nb").alias("nv"))
    tri = (
        oriented.join(adj_u, "s")
        .join(adj_v, "t", "left")
        .select(
            F.size(
                F.array_intersect(
                    "nu", F.coalesce("nv", F.array().cast("array<bigint>"))
                )
            ).alias("c")
        )
        .agg(F.sum("c").alias("n_triangles"))
    )
    n_nodes = li.select(F.countDistinct("l_partkey").alias("n_nodes"))
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_nodes.crossJoin(n_edges).crossJoin(tri)


@register(
    "market_basket_rules",
    """
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
    item AS (SELECT pk, count(*) AS c FROM li GROUP BY 1),
    pair AS (
      SELECT a.pk AS pa, b.pk AS pb, count(*) AS cp
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT pa, pb, cp AS n_orders_pair,
           round(cp * 1.0 / n.n_orders, 6) AS support,
           round(cp * 1.0 / ia.c, 6) AS confidence,
           round((cp * 1.0 / ia.c) / (ib.c * 1.0 / n.n_orders), 6) AS lift
    FROM pair
    JOIN item ia ON ia.pk = pa
    JOIN item ib ON ib.pk = pb
    CROSS JOIN n
    ORDER BY lift DESC, pa, pb LIMIT 20
    """,
)
def q_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Apriori level 2): for co-ordered
    part pairs above a support floor, the support / confidence / lift
    triple, top-20 by lift — the co-occurrence-mining staple sharing
    its pair substrate with triangle_count_parts.

    Scale story: the pair build is the order-keyed self-join (fan-out
    bounded by basket size, not corpus), the support floor (HAVING)
    prunes before any per-item join, item counts broadcast, and top-20
    is TakeOrderedAndProject. Level-k Apriori iterates this plan with
    the level-(k-1) survivors as the new 'items' — each level prunes
    the next."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    n = li.select(F.countDistinct("ok").alias("n_orders"))
    item = li.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    a = li.select(F.col("ok"), F.col("pk").alias("pa"))
    b = li.select(F.col("ok"), F.col("pk").alias("pb"))
    pair = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("cp"))
        .filter(F.col("cp") >= 3)
    )
    ia = item.select(F.col("pk").alias("pa"), F.col("c").alias("ca"))
    ib = item.select(F.col("pk").alias("pb"), F.col("c").alias("cb"))
    conf = F.col("cp") / F.col("ca")
    return (
        pair.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            F.col("cp").alias("n_orders_pair"),
            F.round(F.col("cp") / F.col("n_orders"), 6).alias("support"),
            F.round(conf, 6).alias("confidence"),
            F.round(conf / (F.col("cb") / F.col("n_orders")), 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), "pa", "pb")
        .limit(20)
    )


@register(
    "bucketed_user_sessions",
    f"""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL {SESSION_GAP_MIN} MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM e
    )
    SELECT user_id,
           CAST(max(session_id) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id
    ORDER BY n_sessions DESC, user_id LIMIT 20
    """,
)
def q_bucketed_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization + per-user rollup over the BUCKETED events copy
    (hash-clustered + sorted on user_id — the serving layout for every
    user-grain query family: sessionize, retention, running totals,
    gap stats). Both windows (the lag gap-detector and the running
    session-id sum) require only ClusteredDistribution(user_id), which
    the bucketed scan already satisfies, and the per-user aggregate
    rides the same partitioning: the ENTIRE sessionize→rollup→top-k
    plan runs without any Exchange (plan-pinned) — the per-query
    shuffle of the event fact (the reference's idx_traffic_cell lookup
    shape, src/database.py:116) was paid once at bucketed ingest.
    Semantics are exactly `sessionize`'s 30-minute gap rule; output is
    the top-20 users by session count (deterministic user_id
    tiebreak)."""
    from .bucketed import appendable_bucketed_table

    ev = appendable_bucketed_table(spark, sf_dir, "events", "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = _new_session_flag(w)
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(new_s).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_id"),
    )
    return (
        s.groupBy("user_id")
        .agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy(F.desc("n_sessions"), "user_id")
        .limit(20)
    )
