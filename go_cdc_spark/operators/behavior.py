"""Behavioral analytics over the event stream: ordered funnels and
cohort retention.

These are the classic event-log analyses a CDC-replicated events table
feeds (the reference replicates the table; the analytic surface on top
is SURVEY.md §2.B). Both are expressed as staged per-user aggregations:

- **funnel** — strictly-ordered view → click → purchase conversion.
  Each stage is a per-user MIN(ts) aggregate of one event type,
  constrained to fall after the previous stage's timestamp. All stages
  key on user_id, so the stage joins are between already-co-partitioned
  aggregates (Catalyst reuses the exchange; AQE broadcasts the rapidly
  shrinking later stages). No window over the raw event stream — the
  100 TB event scan is touched exactly once per stage with the
  event-type filter pushed to the scan.
- **cohort retention** — users bucketed by the ISO week of their first
  event; activity counted per (cohort week, weeks-since-cohort) cell.
  One per-user MIN(ts) aggregate (broadcast back against the stream —
  user-count ≪ event-count), then a count-distinct keyed by the small
  (cohort, offset) grid with map-side partial distinct.

Timestamps stay TIMESTAMP_NTZ end-to-end (tables.load policy) and week
truncation/day arithmetic happen on DATE in both engines, so results
are timezone-invariant and hash-match DuckDB exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import query
from ..tables import load

# Giant-basket valve shared by every (order, part) pair self-join in
# the repo — basket_rules here, copurchase_pairs below, and the graph
# family's _copurchase_edges (operators/graph.py imports this): a
# basket of m distinct parts contributes m(m-1)/2 pair rows BEFORE any
# support filter, so ONE pathological mega-basket (bulk order, ETL
# glitch, collapsed key) goes quadratic in a single shuffle task.
# Mega-baskets carry no associational signal (they co-occur with
# everything), so they leave the mining universe entirely — mirrored
# in every consumer's oracle. TPC-H baskets hold <= 7 items, so the
# cap is invisible at every driver SF (capped == uncapped proven in
# tests/test_wedge_valve.py / test_behavior_robust.py).
MAX_BASKET = 64

_FUNNEL_ORACLE = """
WITH v AS (
    SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t2
    FROM events e JOIN v USING (user_id)
    WHERE e.event_type = 'click' AND e.ts > v.t1
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t3
    FROM events e JOIN c USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > c.t2
    GROUP BY e.user_id
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       (SELECT COUNT(*) FROM v) AS n_viewed,
       (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
       (SELECT COUNT(*) FROM p) AS n_purchased_after_click
"""


@query("funnel_conversion", oracle=_FUNNEL_ORACLE)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered three-stage funnel: first view, first click
    after that view, first purchase after that click; one row of stage
    counts.

    Scale shape: each stage filters the event scan by type (pushed
    filter), aggregates MIN(ts) per user, and joins the previous stage
    on user_id. The stage frames shrink monotonically, so AQE turns the
    later joins into broadcasts; nothing is windowed over raw events.
    """
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        ev.agg(F.count_distinct("user_id").alias("n_users"))
        .crossJoin(v.agg(F.count("*").alias("n_viewed")))
        .crossJoin(c.agg(F.count("*").alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchased_after_click")))
    )


_COHORT_ORACLE = """
WITH first_ev AS (
    SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
    FROM events GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(floor(date_diff('day', f.cohort_week, CAST(e.ts AS DATE)) / 7) AS INTEGER)
           AS week_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN first_ev f USING (user_id)
GROUP BY 1, 2
"""


@query("cohort_retention", oracle=_COHORT_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week (Monday
    start, both engines) of their first event; distinct active users per
    (cohort week, weeks since cohort) cell.

    Scale shape: one per-user MIN(ts) aggregate — the user dimension is
    orders of magnitude smaller than the event stream, so it broadcasts
    back onto the stream (no event-side shuffle for the join). The final
    count-distinct keys on the tiny (cohort, offset) grid; Spark plans
    it as the two-phase distinct-then-count aggregate with map-side
    partials.
    """
    ev = load(spark, sf_dir, "events")
    first_ev = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    return (
        ev.join(F.broadcast(first_ev), "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


_ANOMALY_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           SUM(CAST(value AS DECIMAL(18,6))) AS v
    FROM events GROUP BY event_type, day
),
stats AS (
    SELECT event_type, day,
           CAST(v AS DOUBLE) AS x,
           CAST(CAST(SUM(CAST(v AS DECIMAL(38,6))) OVER (PARTITION BY event_type)
                     AS VARCHAR) AS DOUBLE) AS s,
           CAST(CAST(SUM(CAST(v AS DECIMAL(19,6)) * CAST(v AS DECIMAL(19,6)))
                     OVER (PARTITION BY event_type) AS VARCHAR) AS DOUBLE) AS s2,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM daily
)
SELECT event_type, day, x AS daily_value,
       (x - s / n) / sqrt((s2 - (s / n) * s) / (n - 1)) AS zscore,
       CASE WHEN abs((x - s / n) / sqrt((s2 - (s / n) * s) / (n - 1))) > 2.0
            THEN 1 ELSE 0 END AS is_anomaly
FROM stats
"""


@query("anomaly_zscore", oracle=_ANOMALY_ORACLE)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly detection: per event type, flag days whose
    total value is more than 2 sample standard deviations from that
    type's mean — the monitoring query a CDC-fed events table exists to
    answer.

    Float-parity design: a naive STDDEV() would never hash-match across
    engines (different accumulation orders). Instead every sum — the
    daily totals, their per-type total, and the sum of squares — runs on
    the exact-decimal policy (order-independent); squares are
    decimal×decimal (exact integer arithmetic — squaring the double
    first trips each engine's own double→decimal rounding); and the
    decimal→double conversions go THROUGH A STRING, because string
    parsing is correctly rounded in both engines while DuckDB's direct
    int128→double path double-rounds past 2^53. The z-score is then
    assembled from those identical scalars with the same double
    expression tree on both sides: (x - s/n) / sqrt((s2 - (s/n)*s) /
    (n-1)). Same inputs, same op order → identical bits.

    Scale shape: one (type, day)-keyed aggregation with map-side
    partials, then a window over event_type — per-type day counts are
    tiny (the window state is O(days), not O(events))."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    w = Window.partitionBy("event_type")
    x = F.col("v").cast("double")
    stats = daily.select(
        "event_type",
        "day",
        x.alias("x"),
        # decimal → double goes THROUGH A STRING on both sides: string
        # parsing is correctly rounded everywhere, while DuckDB's direct
        # int128→double path double-rounds once the scaled integer
        # exceeds 2^53 (bit-flip observed on s2 at sf0.01)
        F.sum(F.col("v").cast("decimal(38,6)")).over(w)
        .cast("string").cast("double").alias("s"),
        # the square is decimal×decimal (EXACT integer arithmetic in
        # both engines) — squaring the double first would hit each
        # engine's own double→decimal rounding and drift a ulp
        F.sum(
            F.col("v").cast("decimal(18,6)") * F.col("v").cast("decimal(18,6)")
        ).over(w)
        .cast("string").cast("double").alias("s2"),
        F.count("*").over(w).alias("n"),
    )
    mean = F.col("s") / F.col("n")
    z = (F.col("x") - mean) / F.sqrt(
        (F.col("s2") - mean * F.col("s")) / (F.col("n") - 1)
    )
    return stats.select(
        "event_type",
        "day",
        F.col("x").alias("daily_value"),
        z.alias("zscore"),
        F.when(F.abs(z) > 2.0, 1).otherwise(0).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Calendar heatmap + group-size distribution archetypes.
# ---------------------------------------------------------------------------

_HEATMAP_ORACLE = """
SELECT CAST(isodow(ts) AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hour_of_day,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM events
GROUP BY 1, 2
ORDER BY dow, hour_of_day
"""


@query("events_heatmap", oracle=_HEATMAP_ORACLE)
def events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap (ISO weekday, Monday
    = 1 — Spark's ``dayofweek`` is Sunday-based and ``weekday`` is
    0-based, DuckDB's ``isodow`` is Monday-1-based; the projection
    aligns them explicitly rather than trusting either default).

    Scale shape: calendar bucketing is a map-side projection; the
    aggregate has at most 7 × 24 groups — partial aggregation reduces
    each partition to ≤ 168 rows before a trivial exchange."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.weekday("ts") + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("dow", "hour_of_day")
    )


_ORDER_SIZES_ORACLE = """
SELECT n_items, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(order_total AS DECIMAL(38,6))) AS VARCHAR)
            AS DOUBLE) AS revenue
FROM (
  SELECT l_orderkey, COUNT(*) AS n_items,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS VARCHAR)
              AS DOUBLE) AS order_total
  FROM lineitem GROUP BY l_orderkey
)
GROUP BY n_items
ORDER BY n_items
"""


@query("dist_order_sizes", oracle=_ORDER_SIZES_ORACLE)
def dist_order_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of order sizes: how many orders have k line items,
    and the revenue carried by each size class — the double-aggregation
    archetype (aggregate per entity, then aggregate the aggregate).

    Scale shape: pass 1 shuffles on the (unique, unskewed) order key
    with map-side partials; pass 2's input is |orders| rows collapsing
    into ≤ max-items groups — the second exchange is trivial. The
    per-order decimal total re-accumulates exactly in pass 2
    (sum-of-exact-sums), so revenue hash-matches."""
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("order_total"),
    )
    return (
        per_order.groupBy("n_items")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("order_total").cast("decimal(28,6)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("n_items")
    )


_COPURCHASE_ORACLE = f"""
WITH i0 AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem
),
okb AS (
  SELECT okey FROM i0 GROUP BY okey HAVING COUNT(*) <= {MAX_BASKET}
),
items AS (SELECT i0.okey, i0.pkey FROM i0 JOIN okb USING (okey))
SELECT a.pkey AS part_a, b.pkey AS part_b, COUNT(*) AS n_orders
FROM items a JOIN items b ON a.okey = b.okey AND a.pkey < b.pkey
GROUP BY a.pkey, b.pkey
HAVING COUNT(*) >= 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


@query("copurchase_pairs", oracle=_COPURCHASE_ORACLE)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs ordered together
    (pairwise frequent-itemset support with a min-support floor) — the
    recommendation-seed archetype.

    Scale shape: the distinct (order, part) link dedups first, the
    MAX_BASKET valve drops mega-baskets BEFORE the self-join (one
    m-item basket is m(m-1)/2 pair rows in a single shuffle task —
    basket_rules measured 8x under a 10%-mass hot order), and the
    self-join fans out WITHIN order keys only — output per order is
    C(items-per-order, 2), bounded by min(basket size, MAX_BASKET),
    never |orders|². The pair aggregate partial-combines map-side, the
    support floor prunes before the top-k, and the final LIMIT rides a
    TakeOrdered over the surviving pairs. For k-itemsets beyond pairs,
    iterate the same join against the surviving pair set (a-priori
    pruning) rather than widening the self-join."""
    from pyspark.sql.window import Window

    li = load(spark, sf_dir, "lineitem")
    # ONE repartition on the order key: dedup, the basket-count window,
    # and both self-join sides all reuse it zero-exchange (the
    # _copurchase_edges co-partitioned layout — measured free at sf0.1)
    i0 = (
        li.select(
            F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("pkey")
        )
        .repartition("okey")
        .dropDuplicates(["okey", "pkey"])
    )
    items = (
        i0.withColumn("_bs", F.count(F.lit(1)).over(Window.partitionBy("okey")))
        .filter(F.col("_bs") <= MAX_BASKET)
        .drop("_bs")
    )
    a = items.select("okey", F.col("pkey").alias("part_a"))
    b = items.select(F.col("okey").alias("okey_b"), F.col("pkey").alias("part_b"))
    return (
        a.join(b, (a.okey == b.okey_b) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Event transition matrix: first-order Markov view of user journeys —
# P(next event type | current event type) with counts. The behavioral
# twin of lm_bigram_score (same lag-pair shape, event stream instead of
# token stream).
# ---------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) AS DOUBLE)
         / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS p
FROM seq
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@query("event_transitions", oracle=_TRANSITIONS_ORACLE)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over per-user event sequences:
    (from_type, to_type, count, row-normalized probability). Ties on ts
    break by event_id so the sequence — and therefore the hash — is
    deterministic.

    Scale shape: one window pass partitioned by user_id (the natural
    key, uniform by construction) produces the lag pairs; the
    transition aggregate keys on the tiny (from, to) grid — map-side
    partials collapse each partition to at most |types|² rows, and the
    row-normalizing window runs over that grid, not the stream."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    row = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(row).cast("double")).alias("p"),
    )


# ---------------------------------------------------------------------------
# Robust anomaly detection: median / MAD instead of mean / stddev.
# The z-score flags its own causes — one extreme day inflates the
# stddev and masks the others (masking); the median absolute deviation
# has a 50% breakdown point, so the modified z-score
# 0.6745·(x − med)/MAD (Iglewicz–Hoaglin) stays calibrated no matter
# how wild the outliers are. Cross-engine exactness rides the proven
# percentile equivalence: Spark's exact `percentile` and DuckDB's
# `quantile_cont` are bit-identical (verify notes), and everything
# else is one shared double expression tree.
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS x
    FROM events GROUP BY event_type, day
),
med AS (
    SELECT event_type, quantile_cont(x, 0.5) AS med
    FROM daily GROUP BY event_type
),
dev AS (
    SELECT d.event_type, d.day, d.x, m.med, abs(d.x - m.med) AS adev
    FROM daily d JOIN med m ON m.event_type = d.event_type
),
mad AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type, d.day, d.x AS daily_value,
       CASE WHEN md.mad > 0.0
            THEN 0.6745 * (d.x - d.med) / md.mad ELSE 0.0 END AS mad_score,
       CASE WHEN md.mad > 0.0
                 AND abs(0.6745 * (d.x - d.med) / md.mad) > 3.5
            THEN 1 ELSE 0 END AS is_outlier
FROM dev d JOIN mad md ON md.event_type = d.event_type
ORDER BY d.event_type, d.day
"""


@query("anomaly_mad", oracle=_MAD_ORACLE)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly detection: modified z-score
    0.6745·(x − median)/MAD per event type, outliers above the
    Iglewicz–Hoaglin 3.5 threshold — the masking-proof twin of
    anomaly_zscore (one wild day cannot hide the others by inflating
    the spread; MAD has a 50% breakdown point where stddev has 0%).

    Scale shape: one raw-event aggregation (map-side partials) into
    the calendar-bounded daily relation; both percentile passes and
    the joins run on |types|×|days| rows only. A constant series
    (MAD = 0) scores 0 instead of dividing by zero."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("x"))
    )
    # percentile buffer: one (value, count) entry per distinct daily
    # value of the type, so ≤ |days| entries per event_type group
    med = daily.groupBy("event_type").agg(
        F.percentile("x", F.lit(0.5)).alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type", "day", "x", "med", F.abs(F.col("x") - F.col("med")).alias("adev")
    )
    # percentile buffer: ≤ |days| distinct deviations per event_type
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    score = F.lit(0.6745) * (F.col("x") - F.col("med")) / F.col("mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day",
            F.col("x").alias("daily_value"),
            F.when(F.col("mad") > 0.0, score).otherwise(F.lit(0.0)).alias("mad_score"),
            F.when((F.col("mad") > 0.0) & (F.abs(score) > 3.5), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_outlier"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation: the classic marketing-analytics cut of a
# replicated orders table — recency / frequency / monetary quartile
# scores concatenated into a 3-digit segment (444 = best customers,
# 111 = churned low-value). Thresholds are exact percentiles (the
# proven quantile_cont parity); bucketing is pure comparison, so the
# whole segmentation is deterministic cross-engine.
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS a FROM orders),
cust AS (
    SELECT o_custkey AS c_custkey,
           date_diff('day', MAX(CAST(o_orderdate AS DATE)), anchor.a)
             AS recency_days,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR)
                AS DOUBLE) AS monetary
    FROM orders CROSS JOIN anchor
    GROUP BY o_custkey, anchor.a
),
q AS (
    SELECT quantile_cont(CAST(recency_days AS DOUBLE), 0.25) AS r1,
           quantile_cont(CAST(recency_days AS DOUBLE), 0.5)  AS r2,
           quantile_cont(CAST(recency_days AS DOUBLE), 0.75) AS r3,
           quantile_cont(CAST(frequency AS DOUBLE), 0.25) AS f1,
           quantile_cont(CAST(frequency AS DOUBLE), 0.5)  AS f2,
           quantile_cont(CAST(frequency AS DOUBLE), 0.75) AS f3,
           quantile_cont(monetary, 0.25) AS m1,
           quantile_cont(monetary, 0.5)  AS m2,
           quantile_cont(monetary, 0.75) AS m3
    FROM cust
)
SELECT c.c_custkey, CAST(c.recency_days AS BIGINT) AS recency_days,
       c.frequency, c.monetary,
       CAST(CASE WHEN CAST(c.recency_days AS DOUBLE) <= q.r1 THEN 4
                 WHEN CAST(c.recency_days AS DOUBLE) <= q.r2 THEN 3
                 WHEN CAST(c.recency_days AS DOUBLE) <= q.r3 THEN 2
                 ELSE 1 END AS INTEGER) AS r_score,
       CAST(CASE WHEN CAST(c.frequency AS DOUBLE) <= q.f1 THEN 1
                 WHEN CAST(c.frequency AS DOUBLE) <= q.f2 THEN 2
                 WHEN CAST(c.frequency AS DOUBLE) <= q.f3 THEN 3
                 ELSE 4 END AS INTEGER) AS f_score,
       CAST(CASE WHEN c.monetary <= q.m1 THEN 1
                 WHEN c.monetary <= q.m2 THEN 2
                 WHEN c.monetary <= q.m3 THEN 3
                 ELSE 4 END AS INTEGER) AS m_score,
       CAST(100 * (CASE WHEN CAST(c.recency_days AS DOUBLE) <= q.r1 THEN 4
                        WHEN CAST(c.recency_days AS DOUBLE) <= q.r2 THEN 3
                        WHEN CAST(c.recency_days AS DOUBLE) <= q.r3 THEN 2
                        ELSE 1 END)
            + 10 * (CASE WHEN CAST(c.frequency AS DOUBLE) <= q.f1 THEN 1
                         WHEN CAST(c.frequency AS DOUBLE) <= q.f2 THEN 2
                         WHEN CAST(c.frequency AS DOUBLE) <= q.f3 THEN 3
                         ELSE 4 END)
            + (CASE WHEN c.monetary <= q.m1 THEN 1
                    WHEN c.monetary <= q.m2 THEN 2
                    WHEN c.monetary <= q.m3 THEN 3
                    ELSE 4 END) AS INTEGER) AS segment
FROM cust c CROSS JOIN q
ORDER BY c.c_custkey
"""


@query("rfm_segments", oracle=_RFM_ORACLE)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of every ordering customer: recency (days
    since last order, anchored at the corpus max date so the query is
    reproducible), frequency (order count), monetary (exact-decimal
    lifetime total) — each quartile-scored 1..4 against exact
    percentile thresholds, concatenated into the classic 3-digit
    segment (recency inverted: recent = high score).

    Scale shape: one orders aggregation keyed by custkey (map-side
    partials), one 9-value percentile aggregate broadcast back, pure
    comparison bucketing — no second pass over orders, no window over
    customers."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        "o_totalprice",
    )
    anchor = orders.agg(F.max("od").alias("a"))
    cust = (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey", "a")
        .agg(
            F.max("od").alias("last_od"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("monetary"),
        )
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.datediff("a", "last_od").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # one global group; each percentile buffer holds one entry per
    # distinct value: ≤ |days| (recency), ≤ max orders per customer
    # (frequency), ≤ |customers| (monetary)
    q = cust.agg(
        F.percentile(F.col("recency_days").cast("double"), F.lit(0.25)).alias("r1"),
        F.percentile(F.col("recency_days").cast("double"), F.lit(0.5)).alias("r2"),
        F.percentile(F.col("recency_days").cast("double"), F.lit(0.75)).alias("r3"),
        F.percentile(F.col("frequency").cast("double"), F.lit(0.25)).alias("f1"),
        F.percentile(F.col("frequency").cast("double"), F.lit(0.5)).alias("f2"),
        F.percentile(F.col("frequency").cast("double"), F.lit(0.75)).alias("f3"),
        F.percentile("monetary", F.lit(0.25)).alias("m1"),
        F.percentile("monetary", F.lit(0.5)).alias("m2"),
        F.percentile("monetary", F.lit(0.75)).alias("m3"),
    )
    rd = F.col("recency_days").cast("double")
    fq = F.col("frequency").cast("double")
    r_score = (
        F.when(rd <= F.col("r1"), 4)
        .when(rd <= F.col("r2"), 3)
        .when(rd <= F.col("r3"), 2)
        .otherwise(1)
    )
    f_score = (
        F.when(fq <= F.col("f1"), 1)
        .when(fq <= F.col("f2"), 2)
        .when(fq <= F.col("f3"), 3)
        .otherwise(4)
    )
    m_score = (
        F.when(F.col("monetary") <= F.col("m1"), 1)
        .when(F.col("monetary") <= F.col("m2"), 2)
        .when(F.col("monetary") <= F.col("m3"), 3)
        .otherwise(4)
    )
    return (
        cust.crossJoin(F.broadcast(q))
        .select(
            "c_custkey",
            "recency_days",
            "frequency",
            "monetary",
            r_score.cast("int").alias("r_score"),
            f_score.cast("int").alias("f_score"),
            m_score.cast("int").alias("m_score"),
            (r_score * 100 + f_score * 10 + m_score).cast("int").alias("segment"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Association rules over co-purchase baskets: the scoring step of
# classic market-basket mining (Agrawal-Srikant support/confidence
# plus lift). copurchase_pairs reports raw co-occurrence counts; this
# turns them into directed rules a->b ranked by lift — the measure
# that separates "bought together because both are popular" from a
# real association.
# ---------------------------------------------------------------------------

def pairs_from_sorted(items) -> F.Column:
    """All i<j pairs of a SORTED distinct-item array as
    array<struct<pa,pb>> — map-side pair enumeration (pa < pb holds by
    the sort), the explode-from-array twin of a basket self-join.
    Shared by basket_rules and the co-purchase graph family (r13)."""
    return F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + 2, F.size(items)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )


_RULES_TOP = 30
_RULES_MIN_SUPPORT = 2
# Skew valve (see MAX_BASKET above — measured: a 10%-mass hot order
# took the probe from 4.9s to 39s without it); supports and n are
# counted over the SAME capped universe so confidence/lift stay
# internally consistent.
_RULES_MAX_BASKET = MAX_BASKET

_BASKET_ORACLE = f"""
WITH d0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ok AS (
  SELECT l_orderkey FROM d0 GROUP BY l_orderkey
  HAVING COUNT(*) <= {_RULES_MAX_BASKET}
),
d AS (SELECT d0.l_orderkey, d0.l_partkey FROM d0 JOIN ok USING (l_orderkey)),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM d),
item AS (
  SELECT l_partkey AS part, CAST(COUNT(*) AS BIGINT) AS s FROM d GROUP BY l_partkey
),
pair AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS s_ab
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_RULES_MIN_SUPPORT}
),
rules AS (
  SELECT pa AS antecedent, pb AS consequent, s_ab FROM pair
  UNION ALL
  SELECT pb, pa, s_ab FROM pair
)
SELECT r.antecedent, r.consequent, r.s_ab AS pair_support,
       CAST(r.s_ab AS DOUBLE) / CAST(ia.s AS DOUBLE) AS confidence,
       CAST(r.s_ab * n.n_orders AS DOUBLE)
         / CAST(ia.s * ic.s AS DOUBLE) AS lift
FROM rules r
JOIN item ia ON ia.part = r.antecedent
JOIN item ic ON ic.part = r.consequent
CROSS JOIN n
ORDER BY lift DESC, antecedent, consequent
LIMIT {_RULES_TOP}
"""


@query("basket_rules", oracle=_BASKET_ORACLE)
def basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_RULES_TOP} directed association rules a→b over order
    baskets, ranked by lift = P(ab)/(P(a)P(b)) with support ≥
    {_RULES_MIN_SUPPORT} orders; confidence = support(ab)/support(a).

    Scale shape: the distinct-first basket derivation (one aggregation
    phase — the co-purchase family's measured win), a basket-size cap
    of {_RULES_MAX_BASKET} BEFORE the pair self-join (the skew valve:
    one mega-basket of m items is m²/2 pairs — measured 8× blowup
    under a 10%-mass hot order without it; oversized baskets carry no
    associational signal and leave the mining universe entirely, with
    supports and n counted over the same capped universe), one
    item-support aggregation, the support-filtered pair self-join,
    then broadcast joins against the item supports and one
    TakeOrderedAndProject. Counts and cross-products are exact
    BIGINTs; confidence and lift are each ONE double division of exact
    integers, so ranking is deterministic cross-engine."""
    # r13: basket-first derivation — ONE l_orderkey aggregate dedups
    # and groups each order's items (collect_set), the valve is a
    # size() filter, and pairs explode map-side from the sorted array
    # (see pairs_from_sorted / _copurchase_edges). The old shape paid
    # a distinct exchange, a basket-count aggregate, a join back, and
    # a self-join; baskets is lazily pinned because three consumers
    # (n, item supports, pairs) read it.
    baskets = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .filter(F.size("items") <= _RULES_MAX_BASKET)
        .localCheckpoint(eager=False)
    )
    n = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    item = baskets.select(F.explode("items").alias("part")).groupBy("part").agg(
        F.count(F.lit(1)).alias("s")
    )
    pair = (
        baskets.select(F.explode(pairs_from_sorted(F.col("items"))).alias("e"))
        .groupBy(F.col("e.pa").alias("pa"), F.col("e.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .filter(F.col("s_ab") >= _RULES_MIN_SUPPORT)
    )
    rules = pair.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "s_ab"
    ).unionByName(
        pair.select(
            F.col("pb").alias("antecedent"), F.col("pa").alias("consequent"), "s_ab"
        )
    )
    ia = item.select(F.col("part").alias("antecedent"), F.col("s").alias("s_a"))
    ic = item.select(F.col("part").alias("consequent"), F.col("s").alias("s_c"))
    return (
        rules.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("s_ab").alias("pair_support"),
            (F.col("s_ab").cast("double") / F.col("s_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("s_ab") * F.col("n_orders")).cast("double")
                / (F.col("s_a") * F.col("s_c")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(_RULES_TOP)
    )


# ---------------------------------------------------------------------------
# Revenue concentration (Pareto / Lorenz curve): what share of revenue
# the top-k% of customers hold, answered by exact spend-percentile
# thresholds so the whole curve costs one aggregation pass over the
# customer relation — no global sort, no full-relation cumsum window.
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH cust AS (
    SELECT o_custkey,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS spend_dec,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR)
                AS DOUBLE) AS spend
    FROM orders GROUP BY o_custkey
),
total AS (
    SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS VARCHAR)
                AS DOUBLE) AS total
    FROM orders
),
qs AS (
    SELECT quantile_cont(spend, 0.9) AS q1, quantile_cont(spend, 0.8) AS q2,
           quantile_cont(spend, 0.7) AS q3, quantile_cont(spend, 0.6) AS q4,
           quantile_cont(spend, 0.5) AS q5, quantile_cont(spend, 0.4) AS q6,
           quantile_cont(spend, 0.3) AS q7, quantile_cont(spend, 0.2) AS q8,
           quantile_cont(spend, 0.1) AS q9, MIN(spend) AS q10
    FROM cust
),
decile AS (
    SELECT CAST(d.k AS INTEGER) AS decile,
           CASE d.k WHEN 1 THEN qs.q1 WHEN 2 THEN qs.q2 WHEN 3 THEN qs.q3
                    WHEN 4 THEN qs.q4 WHEN 5 THEN qs.q5 WHEN 6 THEN qs.q6
                    WHEN 7 THEN qs.q7 WHEN 8 THEN qs.q8 WHEN 9 THEN qs.q9
                    ELSE qs.q10 END AS threshold
    FROM (SELECT unnest(range(1, 11)) AS k) d CROSS JOIN qs
)
SELECT d.decile, d.threshold,
       CAST(COUNT(*) FILTER (c.spend >= d.threshold) AS BIGINT)
           AS customers_above,
       CAST(CAST(SUM(c.spend_dec) FILTER (c.spend >= d.threshold) AS VARCHAR)
            AS DOUBLE) / t.total AS revenue_share
FROM decile d CROSS JOIN cust c CROSS JOIN total t
GROUP BY d.decile, d.threshold, t.total
ORDER BY d.decile
"""


@query("orders_pareto", oracle=_PARETO_ORACLE)
def orders_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration curve: for each spend decile threshold
    (exact percentiles of per-customer lifetime spend), the customer
    count at-or-above it and their share of total revenue — the
    "do 20% of customers drive 80% of revenue" answer as data.

    Scale shape: per-customer spend is one orders aggregation
    (map-side partials); the 10-threshold row broadcasts back over the
    customer relation (10× row growth folded by partial aggregation) —
    no global sort and no full-relation cumulative window, which is
    what makes the curve computable over a customer dimension too
    large to single-partition. Shares are exact-decimal sums (the
    spend column rides along in decimal form precisely so conditional
    revenue sums stay order-independent) with one double division."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("spend_dec")
    ).select(
        "o_custkey", "spend_dec", F.col("spend_dec").cast("double").alias("spend")
    )
    total = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("total")
    )
    # one global group; each of the nine percentile buffers holds one
    # entry per distinct spend, so ≤ |customers| entries
    qs = cust.agg(
        *[
            F.percentile("spend", F.lit(round(1 - k / 10, 1))).alias(f"q{k}")
            for k in range(1, 10)
        ],
        F.min("spend").alias("q10"),
    )
    decile = qs.select(
        F.posexplode(
            F.array(*[F.struct(F.col(f"q{k}").alias("t")) for k in range(1, 11)])
        ).alias("pos", "x")
    ).select(
        (F.col("pos") + 1).cast("int").alias("decile"),
        F.col("x.t").alias("threshold"),
    )
    hit = F.col("spend") >= F.col("threshold")
    return (
        cust.crossJoin(F.broadcast(decile))
        .crossJoin(F.broadcast(total))
        .groupBy("decile", "threshold", "total")
        .agg(
            F.count(F.when(hit, F.lit(1))).alias("customers_above"),
            (
                F.sum(F.when(hit, F.col("spend_dec"))).cast("double")
                / F.col("total")
            ).alias("revenue_share"),
        )
        .select("decile", "threshold", "customers_above", "revenue_share")
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Per-customer ordering streaks: longest run of CONSECUTIVE calendar
# days with at least one order — the user-level gaps-and-islands
# (seq_gaps_islands audits the key sequence; this one measures
# engagement cadence, the retention sibling of cohort_retention).
# ---------------------------------------------------------------------------

_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT o_custkey AS ck, o_orderdate AS d FROM orders
),
marked AS (
  SELECT ck, d,
         CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT)
           - ROW_NUMBER() OVER (PARTITION BY ck ORDER BY d) AS grp
  FROM days
),
streaks AS (
  SELECT ck, grp,
         CAST(COUNT(*) AS BIGINT) AS len,
         MIN(d) AS streak_start
  FROM marked GROUP BY ck, grp
),
best AS (
  SELECT ck, len, streak_start,
         ROW_NUMBER() OVER (PARTITION BY ck
                            ORDER BY len DESC, streak_start ASC) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY ck) AS BIGINT) AS n_streaks
  FROM streaks
)
SELECT ck AS o_custkey, len AS longest_streak,
       streak_start AS best_start, n_streaks
FROM best WHERE rn = 1
ORDER BY o_custkey
"""


@query("win_streaks", oracle=_STREAKS_ORACLE)
def win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day order streak per customer via the
    day-index-minus-row-number grouping (the standard gaps-and-islands
    identity: consecutive days share ``day_int − rn``), plus the
    customer's total streak count. Deterministic best-streak pick:
    length DESC, earliest start.

    Exactness: day indexes are exact integers (datediff from a fixed
    epoch), every output an exact BIGINT/DATE — full hash oracle.

    Scale shape: ONE shuffle on the customer key serves the distinct,
    both windows, and the streak aggregate (all partition by ck);
    streak rows are bounded by distinct (customer, day) pairs. The
    top-1 pick is WindowGroupLimit-prunable."""
    days = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("ck"), F.col("o_orderdate").alias("d"))
        .distinct()
    )
    w_rn = Window.partitionBy("ck").orderBy("d")
    marked = days.select(
        "ck",
        "d",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).cast("long")
            - F.row_number().over(w_rn)
        ).alias("grp"),
    )
    streaks = marked.groupBy("ck", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("d").alias("streak_start"),
    )
    w_best = Window.partitionBy("ck").orderBy(
        F.desc("len"), F.asc("streak_start")
    )
    w_cnt = Window.partitionBy("ck")
    return (
        streaks.select(
            "ck",
            "len",
            "streak_start",
            F.row_number().over(w_best).alias("rn"),
            F.count(F.lit(1)).over(w_cnt).cast("long").alias("n_streaks"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("ck").alias("o_custkey"),
            F.col("len").alias("longest_streak"),
            F.col("streak_start").alias("best_start"),
            "n_streaks",
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Inter-arrival time distribution per event type (round 13).
# ---------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
           - CAST(FLOOR(epoch(LAG(ts) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id))) AS BIGINT) AS gap_s
  FROM events
)
SELECT event_type,
       CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
       CAST(SUM(gap_s) AS BIGINT) AS sum_gap_s,
       quantile_cont(gap_s, 0.5) AS median_gap_s
FROM gaps
WHERE gap_s IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


@query("events_interarrival", oracle=_INTERARRIVAL_ORACLE)
def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type: the gap in
    whole seconds between a user's consecutive events of the same
    type — the cadence profile behind retention models, rate-limit
    tuning, and bot detection (machine traffic shows near-constant
    gaps; the median/min spread exposes it).

    Exactness: seconds come from tz-free calendar fields
    (unix_date·86400 + h·3600 + m·60 + s — the timestamp column is
    NTZ, and a session-tz-dependent unix_timestamp would shift under
    the TZ probe), matching DuckDB's FLOOR(epoch(ts)) on the same
    wall clock; ties on ts order by event_id so the lag pairs are
    deterministic; the median rides the proven exact
    percentile == quantile_cont equivalence.

    Scale shape: one (user_id, event_type)-partitioned window pass
    derives the gaps; the rollup keys on |types| groups. The exact
    median is the one non-map-side aggregate — it collects per-group
    gap multisets, bounded per group by that type's event share; at
    100 TB swap to approx_percentile (the exact form is the
    oracle-checkable one)."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    secs = (
        F.unix_date(F.to_date("ts")).cast("long") * 86400
        + F.hour("ts").cast("long") * 3600
        + F.minute("ts").cast("long") * 60
        + F.second("ts").cast("long")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type", (secs - F.lag(secs).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_s").cast("long").alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
            F.sum("gap_s").cast("long").alias("sum_gap_s"),
            F.percentile("gap_s", F.lit(0.5)).alias("median_gap_s"),
        )
        .orderBy("event_type")
    )
