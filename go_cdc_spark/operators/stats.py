"""Statistical aggregates with cross-engine bit parity.

Built-in `corr`/`stddev`/`covar_samp` CANNOT be oracle-checked
bit-exactly: both Spark and DuckDB accumulate them with streaming
(Welford/merge) algorithms whose result depends on row order and
partitioning. Instead every moment statistic here is derived from the
raw power sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulated EXACTLY through
DECIMAL (the relational.py numeric policy — order-independent), then
combined with the identical double expression tree on both engines;
IEEE-754 doubles make the final arithmetic deterministic, so the
whole suite hash-matches.

Scale shape: one partial-aggregable hash aggregate (6 sum buffers per
group) — a single shuffle of group-key × 6 decimals regardless of fact
size; the formula projection is per-group, post-shuffle, free.

Parity note: the reference (go-cdc) is a CDC pipeline with no query
engine; this module is part of the derived analytic surface of
SURVEY.md §2.B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import query
from ..tables import fan_out, load

# Exact power-sum accumulation. Per-element x*x ≤ ~1e10 for the fixture
# measures (quantity ≤ 50, price ≤ ~1.1e5); decimal(18,6) holds 1e12 per
# element and the sum buffer promotes to decimal(28,6) (1e22) — a 100 TB
# lineitem's Σy² is ~1e19, still exact.
_DEC = "decimal(18,6)"


def _psum(col: F.Column) -> F.Column:
    return F.sum(col.cast(_DEC)).cast("double")


def _sql_psum(expr: str) -> str:
    # VARCHAR hop: DuckDB's DECIMAL→DOUBLE cast is off by 1 ulp once the
    # scaled integer exceeds 2^53 (int→double rounds, then /1e6 rounds
    # again); string→double is correctly rounded, matching Spark's
    # BigDecimal.doubleValue(). Σy² crosses 2^53 already at sf0.001.
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)"


@query(
    "stats_moments",
    oracle=f"""
    WITH sums AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS DOUBLE) AS sx,
             {_sql_psum('l_extendedprice')} AS sy,
             {_sql_psum('l_quantity * l_extendedprice')} AS sxy,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS BIGINT)) AS BIGINT)
                  AS DOUBLE) AS sxx,
             {_sql_psum('l_extendedprice * l_extendedprice')} AS syy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           sx / n AS mean_qty,
           SQRT((sxx - (sx * sx) / n) / (n - 1)) AS stddev_qty,
           SQRT((syy - (sy * sy) / n) / (n - 1)) AS stddev_price,
           (sxy - (sx * sy) / n) / (n - 1) AS covar_qty_price,
           ((n * sxy) - (sx * sy))
             / (SQRT((n * sxx) - (sx * sx)) * SQRT((n * syy) - (sy * sy)))
             AS corr_qty_price,
           ((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx)) AS regr_slope,
           (sy / n) - (((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx))) * (sx / n)
             AS regr_intercept
    FROM sums
    ORDER BY l_returnflag
    """,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag moment statistics (mean, sample stddev, sample
    covariance, Pearson correlation, OLS slope/intercept) of quantity
    vs extended price — every statistic derived from exact power sums
    so the result is order-independent and engine-portable.

    Mirrors the shape of SQL ``STDDEV_SAMP/COVAR_SAMP/CORR/REGR_*``
    but beats them for distributed use: the built-ins' merge formulas
    give partition-order-dependent floats, these don't."""
    li = fan_out(load(spark, sf_dir, "lineitem"))
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    # x (quantity) is integer-valued by domain (1..50), so Σx and Σx²
    # ride plain LONG sums — whole-stage-codegen-fast, exact up to 2^63,
    # and long→double is exact below 2^53 (Σx² ≈ 1.5e15 even at 100 TB).
    # y (price) is an arbitrary double → stays on the decimal(18,6)
    # accumulation policy; three BigDecimal accumulators instead of five
    # (measured 2.1s → 1.67s at sf0.1). The remaining decimal width IS
    # required: Σ(y²·1e6) ~ 7e21 at 100 TB overflows any long-scaled
    # scheme, and the 28,6 sum buffer is what keeps the result exact
    # before its one correctly-rounded double conversion.
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("long")).cast("double").alias("sx"),
        _psum(y).alias("sy"),
        _psum(x * y).alias("sxy"),
        F.sum((x * x).cast("long")).cast("double").alias("sxx"),
        _psum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = ((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx))
    return sums.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        (sx / n).alias("mean_qty"),
        F.sqrt((sxx - (sx * sx) / n) / (n - 1)).alias("stddev_qty"),
        F.sqrt((syy - (sy * sy) / n) / (n - 1)).alias("stddev_price"),
        ((sxy - (sx * sy) / n) / (n - 1)).alias("covar_qty_price"),
        (
            ((n * sxy) - (sx * sy))
            / (F.sqrt((n * sxx) - (sx * sx)) * F.sqrt((n * syy) - (sy * sy)))
        ).alias("corr_qty_price"),
        slope.alias("regr_slope"),
        ((sy / n) - slope * (sx / n)).alias("regr_intercept"),
    ).orderBy("l_returnflag")


@query(
    "histogram_price",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem
    GROUP BY 1
    ORDER BY bucket
    """,
)
def histogram_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of extended price (10k-wide buckets) with
    per-bucket extrema — the equal-width binning primitive behind
    distribution profiling and skew diagnosis.

    Scale shape: bucket id is a map-side projection; the aggregate is
    partially combined before the (tiny, ≤ ~12-bucket) exchange. MIN/
    MAX of doubles are order-independent, so the row hash-matches."""
    li = load(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 10000.0).cast("bigint")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "quantiles_exact",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5)  AS p50,
           quantile_cont(l_extendedprice, 0.9)  AS p90,
           quantile_cont(l_extendedprice, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated quantiles per group — Spark's ``percentile``
    and DuckDB's ``quantile_cont`` share the lower+(higher-lower)*frac
    interpolation over the sorted values, so unlike the approx sketch
    (``agg_quantiles``, engine-specific, rows-only) this one
    hash-matches bit-exactly.

    Scale note (r14): the built-in exact ``percentile`` buffers each
    group's values through one per-group merge (3 flags => 3 effective
    reducers, unbounded group buffers); this computes the identical
    interpolation through the distinct-value domain shuffle
    (:mod:`._percentile` — the agg_weighted_median pattern), so the
    heavy shuffle is keyed (group, value) and the only per-group pass
    runs over the bounded value DOMAIN. For the unbounded-domain /
    full-table case at 100 TB, use the ``percentile_approx`` sketch
    path (``agg_quantiles``): fixed memory, mergeable partials."""
    from ._percentile import domain_percentiles

    # NOT fanned out (r14 A/B, interleaved min-of-3: 1.27s plain vs 1.79s
    # fanned): the (g, v) byval pre-aggregate combines map-side only
    # when a partition covers the value domain; round-robin multiplies
    # the partial states and shuffles more — the agg_weighted_median
    # r13 finding, reproduced here.
    li = load(spark, sf_dir, "lineitem")
    return domain_percentiles(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [0.5, 0.9, 0.99],
        ["p50", "p90", "p99"],
    ).orderBy("l_returnflag")


@query(
    "win_time_range",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS VARCHAR)
                AS DOUBLE) AS rolling_value,
           CAST(COUNT(*) OVER w AS BIGINT) AS rolling_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def win_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user rolling 1-hour sum/count at
    every event — the frame is defined by a time interval, not a row
    count (``win_frame`` covers the ROWS form).

    Scale shape: one shuffle on user_id, then a per-partition ordered
    scan with a sliding frame — state is bounded by events-per-hour-
    per-user, independent of history length. The frame boundary
    compares microsecond epochs (micros-exact on both engines; casting
    to whole seconds would move boundary rows). The decimal window sum
    keeps the rolling value order-independent within ties."""
    ev = load(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    hour_us = 3_600_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-hour_us, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            F.sum(F.col("value").cast("decimal(18,6)"))
            .over(w)
            .cast("double")
            .alias("rolling_value"),
            F.count(F.lit(1)).over(w).alias("rolling_n"),
        )
        .orderBy("event_id")
    )


@query(
    "resample_daily_fill",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
      FROM events
    ),
    spine AS (
      SELECT u.user_id, CAST(g.day AS DATE) AS day
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN bounds
      CROSS JOIN UNNEST(generate_series(CAST(bounds.d0 AS TIMESTAMP),
                                        CAST(bounds.d1 AS TIMESTAMP),
                                        INTERVAL 1 DAY)) g(day)
    ),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             COUNT(*) AS n_events,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               AS day_value
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT s.user_id, s.day,
           COALESCE(d.n_events, 0) AS n_events,
           d.day_value,
           LAST_VALUE(d.day_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS UNBOUNDED PRECEDING) AS filled_value,
           CASE WHEN d.user_id IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    ORDER BY s.user_id, s.day
    """,
)
def resample_daily_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: a complete per-user daily spine over the
    observed range, daily totals left-joined on, gaps forward-filled
    with the last observed value (LOCF) and flagged — the gap-filling
    primitive behind dashboards and feature pipelines.

    Scale shape: the spine is |users| × |days| — generated by a
    map-side sequence/explode off the (broadcast, 1-row) global date
    bounds, never materialized wider than the output. The daily
    aggregate shuffles once on (user_id, day); the spine join and the
    LOCF window both key on user_id, so AQE reuses one clustering.
    LOCF is a running last-non-null — single pass, bounded state."""
    ev = load(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    day = F.to_date("ts")
    bounds = ev.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    users = ev.select("user_id").distinct()
    spine = (
        users.join(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("day_value"),
    )
    d = daily.select(
        F.col("user_id").alias("d_user"),
        F.col("day").alias("d_day"),
        "n_events",
        "day_value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(
            d,
            (spine.user_id == d.d_user) & (spine.day == d.d_day),
            "left",
        )
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "day_value",
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
            F.when(F.col("d_user").isNull(), 1).otherwise(0).alias("is_gap"),
        )
        .orderBy("user_id", "day")
    )


@query(
    "ts_user_similarity",
    oracle="""
    WITH cohort AS (
      SELECT user_id FROM (
        SELECT user_id,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rn
        FROM events GROUP BY user_id
      ) WHERE rn <= 200
    ),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               AS v
      FROM events SEMI JOIN cohort USING (user_id)
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(CAST(a.v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(b.v AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(a.v * b.v AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(a.v * a.v AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(b.v * b.v AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS syy
      FROM daily a JOIN daily b ON a.day = b.day AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
    )
    SELECT user_a, user_b, CAST(n AS BIGINT) AS n_days,
           ((n * sxy) - (sx * sy))
             / (SQRT((n * sxx) - (sx * sx)) * SQRT((n * syy) - (sy * sy)))
             AS corr
    FROM pairs
    WHERE n >= 10
      AND ((n * sxx) - (sx * sx)) > 0.0 AND ((n * syy) - (sy * sy)) > 0.0
    ORDER BY corr DESC, user_a, user_b
    LIMIT 20
    """,
)
def ts_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search: the 20 most-correlated pairs of
    per-user daily activity series (Pearson over shared days, >= 10
    overlapping days, constant series excluded), computed within the
    200-most-active-user cohort — the co-movement primitive behind
    cohorting and anomaly attribution.

    Every statistic derives from exact decimal power sums over the
    co-observed days, so the pairwise correlations hash-match the
    oracle bit-for-bit (same machinery as stats_moments).

    Scale shape: the cohort screen bounds the all-pairs wall BEFORE it
    forms — the exact day-join fanout is capped at cohort_size^2
    regardless of |users| (without it the pairing grows quadratically:
    measured 16s -> 159s going sf0.01 -> sf0.1). The cohort itself is
    one count aggregate + a global top-k (TakeOrdered, no full sort)
    broadcast into the events scan as a semi-join. To search ALL
    series instead of a cohort, block candidates first (SAX /
    random-projection signatures, the sim_lsh_ann pattern) and run
    this exact correlation only inside buckets."""
    ev = fan_out(load(spark, sf_dir, "events"))
    cohort = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .orderBy(F.desc("n_ev"), F.asc("user_id"))
        .limit(200)
        .select("user_id")
    )
    daily = (
        ev.join(F.broadcast(cohort), "user_id", "left_semi")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("v"))
    )
    # r13: the day self-join EXPLODES ~cohort× inside the join (its
    # inputs are a few thousand daily rows, its output is millions of
    # pair-day rows) — AQE sizes the join's reducers from the INPUT
    # bytes and coalesces them to one task, serializing the explosion.
    # A non-coalescible fixed-count repartition on the join key keeps
    # the fan-out spread across the session's shuffle width; the join
    # is then co-partitioned (same key, same count) and the pair
    # aggregate's map-side partials run where the explosion happens.
    # r14 probe (interleaved min-of-3, VERDICT r13 #7): a (day,
    # user-bucket) salt (bucket left, replicate right x8) measured
    # 1.31s vs 1.12s for this day pin — NEGATIVE. The cohort screen
    # already caps any day's join output at cohort^2 (= 40k rows), so
    # the salt's upside is bounded while its x S replication of the
    # right side is not. Keep the day pin; a hot day cannot exceed the
    # cohort cap by construction.
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    a = daily.select(
        F.col("user_id").alias("user_a"), "day", F.col("v").alias("va")
    ).repartition(nparts, "day")
    b = daily.select(
        F.col("user_id").alias("user_b"),
        F.col("day").alias("day_b"),
        F.col("v").alias("vb"),
    ).repartition(nparts, "day_b")
    va, vb = F.col("va"), F.col("vb")
    pairs = (
        a.join(b, (a.day == b.day_b) & (F.col("user_a") < F.col("user_b")))
        .groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            _psum(va).alias("sx"),
            _psum(vb).alias("sy"),
            F.sum((va * vb).cast("decimal(28,6)")).cast("double").alias("sxy"),
            F.sum((va * va).cast("decimal(28,6)")).cast("double").alias("sxx"),
            F.sum((vb * vb).cast("decimal(28,6)")).cast("double").alias("syy"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = ((n * sxy) - (sx * sy)) / (
        F.sqrt((n * sxx) - (sx * sx)) * F.sqrt((n * syy) - (sy * sy))
    )
    return (
        pairs.filter(
            (n >= 10)
            & (((n * sxx) - (sx * sx)) > 0.0)
            & (((n * syy) - (sy * sy)) > 0.0)
        )
        .select(
            "user_a",
            "user_b",
            n.cast("bigint").alias("n_days"),
            corr.alias("corr"),
        )
        .orderBy(F.desc("corr"), "user_a", "user_b")
        .limit(20)
    )


@query(
    "stats_robust",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS median,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           m.median, (m.q3 - m.q1) AS iqr,
           quantile_cont(ABS(l.l_extendedprice - m.median), 0.5) AS mad
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag, m.median, m.q3, m.q1
    ORDER BY l.l_returnflag
    """,
)
def stats_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust distribution statistics per group: median, interquartile
    range, and median absolute deviation — the outlier-resistant
    complement to stats_moments. MAD needs a second pass over the data
    with the group median in hand; exact percentile parity (see
    quantiles_exact) makes every output bit-exact across engines.

    Scale shape: pass 1 aggregates per-group quantiles (group count is
    tiny → the result BROADCASTS back onto the fact scan); pass 2
    computes |x - median| map-side and aggregates the deviation median
    in one more shuffle. Two scans total — the unavoidable cost of an
    exact MAD; the sketch-based alternative (percentile_approx over
    deviations from an approx median) drops a scan at the cost of
    rank-error bounds."""
    from ._percentile import domain_percentiles

    # not fanned out: byval pre-aggregate (see quantiles_exact note)
    li = load(spark, sf_dir, "lineitem")
    med = domain_percentiles(
        li.select(F.col("l_returnflag").alias("rf"), "l_extendedprice"),
        ["rf"],
        "l_extendedprice",
        [0.25, 0.5, 0.75],
        ["q1", "q2", "q3"],
    ).select(
        "rf", F.col("q2").alias("median"), (F.col("q3") - F.col("q1")).alias("iqr")
    ).localCheckpoint(eager=False)  # feeds two broadcasts; pass 1 runs once
    # pass 2 groups by the flag ONLY — median/iqr are per-flag
    # constants, so they re-attach via the 3-row broadcast after the
    # aggregate instead of widening every byval key in the domain
    # shuffle (r14: 2.27s -> measured below with the narrow key).
    dev = li.join(F.broadcast(med), li.l_returnflag == med.rf).select(
        "l_returnflag",
        F.abs(F.col("l_extendedprice") - F.col("median")).alias("adev"),
    )
    mad = domain_percentiles(dev, ["l_returnflag"], "adev", [0.5], ["mad"])
    return (
        mad.join(F.broadcast(med), mad.l_returnflag == med.rf)
        .select("l_returnflag", "median", "iqr", "mad")
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# EWMA smoothing: exponentially-weighted moving average of per-user
# daily activity. alpha = 0.5 on purpose — every weight is a power of
# two, so weight*count products and their sums are EXACT in IEEE
# doubles and the query stays hash-checkable across engines (the same
# dyadic-arithmetic trick as the decimal accumulation policy in
# operators/relational.py, but for geometric weights).
# ---------------------------------------------------------------------------

_EWMA_LOOKBACK = 8  # row-based lookback window (observed days)
_EWMA_WEIGHTS = [0.5**k for k in range(_EWMA_LOOKBACK)]  # exact dyadic literals


def _ewma_oracle() -> str:
    num = " + ".join(
        f"COALESCE(CAST(LAG(n, {k}) OVER w AS DOUBLE) * {w!r}, 0.0)"
        for k, w in enumerate(_EWMA_WEIGHTS)
    )
    den = " + ".join(
        f"CASE WHEN LAG(n, {k}) OVER w IS NOT NULL THEN {w!r} ELSE 0.0 END"
        for k, w in enumerate(_EWMA_WEIGHTS)
    )
    return f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT user_id, day, CAST(n AS BIGINT) AS n_events,
           ({num}) / ({den}) AS ewma
    FROM daily
    WINDOW w AS (PARTITION BY user_id ORDER BY day)
    """


@query("ewma_user_daily", oracle=_ewma_oracle())
def ewma_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of daily event counts over the last
    {_EWMA_LOOKBACK} OBSERVED days (row-based lag, gaps excluded —
    pair with resample_daily_fill first when calendar-gap decay is
    wanted), weights renormalized over the rows actually present so
    early days aren't biased toward zero.

    Scale shape: one shuffle for the daily aggregate on (user_id, day),
    then ONE window pass per user — all {_EWMA_LOOKBACK} lag terms
    share a single sort within the same window frame (Catalyst
    collapses same-window functions into one Window operator), so the
    lookback length changes arithmetic width, not pass count."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    num = None
    den = None
    for k, wt in enumerate(_EWMA_WEIGHTS):
        lagged = F.lag("n", k).over(w)
        term = F.coalesce(lagged.cast("double") * F.lit(wt), F.lit(0.0))
        wterm = F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = wterm if den is None else den + wterm
    return daily.select(
        "user_id",
        "day",
        F.col("n").cast("long").alias("n_events"),
        (num / den).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Exact weighted median — the aggregate the plain percentile family
# can't express: each row counts with its own mass (quantity-weighted
# price = "the price at which half the VOLUME trades below").
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH t AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
         CAST(l_quantity AS DECIMAL(18,2)) AS w
  FROM lineitem
),
byval AS (
  SELECT g, v, SUM(w) AS wv FROM t GROUP BY g, v
),
c AS (
  SELECT g, v,
         SUM(wv) OVER (PARTITION BY g ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(wv) OVER (PARTITION BY g) AS tw
  FROM byval
),
sel AS (
  SELECT g, v, tw,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn
  FROM c WHERE cw * 2 >= tw
)
SELECT g AS l_returnflag, v AS w_median_price,
       CAST(CAST(tw AS VARCHAR) AS DOUBLE) AS total_weight
FROM sel WHERE rn = 1
ORDER BY l_returnflag
"""


@query("agg_weighted_median", oracle=_WMEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of extended price per return flag, with
    line quantity as the mass: the smallest price whose cumulative
    weight reaches half the group total (lower weighted median — the
    standard definite choice).

    Exactness: weights accumulate in DECIMAL; the cumulative order is
    the distinct VALUE (unique per group after the pre-aggregate, so
    the running sum is deterministic), and the half-mass test is
    ``2·cw ≥ tw`` in exact decimal, no division anywhere. Full hash
    oracle. Identical to the row-level form: rows sharing a value are
    contiguous in it, so the first qualifying ROW's value is the first
    qualifying VALUE.

    Scale shape — the row-level window form measured exponent +0.84 at
    10× (3 return-flag groups = 3 sort reducers over ALL rows); this
    form pre-aggregates weight per (group, value) with map-side
    combine, so the windows run over the DISTINCT-VALUE relation —
    bounded by the price domain, not the row count (re-measured −0.03
    at 10×). The same trick is the standard exact-median scale escape:
    the shuffle carries one row per distinct value."""
    # NOT fanned out (r13, measured 2.33s -> 2.74s): the (g, v) byval
    # pre-aggregate combines most rows map-side only when the scan
    # partition covers the whole value domain; a round-robin rebalance
    # multiplies the per-partition distinct states and shuffles MORE.
    li = load(spark, sf_dir, "lineitem")
    t = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("decimal(18,2)").alias("w"),
    )
    byval = t.groupBy("g", "v").agg(F.sum("w").alias("wv"))
    w_ord = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("g")
    c = byval.select(
        "g",
        "v",
        F.sum("wv").over(w_ord).alias("cw"),
        F.sum("wv").over(w_all).alias("tw"),
    )
    w_pick = Window.partitionBy("g").orderBy("v")
    return (
        c.filter(F.col("cw") * 2 >= F.col("tw"))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            F.col("g").alias("l_returnflag"),
            F.col("v").alias("w_median_price"),
            F.col("tw").cast("string").cast("double").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )
