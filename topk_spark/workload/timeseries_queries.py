"""Time-series repair / analytics operators: day-spine forward-fill,
cumulative distinct users, week-over-week deltas, and an A/B proportion
z-test — the reporting layer a trending-topk store feeds (SURVEY.md §2
A4/A5/P8 family, query-time analytics over the rollup ladder).

Determinism discipline: money stays integer cents end-to-end; the only
float operations are SINGLE divisions / sqrt of already-agreed scalars
(IEEE 754 ±,×,÷,sqrt are correctly rounded, so identical expression trees
produce identical bits in Spark and DuckDB — no float SUMs anywhere).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register
from topk_spark.workload.events_queries import CENTS_SQL


_FFILL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM({CENTS_SQL}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
types AS (SELECT DISTINCT event_type FROM events),
spine AS (SELECT t.event_type, dy.d FROM types t CROSS JOIN days dy)
SELECT s.event_type, s.d,
       last_value(daily.cents IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_cents,
       (daily.cents IS NULL) AS was_gap
FROM spine s
LEFT JOIN daily ON daily.event_type = s.event_type AND daily.d = s.d
ORDER BY s.event_type, s.d
"""


@register("forward_fill_daily", tags=("timeseries", "repair"), oracle=_FFILL_ORACLE)
def forward_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap repair by forward-fill: a (event_type × day) spine left-joined
    to the daily rollup, missing days carrying the last observed value
    forward (last_value IGNORE NULLS). The spine is a broadcast-able
    cross of two tiny distinct sets; the window partitions by series key,
    so at 100 TB each series fills independently — no global sort. Leading
    gaps before a series' first observation stay NULL by design."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("d"), cents("value").alias("cents"))
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("cents"))
    )
    days = ev.select(F.to_date("ts").alias("d")).distinct()
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(days)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.last("cents", ignorenulls=True).over(w).alias("filled_cents"),
            F.col("cents").isNull().alias("was_gap"),
        )
        .orderBy("event_type", "d")
    )


_CUMDIST_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
),
per_day AS (SELECT d, count(*) AS new_users FROM first_seen GROUP BY d)
SELECT d, new_users,
       CAST(SUM(new_users) OVER (ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_distinct_users
FROM per_day ORDER BY d
"""


@register(
    "cumulative_distinct_users", tags=("timeseries", "A6"), oracle=_CUMDIST_ORACLE
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct-user count without a rolling DISTINCT: reduce each
    user to their first-seen day (one shuffle on user_id), count per day,
    then a running SUM over the tiny per-day series. This is the standard
    trick that turns an O(days × users) windowed distinct into two cheap
    aggregations — the cumulative window runs over ~hundreds of rows no
    matter the corpus size."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    per_day = first_seen.groupBy("d").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.select(
            "d",
            "new_users",
            F.sum("new_users").over(w).alias("cum_distinct_users"),
        )
        .orderBy("d")
    )


_WOW_ORACLE = f"""
WITH weekly AS (
  SELECT event_type,
         CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
         CAST(SUM({CENTS_SQL}) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
)
SELECT event_type, wk, cents,
       lag(cents) OVER (PARTITION BY event_type ORDER BY wk) AS prev_cents,
       cents - lag(cents) OVER (PARTITION BY event_type ORDER BY wk) AS delta_cents,
       CASE WHEN lag(cents) OVER (PARTITION BY event_type ORDER BY wk) > 0
            THEN round(
              CAST(cents - lag(cents) OVER (PARTITION BY event_type ORDER BY wk)
                   AS DOUBLE)
              / CAST(lag(cents) OVER (PARTITION BY event_type ORDER BY wk) AS DOUBLE),
              6)
       END AS wow_ratio
FROM weekly ORDER BY event_type, wk
"""


@register("wow_revenue_change", tags=("timeseries", "A5"), oracle=_WOW_ORACLE)
def wow_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week movement per series: weekly integer-cents rollup,
    lag(1) delta, and a ratio that is ONE double division of two agreed
    BIGINTs (correctly rounded ⇒ engine-identical), rounded to 6 dp. The
    lag window partitions by series key — per-key state, no global sort."""
    ev = load_table(spark, sf_dir, "events")
    weekly = (
        ev.select(
            "event_type",
            F.trunc(F.to_date("ts"), "week").alias("wk"),
            cents("value").alias("cents"),
        )
        .groupBy("event_type", "wk")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("event_type").orderBy("wk")
    prev = F.lag("cents").over(w)
    return weekly.select(
        "event_type",
        "wk",
        "cents",
        prev.alias("prev_cents"),
        (F.col("cents") - prev).alias("delta_cents"),
        F.when(
            prev > 0,
            F.round(
                (F.col("cents") - prev).cast("double") / prev.cast("double"), 6
            ),
        ).alias("wow_ratio"),
    ).orderBy("event_type", "wk")


_ABTEST_ORACLE = """
WITH assign AS (
  SELECT user_id,
         user_id % 2 AS bucket,
         max(CASE WHEN event_type = 'purchase' AND value >= 80
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT bucket, count(*) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_converted
  FROM assign GROUP BY bucket
),
wide AS (
  SELECT
    max(CASE WHEN bucket = 0 THEN n_users END) AS n_a,
    max(CASE WHEN bucket = 0 THEN n_converted END) AS c_a,
    max(CASE WHEN bucket = 1 THEN n_users END) AS n_b,
    max(CASE WHEN bucket = 1 THEN n_converted END) AS c_b
  FROM arms
)
SELECT n_a, c_a, n_b, c_b,
       round(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
       round(CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
       CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
         round(
           (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
            - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
           / sqrt(
               (CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
               * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
               * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))
             ),
           6)
       END AS z_score
FROM wide
"""


@register("ab_test_proportions", tags=("stats", "A4"), oracle=_ABTEST_ORACLE)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a deterministic hash split (user_id
    parity = arm): per-user conversion flag, per-arm counts, pooled z.
    All aggregation is integer; the float work is a fixed scalar
    expression tree over four BIGINTs — IEEE ÷ and sqrt are correctly
    rounded, so Spark and DuckDB agree to the last bit. Pivot to one wide
    row via max-case (2 groups), the standard small-cardinality pivot."""
    ev = load_table(spark, sf_dir, "events")
    assign = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") >= 80), 1
                ).otherwise(0)
            ).alias("converted")
        )
        .select(F.pmod("user_id", F.lit(2)).alias("bucket"), "converted")
    )
    arms = assign.groupBy("bucket").agg(
        F.count("*").alias("n_users"), F.sum("converted").alias("n_converted")
    )
    wide = arms.agg(
        F.max(F.when(F.col("bucket") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("bucket") == 0, F.col("n_converted"))).alias("c_a"),
        F.max(F.when(F.col("bucket") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("bucket") == 1, F.col("n_converted"))).alias("c_b"),
    )
    ca, na = F.col("c_a").cast("double"), F.col("n_a").cast("double")
    cb, nb = F.col("c_b").cast("double"), F.col("n_b").cast("double")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (ca / na - cb / nb) / F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    conv = F.col("c_a") + F.col("c_b")
    tot = F.col("n_a") + F.col("n_b")
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(ca / na, 6).alias("rate_a"),
        F.round(cb / nb, 6).alias("rate_b"),
        # degenerate pooled rate (0 or 1) ⇒ zero variance ⇒ z undefined;
        # the CASE guard also keeps ANSI mode from evaluating the division
        F.when((conv > 0) & (conv < tot), F.round(z, 6)).alias("z_score"),
    )


_ANOMALY_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM({CENTS_SQL}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
stats AS (
  SELECT event_type, count(*) AS n, SUM(cents) AS sx, SUM(cents * cents) AS sxx
  FROM daily GROUP BY event_type
)
SELECT d.event_type, d.d, d.cents,
       CASE WHEN stats.n >= 2
             AND stats.n * stats.sxx - stats.sx * stats.sx > 0 THEN
         CAST(floor(
           (CAST(d.cents AS DOUBLE) - CAST(stats.sx AS DOUBLE) / CAST(stats.n AS DOUBLE))
           / sqrt(
               (CAST(stats.n AS DOUBLE) * CAST(stats.sxx AS DOUBLE)
                - CAST(stats.sx AS DOUBLE) * CAST(stats.sx AS DOUBLE))
               / (CAST(stats.n AS DOUBLE) * CAST(stats.n - 1 AS DOUBLE))
             )
           * 1000000) AS BIGINT)
       END AS z_e6
FROM daily d JOIN stats ON stats.event_type = d.event_type
ORDER BY d.event_type, d.d
"""


@register("anomaly_zscore_days", tags=("timeseries", "anomaly"), oracle=_ANOMALY_ORACLE)
def anomaly_zscore_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily anomaly scores per series: z = (x - mean)/stddev with mean
    and sample variance reconstructed from BIGINT power sums (n, Σx, Σx²)
    — the aggregation is pure integer, and the float finish is a fixed
    scalar tree of correctly-rounded IEEE ops (÷, ×, sqrt) over agreed
    BIGINTs, frozen to e6 by floor — so an intrinsically float statistic
    hash-matches across engines. Per-series stats broadcast back onto the
    daily rollup; degenerate series (n<2 or zero variance) yield NULL."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.to_date("ts").alias("d"), cents("value").alias("cents"))
        .groupBy("event_type", "d")
        .agg(F.sum("cents").alias("cents"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).alias("sxx"),
    )
    joined = daily.join(F.broadcast(stats), "event_type")
    z = F.expr(
        "cast(floor("
        " (cast(cents as double) - cast(sx as double) / cast(n as double))"
        " / sqrt("
        "     (cast(n as double) * cast(sxx as double)"
        "      - cast(sx as double) * cast(sx as double))"
        "     / (cast(n as double) * cast(n - 1 as double))"
        "   )"
        " * 1000000) as bigint)"
    )
    return (
        joined.select(
            "event_type",
            "d",
            "cents",
            F.when((F.col("n") >= 2) & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0), z).alias("z_e6"),
        )
        .orderBy("event_type", "d")
    )


# ---------------------------------------------------------------------------
# Additive decomposition: trend / weekly-seasonal / remainder (round 3)
# ---------------------------------------------------------------------------

_STL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM({CENTS_SQL}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
tr AS (
  SELECT *,
         CASE WHEN count(*) OVER w7 = 7 THEN
           CAST(SUM(cents) OVER w7 * 1000 // 7 AS BIGINT)
         END AS trend_milli
  FROM daily
  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT *, cents * 1000 - trend_milli AS detrended_milli,
         CAST(isodow(d) AS INT) AS dow
  FROM tr
),
seas AS (
  SELECT event_type, dow,
         CAST(SUM(detrended_milli) // count(*) AS BIGINT) AS seasonal_milli
  FROM det WHERE detrended_milli IS NOT NULL
  GROUP BY event_type, dow
)
SELECT det.event_type, det.d, det.cents, det.trend_milli,
       seas.seasonal_milli,
       det.detrended_milli - seas.seasonal_milli AS remainder_milli
FROM det JOIN seas USING (event_type, dow)
ORDER BY det.event_type, det.d
"""


@register(
    "stl_decompose_daily", tags=("TS-decompose", "timeseries"), oracle=_STL_ORACLE
)
def stl_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/remainder decomposition of daily revenue per
    event type — the classical-decomposition shape of STL with exact
    integer arithmetic: trend = centered 7-day moving mean in milli-cents
    (integral div; NULL at the 3-day edges where the window is partial,
    matching textbook practice), weekly seasonal = per-ISO-dow mean of the
    detrended series, remainder = what neither explains. Completes the
    forecasting family (EWMA level, Brown trend, Theil-Sen slope,
    seasonal-naive baseline) with the diagnostic that SHOWS the seasonal
    structure those models assume.

    Plan: windows and aggregates run over the daily rollup (types × days
    rows) — the fact table is touched once by the partial+final daily
    aggregation; everything downstream is O(calendar), broadcast-joined
    back by (type, dow). Integral div mirrors the oracle's exact '//';
    DuckDB and Spark truncate identically and the detrended means can be
    negative only symmetrically (both engines truncate toward zero)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type", F.to_date("ts").alias("d")
        ).agg(
            F.sum(cents("value"))
            .cast("long")
            .alias("cents")
        )
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    # window sum as a named column first so the integral-div expr can see it
    tr = (
        daily.withColumn("s7", F.sum("cents").over(w7))
        .withColumn("n7", F.count("*").over(w7))
        .withColumn(
            "trend_milli",
            F.when(F.col("n7") == 7, F.expr("CAST(s7 * 1000 div 7 AS BIGINT)")),
        )
        .drop("s7", "n7")
    )
    from topk_spark.ops.timeparts import iso_dayofweek

    det = tr.withColumn(
        "detrended_milli", F.col("cents") * 1000 - F.col("trend_milli")
    ).withColumn("dow", iso_dayofweek("d"))
    seas = (
        det.filter(F.col("detrended_milli").isNotNull())
        .groupBy("event_type", "dow")
        .agg(
            F.sum("detrended_milli").alias("sd"),
            F.count("*").alias("nd"),
        )
        .select(
            "event_type",
            "dow",
            F.expr("CAST(sd div nd AS BIGINT)").alias("seasonal_milli"),
        )
    )
    return (
        det.join(F.broadcast(seas), ["event_type", "dow"])
        .select(
            "event_type",
            "d",
            "cents",
            "trend_milli",
            "seasonal_milli",
            (F.col("detrended_milli") - F.col("seasonal_milli")).alias(
                "remainder_milli"
            ),
        )
        .orderBy("event_type", "d")
    )
