"""Second forecasting batch over the daily rollup: trend-aware smoothing,
a robust slope estimator, and the seasonal-naive baseline every forecast
should be judged against.

- ``brown_trend_forecast``: Brown's double exponential smoothing — S' =
  EWMA(x), S'' = EWMA(S'), one-step forecast 2S'−S'' + (α/(1−α))(S'−S'').
  Both smoothing passes are in-order left folds; S''' needs the whole S'
  SERIES, so each S'_k is materialized as the fold over the k-prefix —
  the identical operation sequence in Spark (`aggregate` over slices) and
  DuckDB (`list_reduce` over list slices), hence bit-identical floats
  (same correctly-rounded ops in the same order), rounded to 4 decimals
  only as a guard.
- ``theil_sen_slope``: median of all pairwise day-slopes per series (the
  robust trend that one outlier day cannot move, unlike an OLS
  least-squares fit). Slopes are exact milli-cents/day floors;
  the median is the ⌈n/2⌉-th smallest — pure integer selection.
- ``seasonal_naive_mae``: MAE of the "same weekday last week" forecast vs
  the naive "yesterday" forecast, and their skill ratio in ppm — the
  sanity baseline (a model that can't beat seasonal-naive isn't a model).
  All integer cents.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register
from topk_spark.workload.events_queries import CENTS_SQL

_A = 0.25  # α, exactly representable; 1−α = 0.75


_BROWN_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         SUM({CENTS_SQL}) AS cents, count(*) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
series AS (
  SELECT event_type,
         list(CAST(cents AS DOUBLE) / n ORDER BY d) AS xs,
         count(*) AS n_days
  FROM daily GROUP BY event_type
),
sp AS (
  SELECT event_type, n_days, xs,
         list_transform(range(1, n_days + 1),
            k -> list_reduce(xs[1:k], (acc, x) -> {_A} * x + {1 - _A} * acc))
           AS s1
  FROM series
),
folds AS (
  SELECT event_type, n_days,
         s1[n_days] AS sp_last,
         list_reduce(s1, (acc, x) -> {_A} * x + {1 - _A} * acc) AS spp_last
  FROM sp
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
       round(sp_last, 4) AS s_single,
       round(spp_last, 4) AS s_double,
       round(2 * sp_last - spp_last
             + ({_A} / {1 - _A}) * (sp_last - spp_last), 4) AS forecast_1
FROM folds
ORDER BY event_type
"""


@register("brown_trend_forecast", tags=("TS-forecast",), oracle=_BROWN_ORACLE)
def brown_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing per event_type (α=0.25) with
    the one-step trend-corrected forecast. Fold order is pinned
    day-ascending in both engines; S'_k prefixes replay the identical
    incremental fold, so every float is bit-identical (module docstring).

    100 TB posture: input is the daily rollup (O(days) per key, never
    O(events)); the O(days²) prefix refolds are ~900 JVM-side float ops
    per key."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        F.sum(cents("value")).alias("cents"), F.count("*").alias("n")
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("d"), (F.col("cents").cast("double") / F.col("n")).alias("x")
                )
            )
        ).alias("pairs"),
        F.count("*").alias("n_days"),
    )
    xs = "transform(pairs, p -> p.x)"
    fold = f"(acc, x) -> cast({_A} as double) * x + cast({1 - _A} as double) * acc"
    s1 = (
        f"transform(sequence(1, size(pairs)),"
        f" k -> aggregate(slice({xs}, 2, k - 1), {xs}[0], {fold}))"
    )
    sel = series.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.expr(s1).alias("s1"),
    )
    return (
        sel.select(
            "event_type",
            "n_days",
            F.expr("round(element_at(s1, -1), 4)").alias("s_single"),
            F.expr(
                f"round(aggregate(slice(s1, 2, size(s1) - 1), s1[0], {fold}), 4)"
            ).alias("s_double"),
            F.expr(
                f"round(2 * element_at(s1, -1)"
                f" - aggregate(slice(s1, 2, size(s1) - 1), s1[0], {fold})"
                f" + (cast({_A} as double) / cast({1 - _A} as double))"
                f" * (element_at(s1, -1)"
                f"    - aggregate(slice(s1, 2, size(s1) - 1), s1[0], {fold})), 4)"
            ).alias("forecast_1"),
        )
        .orderBy("event_type")
    )


_THEILSEN_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, SUM({CENTS_SQL}) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type, cents,
         date_diff('day', MIN(d) OVER (PARTITION BY event_type), d) AS t
  FROM daily
),
slopes AS (
  SELECT a.event_type,
         CAST(floor((b.cents - a.cents) * 1000.0 / (b.t - a.t)) AS BIGINT)
           AS slope_milli
  FROM idx a JOIN idx b
    ON a.event_type = b.event_type AND a.t < b.t
),
ranked AS (
  SELECT event_type, slope_milli,
         row_number() OVER (PARTITION BY event_type ORDER BY slope_milli) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM slopes
)
SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
       slope_milli AS median_slope_milli
FROM ranked
WHERE rn = (n_pairs + 1) // 2
ORDER BY event_type
"""


@register("theil_sen_slope", tags=("TS-robust",), oracle=_THEILSEN_ORACLE)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event_type: the (lower) median of all
    pairwise day-slopes in exact milli-cents/day (floor — the double
    division is exact-enough: |numerator| < 2⁵³ and the floor gap is
    ≥ 1/Δt ≫ one ulp). Median = ⌈n/2⌉-th smallest, an integer selection
    with no tie ambiguity (equal slopes give the same value).

    100 TB posture: the O(days²) pair join runs per series on the daily
    rollup (~435 pairs for a 30-day window), partitioned by series key —
    the fact table is never pair-joined."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        F.sum(cents("value")).alias("cents")
    )
    idx = daily.select(
        "event_type",
        "cents",
        F.datediff(
            "d", F.min("d").over(Window.partitionBy("event_type"))
        ).alias("t"),
    )
    a = idx.select("event_type", F.col("cents").alias("ca"), F.col("t").alias("ta"))
    b = idx.select("event_type", F.col("cents").alias("cb"), F.col("t").alias("tb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("ta") < F.col("tb"))
        .select(
            "event_type",
            F.floor(
                (F.col("cb") - F.col("ca")) * F.lit(1000.0) / (F.col("tb") - F.col("ta"))
            )
            .cast("long")
            .alias("slope_milli"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope_milli")
    ranked = slopes.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_pairs", F.count("*").over(Window.partitionBy("event_type"))
    )
    return (
        ranked.filter(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        .select(
            "event_type",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope_milli").alias("median_slope_milli"),
        )
        .orderBy("event_type")
    )


_SNAIVE_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, SUM({CENTS_SQL}) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
j AS (
  SELECT cur.event_type,
         abs(cur.cents - w7.cents) AS e7,
         abs(cur.cents - d1.cents) AS e1
  FROM daily cur
  JOIN daily w7 ON w7.event_type = cur.event_type
               AND w7.d = cur.d - INTERVAL 7 DAY
  JOIN daily d1 ON d1.event_type = cur.event_type
               AND d1.d = cur.d - INTERVAL 1 DAY
),
m AS (
  SELECT event_type, count(*) AS n_eval,
         SUM(e7) AS s7, SUM(e1) AS s1
  FROM j GROUP BY event_type
)
SELECT event_type, CAST(n_eval AS BIGINT) AS n_eval,
       CAST(s7 * 1000 // n_eval AS BIGINT) AS mae7_milli,
       CAST(s1 * 1000 // n_eval AS BIGINT) AS mae1_milli,
       CAST(CASE WHEN s7 > s1 * 9000000000000 THEN NULL
                 ELSE s7 * 1000000 // s1 END AS BIGINT)
         AS skill_vs_naive_ppm
FROM m
ORDER BY event_type
"""


@register("seasonal_naive_mae", tags=("TS-forecast", "baseline"), oracle=_SNAIVE_ORACLE)
def seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast baselines: MAE of 'same weekday last week' vs 'yesterday'
    on days where both exist, and their ratio in ppm (<1e6 ⇒ weekly
    seasonality carries signal). Exact integer cents throughout; the
    lag joins are equi-joins on (series, day) over the daily rollup."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        F.sum(cents("value")).alias("cents")
    )
    cur = daily.alias("cur")
    w7 = daily.select(
        "event_type", F.date_add("d", 7).alias("d"), F.col("cents").alias("c7")
    ).alias("w7")
    d1 = daily.select(
        "event_type", F.date_add("d", 1).alias("d"), F.col("cents").alias("c1")
    ).alias("d1")
    j = (
        cur.join(w7, ["event_type", "d"])
        .join(d1, ["event_type", "d"])
        .select(
            "event_type",
            F.abs(F.col("cents") - F.col("c7")).alias("e7"),
            F.abs(F.col("cents") - F.col("c1")).alias("e1"),
        )
    )
    m = j.groupBy("event_type").agg(
        F.count("*").alias("n_eval"),
        F.sum("e7").alias("s7"),
        F.sum("e1").alias("s1"),
    )
    # integral div mirrors the oracle's exact '//' (DuckDB and Spark both
    # truncate toward zero; all operands nonnegative), decimal-widened so
    # the PRODUCT never overflows. The QUOTIENT can still outgrow int64
    # (Spark's `div` returns LongType and wraps even on decimal operands)
    # when the baseline error s1 is pathologically tiny vs s7, so both
    # engines NULL the skill ratio past quotient 9e18/1e6 = 9e12 — a
    # million-to-one "skill" carries no information anyway.
    return m.select(
        "event_type",
        F.col("n_eval").cast("long").alias("n_eval"),
        F.expr(
            "CAST(CAST(s7 AS DECIMAL(38,0)) * 1000 div n_eval AS BIGINT)"
        ).alias("mae7_milli"),
        F.expr(
            "CAST(CAST(s1 AS DECIMAL(38,0)) * 1000 div n_eval AS BIGINT)"
        ).alias("mae1_milli"),
        F.expr(
            "CAST(CASE WHEN CAST(s7 AS DECIMAL(38,0))"
            " > CAST(s1 AS DECIMAL(38,0)) * 9000000000000 THEN NULL"
            " ELSE CAST(s7 AS DECIMAL(38,0)) * 1000000 div s1 END"
            " AS BIGINT)"
        ).alias("skill_vs_naive_ppm"),
    ).orderBy("event_type")
