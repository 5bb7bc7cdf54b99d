"""Forecasting layer over the rollup ladder: exponentially-weighted level
per event type — the next step after `trending_decayed_topk` (decay
scoring) and `theil_sen_slope` (trend fitting): a *recursive* smoother,
i.e. an operator whose value depends on fold ORDER, expressed so both
engines run the identical left fold.

Determinism: daily means are single divisions of agreed BIGINT sums; the
smoothing constants 0.25/0.75 are exactly representable in binary; each
fold step is two correctly-rounded multiplies and one add applied in the
same (day-ascending) order in Spark (`aggregate` over a sorted array) and
DuckDB (`list_reduce` over `list(... ORDER BY d)`), so the result is
bit-identical — rounded to 4 decimals only as a guard.

Reference parity note: the reference has no forecasting surface; this
extends the trending/rollup story (SURVEY.md §2 A4/A5 family).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register
from topk_spark.workload.events_queries import CENTS_SQL

_ALPHA = 0.25  # exactly representable; s' = 0.25*x + 0.75*s

_EWMA_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         SUM({CENTS_SQL}) AS cents, count(*) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
series AS (
  SELECT event_type,
         list(CAST(cents AS DOUBLE) / n ORDER BY d) AS xs,
         count(*) AS n_days,
         min(d) AS first_day, max(d) AS last_day
  FROM daily GROUP BY event_type
)
SELECT event_type, CAST(n_days AS BIGINT) AS n_days, first_day, last_day,
       round(list_reduce(xs, (acc, x) -> {_ALPHA} * x + {1 - _ALPHA} * acc), 4)
         AS ewma_level
FROM series
ORDER BY event_type
"""


@register("ewma_level_forecast", tags=("TS-forecast",), oracle=_EWMA_ORACLE)
def ewma_level_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exponentially-smoothed daily-mean level (α=0.25),
    seeded with the first day's mean — the one-step-ahead forecast a
    trending dashboard holds per key. Plan: one partial+final daily agg
    (the rollup ladder's own shape), then a per-key collect-sort-fold over
    ~30 day-values — state is O(days) per key, never O(events), so the
    fold input at 100 TB is the daily rollup table, not the raw stream.
    The fold itself is `aggregate()` over `array_sort`ed (day, mean)
    structs: sequential, in-order, JVM-side."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(cents("value")).alias("cents"),
        F.count("*").alias("n"),
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("d"), (F.col("cents").cast("double") / F.col("n")).alias("x"))
            )
        ).alias("pairs"),
        F.count("*").alias("n_days"),
        F.min("d").alias("first_day"),
        F.max("d").alias("last_day"),
    )
    level = F.expr(
        f"round(aggregate(slice(transform(pairs, p -> p.x), 2,"
        f" size(pairs) - 1), transform(pairs, p -> p.x)[0],"
        f" (acc, x) -> cast({_ALPHA} as double) * x"
        f" + cast({1 - _ALPHA} as double) * acc), 4)"
    )
    return (
        series.select(
            "event_type",
            "n_days",
            "first_day",
            "last_day",
            level.alias("ewma_level"),
        )
        .orderBy("event_type")
    )
