"""Skyline / contribution analytics: Pareto frontier (2-D skyline) and
ABC classification — the 'which keys matter' layer over the rollup
ladder.

The skyline shows the asymptotic win this engine keeps choosing: the
textbook NOT-EXISTS-dominator formulation is O(n²) (and is kept as the
DuckDB oracle, where n is small); the Spark plan is the sort +
running-max sweep — O(n log n), one shuffle — that survives 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.ops.skyline import pareto_front_2d
from topk_spark.workload import register
from topk_spark.workload.events_queries import CENTS_SQL


_PARETO_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN {CENTS_SQL} ELSE 0 END)
              AS BIGINT) AS revenue_cents,
         count(*) AS activity
  FROM events GROUP BY user_id
)
SELECT p.user_id, p.revenue_cents, p.activity
FROM per_user p
WHERE NOT EXISTS (
  SELECT 1 FROM per_user q
  WHERE (q.revenue_cents > p.revenue_cents AND q.activity >= p.activity)
     OR (q.revenue_cents >= p.revenue_cents AND q.activity > p.activity)
)
ORDER BY p.revenue_cents DESC, p.user_id ASC
"""


@register("pareto_front_users", tags=("skyline", "analytics"), oracle=_PARETO_ORACLE)
def pareto_front_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline): users not dominated on (revenue,
    activity). The quadratic NOT-EXISTS self-join stays in the oracle;
    the Spark plan is the scalable two-phase sweep:

    1. BAND PRUNE — bucket revenue into 1024 contiguous ranges, take max
       activity per band (≤1024 rows, broadcast), prefix-max over strictly
       higher bands; any user whose activity is ≤ that prefix is
       provably dominated (someone in a strictly-higher band has ≥ their
       activity) and is dropped map-side. Lossless: if a pruned user
       dominated someone, its own dominator — kept or transitively so up
       the (finite, strictly increasing) band chain — dominates them too,
       so running maxima computed over survivors equal those over all
       users.
    2. EXACT SWEEP over the (small) survivor set — running max of
       activity over strictly-higher revenue (range frame excludes ties)
       plus the tie group's own max: survive iff you beat the former and
       match the latter.

    The only global-order window runs over band stats (≤1024 rows) and
    survivors — never the full per-user table."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                cents("value"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("revenue_cents"),
        F.count("*").alias("activity"),
    )
    return (
        pareto_front_2d(per_user, "revenue_cents", "activity")
        .select("user_id", "revenue_cents", "activity")
        .orderBy(F.desc("revenue_cents"), F.asc("user_id"))
    )
