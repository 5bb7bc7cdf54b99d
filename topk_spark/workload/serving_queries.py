"""Serving-surface queries: the three REST endpoint semantics
(TopKController.kt:30-129) exercised end-to-end — build the 1m rollup from
the event stream analog, then serve a fixed time range through serve.api.

Mapping onto driver testdata (FIXTURES.md §4): restaurant ← event_type,
menu item ← user_id. Range: [2024-01-05, 2024-01-25) UTC, closed containment.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.ops.rollup import windowed_rollup
from topk_spark.serve.api import topk_by_revenue, topk_for_restaurant, topk_global
from topk_spark.workload import register
from topk_spark.workload.events_queries import _ES, exact_percentiles_sql, order_stream

_START = 1_704_412_800_000  # 2024-01-05T00:00:00Z
_END = 1_706_140_800_000    # 2024-01-25T00:00:00Z


def _serving_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    es = order_stream(spark, sf_dir).select(
        F.col("event_type").alias("restaurant_id"),
        F.col("user_id").alias("menu_item_id"),
        F.concat(F.lit("U"), F.col("user_id")).alias("menu_item_name"),
        "ts",
        "quantity",
        "revenue_cents",
    )
    return windowed_rollup(
        es,
        "ts",
        ["restaurant_id", "menu_item_id"],
        [
            F.min("menu_item_name").alias("menu_item_name"),
            F.sum("quantity").cast("long").alias("sum_quantity"),
            F.sum("revenue_cents").cast("long").alias("sum_revenue_cents"),
            F.count("*").alias("order_count"),
        ],
        "1 minute",
    ).drop("hour_of_day", "day_of_week")


# DuckDB CTE mirroring _serving_rollup + the range-aggregation step.
_SERVE_BASE = f"""
{_ES},
r1m AS (
  SELECT event_type AS restaurant_id, user_id AS menu_item_id,
         'U' || CAST(user_id AS VARCHAR) AS menu_item_name,
         CAST(epoch_ms(date_trunc('minute', ts)) AS BIGINT) AS window_start,
         CAST(epoch_ms(date_trunc('minute', ts)) + 60000 AS BIGINT) AS window_end,
         CAST(SUM(quantity) AS BIGINT) AS sum_quantity,
         CAST(SUM(revenue_cents) AS BIGINT) AS sum_revenue_cents,
         count(*) AS order_count
  FROM es GROUP BY 1, 2, 3, date_trunc('minute', ts)
),
in_range AS (
  SELECT * FROM r1m
  WHERE window_start >= {_START} AND window_end <= {_END}
)
"""

_AGG_PER_ITEM = """
  SELECT restaurant_id, menu_item_id,
         CAST(SUM(order_count) AS BIGINT) AS order_count,
         CAST(SUM(sum_quantity) AS BIGINT) AS total_quantity,
         CAST(SUM(sum_revenue_cents) AS BIGINT) AS total_revenue_in_cents,
         CAST(min(window_start) AS BIGINT) AS window_start,
         CAST(max(window_end) AS BIGINT) AS window_end,
         min(menu_item_name) AS menu_item_name
  FROM in_range GROUP BY restaurant_id, menu_item_id
"""


@register(
    "serve_topk_restaurant",
    tags=("SERVE", "F1", "F2", "F3", "K2", "K5"),
    oracle=f"""
WITH {_SERVE_BASE},
agg AS ({_AGG_PER_ITEM}),
rk AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY restaurant_id
      ORDER BY order_count DESC, menu_item_id ASC) AS INT) AS rank
  FROM agg WHERE restaurant_id = 'purchase'
)
SELECT restaurant_id, menu_item_id, menu_item_name, rank, order_count,
       total_quantity, total_revenue_in_cents, window_start, window_end
FROM rk WHERE rank <= 10
""",
)
def serve_topk_restaurant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /api/v1/restaurants/{id}/topk semantics: one restaurant, range,
    k=10 ranked by order_count."""
    rollup = _serving_rollup(spark, sf_dir)
    return topk_for_restaurant(rollup, "purchase", _START, _END, k=10)


@register(
    "serve_topk_global",
    tags=("SERVE", "K3", "G4"),
    oracle=f"""
WITH {_SERVE_BASE},
agg AS (
  SELECT menu_item_id,
         CAST(SUM(order_count) AS BIGINT) AS order_count,
         CAST(SUM(sum_quantity) AS BIGINT) AS total_quantity,
         CAST(SUM(sum_revenue_cents) AS BIGINT) AS total_revenue_in_cents,
         CAST(min(window_start) AS BIGINT) AS window_start,
         CAST(max(window_end) AS BIGINT) AS window_end,
         min(menu_item_name) AS menu_item_name
  FROM in_range GROUP BY menu_item_id
)
SELECT 'ALL' AS restaurant_id, menu_item_id, menu_item_name,
       CAST(row_number() OVER (ORDER BY order_count DESC, menu_item_id ASC) AS INT) AS rank,
       order_count, total_quantity, total_revenue_in_cents,
       window_start, window_end
FROM agg
ORDER BY rank
LIMIT 10
""",
)
def serve_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /api/v1/restaurants/all/topk semantics: global top-k with the
    'ALL' sentinel."""
    rollup = _serving_rollup(spark, sf_dir)
    return topk_global(rollup, _START, _END, k=10).orderBy("rank")


@register(
    "serve_topk_revenue",
    tags=("SERVE", "K4"),
    oracle=f"""
WITH {_SERVE_BASE},
agg AS ({_AGG_PER_ITEM}),
rk AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY restaurant_id
      ORDER BY total_revenue_in_cents DESC, window_end DESC, menu_item_id ASC) AS INT) AS rank
  FROM agg WHERE restaurant_id = 'click'
)
SELECT restaurant_id, menu_item_id, menu_item_name, rank, order_count,
       total_quantity, total_revenue_in_cents, window_start, window_end
FROM rk WHERE rank <= 5
""",
)
def serve_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /api/v1/restaurants/{id}/topk/revenue semantics: re-ranked by
    revenue with the K4 ordering (revenue desc, window_end desc)."""
    rollup = _serving_rollup(spark, sf_dir)
    return topk_by_revenue(rollup, "click", _START, _END, k=5)


@register(
    "sql_facade_topk",
    tags=("S9", "A4", "K4"),
    oracle=f"""
WITH {_ES}
SELECT user_id AS menu_item_id,
       CAST(SUM(revenue_cents) AS BIGINT) AS total_revenue_cents,
       CAST(SUM(quantity) AS BIGINT) AS total_quantity,
       count(*) AS order_count
FROM es
WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY total_revenue_cents DESC, menu_item_id ASC
LIMIT 10
""",
)
def sql_facade_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — the Pinot SQL-over-HTTP hop collapses to `spark.sql` over a
    registered view: the exact serving-SQL *string* a reference client POSTs
    to the broker (QueryService.kt:131-137 / pinot/README.md top-10 sample)
    runs unchanged through Catalyst. This is the migration path for reference
    users with existing SQL: register views, keep the SQL."""
    order_stream(spark, sf_dir).createOrReplaceTempView("orders_raw")
    return spark.sql(
        """
        SELECT user_id AS menu_item_id,
               SUM(revenue_cents) AS total_revenue_cents,
               SUM(quantity) AS total_quantity,
               COUNT(*) AS order_count
        FROM orders_raw
        WHERE event_type = 'purchase'
        GROUP BY user_id
        ORDER BY total_revenue_cents DESC, menu_item_id ASC
        LIMIT 10
        """
    )


@register(
    "serve_trending",
    tags=("SERVE", "K2", "T3"),
    oracle=f"""
WITH {_ES},
slid AS (
  SELECT e.event_type, e.revenue_cents,
         epoch_ms(date_trunc('minute', e.ts)) - k.k * 60000 AS ws
  FROM es e CROSS JOIN (SELECT unnest(range(5)) AS k) k
),
agg AS (
  SELECT event_type, ws,
         CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents
  FROM slid GROUP BY event_type, ws
),
inr AS (
  SELECT * FROM agg
  WHERE ws >= {_START} AND ws + 300000 <= {_END}
),
r AS (
  SELECT ws, event_type, revenue_cents,
         CAST(row_number() OVER (PARTITION BY ws
              ORDER BY revenue_cents DESC, event_type ASC) AS INT) AS rank
  FROM inr
)
SELECT CAST(ws AS BIGINT) AS window_start,
       CAST(ws + 300000 AS BIGINT) AS window_end,
       event_type, revenue_cents, rank
FROM r WHERE rank <= 3
""",
)
def serve_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trending-tile endpoint: GET /trending?window=5m&slide=1m&k=3
    semantics — ranked top-3 event types per hop window inside the range,
    served through serve.api.trending over the sliding rollup tier. The
    serving read for the live leaderboard the streaming side emits
    (stream_sliding_topk_drain): a dashboard polls this endpoint every
    slide interval and reads the newest closed hop's ranked rows. Closed
    containment + typed parameters + deterministic tie-break — the same
    endpoint discipline as the three reference reads above."""
    from topk_spark.ops.rollup import windowed_rollup
    from topk_spark.serve.api import trending

    es = order_stream(spark, sf_dir)
    sliding = windowed_rollup(
        es,
        "ts",
        ["event_type"],
        [F.sum("revenue_cents").cast("long").alias("revenue_cents")],
        "5 minutes",
        slide="1 minute",
    ).select("window_start", "window_end", "event_type", "revenue_cents")
    return trending(
        sliding,
        key_col="event_type",
        metric_col="revenue_cents",
        start_ms=_START,
        end_ms=_END,
        k=3,
    )


@register(
    "serve_percentiles",
    tags=("SERVE", "A5", "A7", "K2"),
    oracle=f"""
WITH {_ES},
f AS (
  SELECT event_type, revenue_cents FROM es
  WHERE CAST(epoch_ms(date_trunc('minute', ts)) AS BIGINT) >= {_START}
    AND CAST(epoch_ms(date_trunc('minute', ts)) AS BIGINT) + 60000 <= {_END}
),
{exact_percentiles_sql('f')}""",
)
def serve_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GET /percentiles?pcts=50,90,99 semantics: EXACT revenue P50/P90/P99
    per event type over a time range, served through serve.api.percentiles
    over a windowed value-histogram tier — the serving read for the exact
    streaming quantiles (stream_exact_quantile_drain computes the same
    order statistics continuously; this answers the range read a dashboard
    issues). The reference's only PUBLISHED latency numbers are percentiles
    (BASELINE.md P50/P99 claims), so this was the last published-surface
    analog without a typed endpoint. The tier is one row per (type, minute
    window, distinct cents value) with the value's in-window count — counts
    re-aggregate exactly across the range (sum-mergeable), then the
    ceil(p·n)-th order statistic falls out of one cumulative-sum window per
    type, integer rank arithmetic (n·p + 99) div 100 in both engines. The
    oracle derives the same statistics straight from raw events in
    contained windows — so the hash also proves the histogram-tier rewrite
    (events → per-window value counts → range re-aggregation) is
    lossless."""
    from topk_spark.serve.api import percentiles

    es = order_stream(spark, sf_dir)
    tier = windowed_rollup(
        es,
        "ts",
        ["event_type", "revenue_cents"],
        [F.count("*").alias("n")],
        "1 minute",
    ).select("event_type", "revenue_cents", "window_start", "window_end", "n")
    return percentiles(
        tier,
        key_col="event_type",
        value_col="revenue_cents",
        count_col="n",
        pcts=(50, 90, 99),
        start_ms=_START,
        end_ms=_END,
    )


# Misaligned range for the routed read: the TierRouter must cover the
# middle from the 1-HOUR tier and both half-hour edges from the 1-MINUTE
# tier (2024-01-05T00:30Z .. 2024-01-24T23:30Z, minute-aligned endpoints).
_R_START = _START + 1_800_000
_R_END = _END - 86_400_000 - 1_800_000


@register(
    "percentiles_tier_routed",
    tags=("SERVE", "A5", "A7", "A9", "K2"),
    oracle=f"""
WITH {_ES},
f AS (
  SELECT event_type, revenue_cents FROM es
  WHERE CAST(epoch_ms(date_trunc('minute', ts)) AS BIGINT) >= {_R_START}
    AND CAST(epoch_ms(date_trunc('minute', ts)) AS BIGINT) + 60000 <= {_R_END}
),
{exact_percentiles_sql('f')}""",
)
def percentiles_tier_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percentile read answered through the ROLLUP-TIER ROUTER
    (serve/router.TierRouter — previously pinned only by unit tests, now
    under the driver's value hash): a 1-minute value-histogram tier plus
    its hourly MERGE-ROLLUP compaction (ops/rollup.merge_rollup — value
    counts are sum-mergeable, so coarse histograms are exact), and a
    deliberately MISALIGNED 20-day range whose half-hour edges only the
    fine tier can tile. The router covers the aligned middle from ~470
    hourly rows' worth of windows and the edges from 1-minute rows;
    serve.api.percentiles re-aggregates counts across the union and
    computes the exact ceil(p*n)-th order statistics. The oracle derives
    the same statistics from raw events under minute containment, so the
    hash proves the ladder + routing + read lossless end to end — scan a
    month at hour granularity, pay minute granularity only at the edges
    (the reference's rollup-ladder read discipline,
    orders_1m_rollup_table.json:72-84, applied to histograms). At 100 TB
    this is the difference between scanning ~10^6 hourly histogram rows
    and ~10^10 raw events for a month-long percentile read."""
    from topk_spark.ops.rollup import merge_rollup
    from topk_spark.serve.api import percentiles
    from topk_spark.serve.router import TierRouter

    es = order_stream(spark, sf_dir)
    t1m = windowed_rollup(
        es,
        "ts",
        ["event_type", "revenue_cents"],
        [F.count("*").alias("n")],
        "1 minute",
    ).select("event_type", "revenue_cents", "window_start", "window_end", "n")
    t1h = merge_rollup(
        t1m, ["event_type", "revenue_cents"], ["n"],
        target_window_ms=3_600_000,
    ).select("event_type", "revenue_cents", "window_start", "window_end", "n")
    router = TierRouter({60_000: t1m, 3_600_000: t1h})
    scan = router.scan(_R_START, _R_END)
    return percentiles(
        scan,
        key_col="event_type",
        value_col="revenue_cents",
        count_col="n",
        pcts=(50, 90, 99),
        start_ms=_R_START,
        end_ms=_R_END,
    )
