"""Serving facade — the reference's REST query surface as typed Python
functions over rollup/topk DataFrames (SURVEY.md §2 "Serving API surface").

Reference endpoints (TopKController.kt:30-129 → QueryService.kt:37-129):
- GET /api/v1/restaurants/{id}/topk          → topk_for_restaurant
- GET /api/v1/restaurants/all/topk           → topk_global
- GET /api/v1/restaurants/{id}/topk/revenue  → topk_by_revenue ("all" → global)

Semantics carried over (with one deliberate divergence, flagged below):
- time filter is CLOSED CONTAINMENT: window_start >= start AND
  window_end <= end (QueryService.kt:56-57) — windows fully inside the range,
  not overlapping it;
- DIVERGENCE — range aggregation: the reference returns precomputed
  per-window ranked rows ordered by window_end DESC LIMIT k
  (QueryService.kt:55-60), i.e. a latest-window-biased slice of stored
  rows. These functions instead RE-AGGREGATE counts/revenue across every
  window in the range and re-rank, answering "top items over the range"
  rather than "top rows of the most recent windows". Intentional redesign:
  the range read should rank the range, not whichever window sorts last;
- defaults: start = now − 1h, end = now, k = 10 (TopKController.kt:34-38);
- ranking: order_count desc (default) or total_revenue_in_cents desc
  (revenue variant, QueryService.kt:124); rank is recomputed 1..k over the
  queried range, deterministic tiebreak (menu_item_id asc) replacing the
  reference's nondeterministic encounter order;
- global rows carry restaurant_id='ALL' (KafkaConsumerTopKJob.kt:281).

Unlike the reference's string-interpolated SQL (injectable,
QueryService.kt:55), parameters here are typed and become Catalyst literals.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from topk_spark.ops.topk import global_topk, rank_topk
from topk_spark.schemas import GLOBAL_SENTINEL


def _now_ms() -> int:
    return int(time.time() * 1000)


# The 9-column shape of every range read (TopKResult, Models.kt:39-49).
_TOPK_COLUMNS = (
    "restaurant_id", "menu_item_id", "menu_item_name", "rank",
    "order_count", "total_quantity", "total_revenue_in_cents",
    "window_start", "window_end",
)


def _default_range(start_ms: int | None, end_ms: int | None) -> tuple[int, int]:
    """The reference's range defaults (TopKController.kt:34-38): start and
    end fall back INDEPENDENTLY to now-1h and now — a caller-supplied end
    alone still gets start = now-1h, not end-1h. One clock read, so
    both-default gives exactly [now-1h, now]."""
    now = _now_ms()
    return (
        start_ms if start_ms is not None else now - 3_600_000,
        end_ms if end_ms is not None else now,
    )


def _range_filter(rollup: DataFrame, start_ms: int, end_ms: int) -> DataFrame:
    """F2: closed containment on [start, end]."""
    return rollup.filter(
        (F.col("window_start") >= F.lit(start_ms))
        & (F.col("window_end") <= F.lit(end_ms))
    )


def _aggregate_range(rollup: DataFrame, keys: list[str]) -> DataFrame:
    """Collapse all rollup windows in range to one metric row per key —
    re-aggregation (A5), sums of sums."""
    return rollup.groupBy(*keys).agg(
        F.sum("order_count").cast("long").alias("order_count"),
        F.sum("sum_quantity").cast("long").alias("total_quantity"),
        F.sum("sum_revenue_cents").cast("long").alias("total_revenue_in_cents"),
        F.min("window_start").cast("long").alias("window_start"),
        F.max("window_end").cast("long").alias("window_end"),
        F.min("menu_item_name").alias("menu_item_name"),
    )


def topk_for_restaurant(
    rollup: DataFrame,
    restaurant_id: str,
    start_ms: int | None = None,
    end_ms: int | None = None,
    k: int = 10,
) -> DataFrame:
    """Per-restaurant top-k by order_count over a time range
    (QueryService.kt:37-64). Expects rollup rows with columns
    restaurant_id, menu_item_id, menu_item_name, window_start, window_end,
    order_count, sum_quantity, sum_revenue_cents."""
    start_ms, end_ms = _default_range(start_ms, end_ms)
    base = _range_filter(rollup, start_ms, end_ms).filter(
        F.col("restaurant_id") == F.lit(restaurant_id)  # F1
    )
    agg = _aggregate_range(base, ["restaurant_id", "menu_item_id"])
    ranked = rank_topk(
        agg,
        ["restaurant_id"],
        [F.desc("order_count"), F.asc("menu_item_id")],
        k,
    )
    return ranked.select(*_TOPK_COLUMNS)


def topk_global(
    rollup: DataFrame,
    start_ms: int | None = None,
    end_ms: int | None = None,
    k: int = 10,
) -> DataFrame:
    """Global top-k by order_count (QueryService.kt:69-94): aggregate across
    all restaurants per item, sentinel restaurant_id='ALL'."""
    start_ms, end_ms = _default_range(start_ms, end_ms)
    base = _range_filter(rollup, start_ms, end_ms)
    agg = _aggregate_range(base, ["menu_item_id"])
    ranked = global_topk(
        agg,
        [F.desc("order_count"), F.asc("menu_item_id")],
        k,
        sentinel_col=None,
    ).withColumn("restaurant_id", F.lit(GLOBAL_SENTINEL))
    return ranked.select(*_TOPK_COLUMNS)


def topk_by_revenue(
    rollup: DataFrame,
    restaurant_id: str = "all",
    start_ms: int | None = None,
    end_ms: int | None = None,
    k: int = 10,
) -> DataFrame:
    """Top-k re-ranked by revenue (QueryService.kt:99-129); 'all' → global
    (F4 optional-predicate composition, TopKController.kt:108)."""
    start_ms, end_ms = _default_range(start_ms, end_ms)
    base = _range_filter(rollup, start_ms, end_ms)
    is_global = restaurant_id.lower() == "all"
    if not is_global:
        base = base.filter(F.col("restaurant_id") == F.lit(restaurant_id))
        agg = _aggregate_range(base, ["restaurant_id", "menu_item_id"])
    else:
        agg = _aggregate_range(base, ["menu_item_id"]).withColumn(
            "restaurant_id", F.lit(GLOBAL_SENTINEL)
        )
    order = [
        F.desc("total_revenue_in_cents"),
        F.desc("window_end"),  # K4 ordering (QueryService.kt:125)
        F.asc("menu_item_id"),
    ]
    ranked = rank_topk(agg, ["restaurant_id"], order, k)
    return ranked.select(*_TOPK_COLUMNS)


def trending(
    sliding_rollup: DataFrame,
    key_col: str = "event_type",
    metric_col: str = "revenue_cents",
    start_ms: int | None = None,
    end_ms: int | None = None,
    k: int = 3,
) -> DataFrame:
    """The "trending now" tile: ranked top-k keys per HOP window over a
    SLIDING rollup tier (ops/rollup.py windowed_rollup(slide=...) or its
    slice-sharing twin) — the serving read behind the live leaderboard
    drain (workload/streaming_drain_queries.py stream_sliding_topk_drain),
    and the sliding generalization of the reference's per-window ranked
    rows (KafkaConsumerTopKJob.kt:243-272 stores one ranked list per
    tumbling window fire; QueryService reads them back ranked).

    Same typed-parameter discipline and CLOSED-CONTAINMENT range semantics
    as the three reference endpoints above (window_start >= start AND
    window_end <= end — hop windows fully inside the range); defaults
    start = now − 1h, end = now (TopKController.kt:34-38); deterministic
    tie-break (metric desc, key asc). Rank is per-window — each hop
    window's partition holds ≤ one row per key, so the row_number never
    sees a global sort; at scale the read is a window_start-pruned scan of
    the rollup tier, never raw events."""
    start_ms, end_ms = _default_range(start_ms, end_ms)
    base = _range_filter(sliding_rollup, start_ms, end_ms)
    w = Window.partitionBy("window_start").orderBy(
        F.desc(metric_col), F.asc(key_col)
    )
    return (
        base.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= F.lit(k))
        .select("window_start", "window_end", key_col, metric_col, "rank")
    )


def percentiles(
    histogram_tier: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value_cents",
    count_col: str = "n",
    pcts: tuple[int, ...] = (50, 90, 99),
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> DataFrame:
    """EXACT percentile read over a windowed value-HISTOGRAM tier — the
    serving endpoint for what streaming/exact_quantile.py computes
    continuously. The reference's only published latency numbers ARE
    percentiles (BASELINE.md P50/P99 claims over rollups); this is that
    read as a typed endpoint, with the same discipline as the other five:
    typed parameters (Catalyst literals, not string-interpolated SQL),
    CLOSED-CONTAINMENT time range (window_start >= start AND window_end <=
    end), defaults start = now − 1h / end = now (TopKController.kt:34-38).

    Tier contract: one row per (key, window, value) carrying the value's
    in-window count — the windowed generalization of the exact-quantile
    state (counts are sum-mergeable across windows, so range re-aggregation
    is exact; merge-rollup discipline, orders_1m_rollup_table.json:72-84).
    The read re-aggregates counts per (key, value) over the range, then
    computes the ceil(p·n/100)-th order statistic declaratively: one
    cumulative-sum window per key in value order, rank = (n·p + 99) div 100
    in pure integers (streaming/exact_quantile.py's arithmetic — the same
    rank both engines and the DuckDB oracle replay bit-for-bit). Output:
    (key, n_rows, p{p}_cents...) — one row per key.

    At 100 TB: the scan is window-pruned to the range; the shuffle carries
    per-(key, value) partials bounded by |domain| × |keys|, independent of
    event volume; the per-key sort inside the window function sorts ≤
    |domain| rows. No UDF anywhere — whole-stage codegen end to end."""
    pcts = tuple(sorted(int(p) for p in pcts))
    if len(set(pcts)) != len(pcts) or not all(1 <= p <= 100 for p in pcts):
        raise ValueError(
            f"pcts must be distinct whole percents in 1..100, got {pcts}"
        )
    start_ms, end_ms = _default_range(start_ms, end_ms)
    base = _range_filter(histogram_tier, start_ms, end_ms)
    hist = base.groupBy(key_col, value_col).agg(
        F.sum(count_col).cast("long").alias("_c")
    )
    wk = Window.partitionBy(key_col)
    wcum = wk.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        key_col,
        value_col,
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(wk).cast("long").alias("n_rows"),
    )
    # q(p) = smallest value whose cumulative count reaches the integer rank
    # (n·p + 99) div 100 — `div`, not `/`: Spark's / is DOUBLE division and
    # a float boundary here could straddle the exact integer rank
    qcols = [
        F.min(
            F.when(
                F.col("_cum") >= F.expr(f"(n_rows * {p} + 99) div 100"),
                F.col(value_col),
            )
        )
        .cast("long")
        .alias(f"p{p}_cents")
        for p in pcts
    ]
    return cum.groupBy(key_col).agg(F.max("n_rows").alias("n_rows"), *qcols)


def health(spark) -> dict:
    """`GET /health` analog (TopKController.kt:25-27): cheap liveness — the
    session answers a trivial action and reports its version. No table
    scan: serving liveness must not depend on data availability."""
    return {
        "status": "healthy" if spark.range(1).count() == 1 else "unhealthy",
        "spark_version": spark.version,
    }
