"""Windowed rollups + the pre-aggregation ladder (SURVEY.md §2 A1-A5, A9; §4.2).

The reference's core performance idea: raw events → 1-minute rollups at stream
time (Flink AggregateFunction + ProcessWindowFunction, TopKStreamingJob.kt:
122-188) → hourly rollups by background compaction (Pinot MergeRollupTask,
orders_1m_rollup_table.json:72-84) → query-time re-aggregation over the
smallest sufficient tier (pinot/README.md:5 sample queries).

In Spark each tier is one declarative `groupBy(window, keys).agg(...)`:
Catalyst plans partial (map-side) + final aggregation automatically — the
equivalent of Flink's accumulate/merge pair — and sums-of-sums re-aggregate
exactly. At 100 TB the ladder is what turns a full-scan group-by into a scan
of a table ~3 orders of magnitude smaller; rollup tables are written
partitioned by date so time-range queries prune partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from topk_spark.ops.timeparts import hour_of_day, iso_dayofweek


def windowed_rollup(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    window_duration: str = "1 minute",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling-window rollup (A1+A2): one row per (keys..., window); pass
    `slide` < duration for a sliding/hopping window (each event lands in
    duration/slide windows — the input amplification happens map-side inside
    the window expression, before partial aggregation, so the shuffle carries
    only per-window partials).

    Output carries the reference RollupEvent time derivations
    (TopKStreamingJob.kt:150-188): `window_start` / `window_end` epoch-ms
    longs, `hour_of_day`, ISO `day_of_week`.
    """
    win = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    out = (
        df.groupBy(win.alias("w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.unix_millis(F.col("w.start")))
        .withColumn("window_end", F.unix_millis(F.col("w.end")))
        .withColumn("hour_of_day", hour_of_day(F.col("w.start")))
        .withColumn("day_of_week", iso_dayofweek(F.col("w.start")))
        .drop("w")
    )
    return out


def sliding_rollup_from_slices(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    slice_aggs: Sequence[Column],
    metric_cols: Sequence[str],
    window_ms: int,
    slide_ms: int,
) -> DataFrame:
    """Slice-sharing sliding rollup — the two-level form of
    `windowed_rollup(..., slide=...)` for LARGE window/slide ratios.

    The direct form amplifies every event into window/slide overlapping
    windows map-side; at ratio 5 (5m/1m) that is a measured ~5× multiplier
    on shuffle rows and aggregation state (tests/test_observability.py),
    fine. At a dashboard-common 1h/1m the ratio is 60 and the multiplier
    follows it — the shuffle carries 60 copies of every event's partial.
    This form instead aggregates each slide-aligned SLICE once (a plain
    tumbling rollup at `slide_ms` granularity — each event touches exactly
    ONE slice), then re-aggregates the window/slide slices covering each
    hop window. The amplification moves from per-EVENT to per-SLICE: the
    second shuffle carries |keys|×|slices|×ratio tiny partial rows,
    independent of raw event volume — the same partial-reuse idea as the
    reference's merge-rollup ladder (orders_1m_rollup_table.json:72-84),
    applied to overlapping windows.

    Result-identical to the direct form: a (window, key) row exists iff
    some event for the key falls in the window, and sums of slice sums
    equal sums over events. `slice_aggs` must therefore be SUM-mergeable
    aggregates (sums/counts) aliased to `metric_cols`; the hop level sums
    them by name. `window_ms` must be a multiple of `slide_ms` (both
    epoch-aligned, matching Spark's default window alignment).
    """
    if window_ms % slide_ms != 0:
        raise ValueError(
            f"window_ms ({window_ms}) must be a multiple of slide_ms "
            f"({slide_ms}) — hop windows must be tiled exactly by slices"
        )
    ratio = window_ms // slide_ms
    slices = (
        df.groupBy(
            F.window(ts_col, f"{slide_ms} milliseconds").alias("w"), *keys
        )
        .agg(*slice_aggs)
        .withColumn("_slice_start", F.unix_millis(F.col("w.start")))
        .drop("w")
    )
    # each slice belongs to the `ratio` hop windows starting at
    # slice_start − k·slide for k in [0, ratio) — the same arithmetic the
    # direct form applies per event, now applied per slice partial
    hop = slices.withColumn(
        "_k", F.explode(F.expr(f"sequence(0, {ratio - 1})"))
    ).withColumn(
        "window_start",
        (F.col("_slice_start") - F.col("_k") * F.lit(slide_ms)).cast("long"),
    )
    return (
        hop.groupBy("window_start", *keys)
        .agg(*[F.sum(c).cast("long").alias(c) for c in metric_cols])
        .withColumn(
            "window_end", (F.col("window_start") + F.lit(window_ms)).cast("long")
        )
    )


def merge_rollup(
    rollup_1m: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    target_window_ms: int = 3_600_000,
) -> DataFrame:
    """Merge-rollup compaction (A9, Pinot MergeRollupTask
    orders_1m_rollup_table.json:72-84): re-bucket fine windows into coarse
    ones, summing metrics. Runs as a periodic batch
    job over partitions older than the compaction delay; the coarse window
    start is the epoch-floored fine window start, so 1m buckets nest exactly
    into 1h buckets.
    """
    coarse = (
        F.col("window_start") - F.col("window_start") % F.lit(target_window_ms)
    ).cast("long")
    aggs = [F.sum(c).cast("long").alias(c) for c in sum_cols]
    return (
        rollup_1m.withColumn("window_start", coarse)
        .withColumn("window_end", (F.col("window_start") + F.lit(target_window_ms)).cast("long"))
        .groupBy("window_start", "window_end", *keys)
        .agg(*aggs)
    )
