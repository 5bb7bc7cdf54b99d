"""The streaming pipeline (SURVEY.md §3.2) — Spark Structured Streaming
re-expression of TopKStreamingJob.kt:

    stage 1: Kafka source (S1) → JSON parse (P1/F5) → first-seen dedup under a
             1h event-time horizon (D1/T6) → raw deduped table (S3 analog)
    stage 2: stream FROM the raw table → 10s lateness watermark (T1) →
             1-minute tumbling rollup keyed by (restaurant, item)
             (G2+T3+A1+A2) → rollup table (S4 analog)

Why two chained queries instead of one: the reference runs two different
clocks — a 1h dedup state TTL and a 10s window lateness bound. A single Spark
query allows one watermark definition, so we chain through the raw table,
which is exactly the reference's own topology (dedup job → Kafka topic →
downstream consumer/Pinot ingest) with the topic replaced by a partitioned
parquet table; each stage owns its watermark. Medallion-style bronze→silver,
each stage independently checkpointed and exactly-once.

Semantics vs the reference, pinned by tests/test_streaming.py:
- Dedup horizon 1h on the EVENT-time clock (the reference TTL is
  processing-time — SURVEY §7 risk 2, documented divergence).
- Late data: rows later than the 10s watermark are dropped from rollups but
  retained in raw — matching the Flink path's default drop (T5).
- Sinks are at-least-once; effective exactly-once comes from idempotent
  batch dedup downstream (D4), the same layered design as the reference's
  at-least-once producer + Pinot dedupConfig.

Scale: dedup state is one entry per event_id inside the horizon, hash-spread
across executors; rollup state one accumulator per (restaurant, item, open
window). Both watermark-bounded. Raw is partitioned by event_date so
retention (S10) is a partition drop and time-range scans prune.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

from topk_spark.ops.sketches import hll_sketch
from topk_spark.ops.timeparts import hour_of_day, iso_dayofweek
from topk_spark.schemas import ORDER_EVENT


def build_dedup_stream(events: DataFrame, dedup_horizon: str = "1 hour") -> DataFrame:
    """Stage 1 dataflow: typed OrderEvent stream → watermarked first-seen
    dedup (D1) + ingest-time revenue column (S8/P5)."""
    typed = events.withColumn("event_ts", F.timestamp_millis(F.col("timestamp")))
    deduped = (
        typed.withWatermark("event_ts", dedup_horizon)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return deduped.withColumn(
        "revenue_cents",
        F.col("quantity").cast("long") * F.col("price_in_cents").cast("long"),
    )


def build_rollup_stream(
    deduped: DataFrame,
    watermark_late: str = "10 seconds",
    window_duration: str = "1 minute",
) -> DataFrame:
    """Stage 2 dataflow: deduped stream → tumbling-window RollupEvent rows
    (TopKStreamingJob.kt:59-72) with real HLL customer sketches."""
    return (
        deduped.withWatermark("event_ts", watermark_late)
        .groupBy(
            F.window("event_ts", window_duration).alias("w"),
            "restaurant_id",
            "menu_item_id",
        )
        .agg(
            F.min("menu_item_name").alias("menu_item_name"),
            F.min("category_id").alias("category_id"),
            F.sum("quantity").cast("long").alias("sum_quantity"),
            F.sum("revenue_cents").cast("long").alias("sum_revenue_cents"),
            F.count("*").alias("order_count"),
            hll_sketch("customer_id").alias("unique_customers_hll"),
        )
        .select(
            "restaurant_id",
            "menu_item_id",
            "menu_item_name",
            "category_id",
            F.unix_millis(F.col("w.start")).alias("window_start_1m"),
            F.unix_millis(F.col("w.start")).alias("window_start_ts"),
            hour_of_day(F.col("w.start")).alias("hour_of_day"),
            iso_dayofweek(F.col("w.start")).alias("day_of_week"),
            "sum_quantity",
            "sum_revenue_cents",
            "order_count",
            "unique_customers_hll",
        )
    )


# Schema of the raw table written by stage 1 (stage 2 streams it back in).
RAW_SCHEMA = StructType(
    list(ORDER_EVENT.fields)
    + [
        StructField("event_ts", TimestampType(), True),
        StructField("revenue_cents", LongType(), True),
    ]
)


def _trigger(available_now: bool, seconds: float) -> dict:
    return (
        {"availableNow": True}
        if available_now
        else {"processingTime": f"{int(seconds * 1000)} milliseconds"}
    )


def start_raw_sink(
    deduped: DataFrame,
    raw_path: str,
    checkpoint: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """Stage 1 sink: deduped events → parquet partitioned by event date."""
    return (
        deduped.withColumn("event_date", F.to_date(F.col("event_ts")))
        .writeStream.format("parquet")
        .option("path", raw_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("event_date")
        .trigger(**_trigger(available_now, trigger_seconds))
        .outputMode("append")
        .start()
    )


def start_rollup_from_raw(
    spark: SparkSession,
    raw_path: str,
    rollup_path: str,
    checkpoint: str,
    watermark_late: str = "10 seconds",
    window_duration: str = "1 minute",
    trigger_seconds: int = 60,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stage 2: stream the raw table → windowed rollup → parquet partitioned
    by window date. The file source replays the raw table in commit order, so
    the 10s watermark advances exactly as it would off the original topic."""
    reader = spark.readStream.schema(RAW_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw_stream = reader.parquet(raw_path)
    rollup = build_rollup_stream(raw_stream, watermark_late, window_duration)
    return (
        rollup.withColumn(
            "window_date", F.to_date(F.timestamp_millis(F.col("window_start_1m")))
        )
        .writeStream.format("parquet")
        .option("path", rollup_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("window_date")
        .trigger(**_trigger(available_now, trigger_seconds))
        .outputMode("append")
        .start()
    )

