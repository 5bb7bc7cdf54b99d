"""Time-decayed top-K — recency-weighted leaderboards, round-8 late.

The reference's continuous top-K ranks all-time per-key totals
(ProcessFunctions.kt:62-134, TopKStreamingJob.kt:543-548); a live
leaderboard usually wants recent weight to dominate. These queries add
the standard exponential-decay read on top of the same engine surface,
in the repo's integer-exact style (streaming/decayed_topk.py module doc:
bucket by half-life, decay per-bucket sums by right-shift at read time —
the one formulation batch, stream state, and a SQL oracle replay
bit-for-bit).

Half-life: 3 days over the 30-day events fixture -> ~10 buckets, so the
oldest buckets still contribute (shift ~9, ~0.2%) — which is exactly what
makes cross-batch state continuity in the drain load-bearing: a state
reset changes emitted decayed values, not just a far tail.

100 TB posture: bucket sums are an ordinary hash aggregate (map-side
partial combine) over (type, user, bucket) — cardinality = keys x <=63
live buckets; the global max bucket is one broadcast scalar; the decay is
a map-side shift; the top-k per type is the bounded-heap pattern. The
streaming state is <=63 integer pairs per key, independent of traffic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.workload import register
from topk_spark.streaming.decayed_topk import ZERO_SHIFT
from topk_spark.workload.drain import drain, range_tile
from topk_spark.workload.events_queries import _ES, order_stream

_HL_MS = 3 * 86_400_000  # half-life: 3 days
_K = 5

# Null-revenue events (unparseable quantity) carry no weight on the Spark
# side (filtered before bucketing), so the oracle must exclude them from
# BOTH the bucket sums and the bmax derivation — an all-null newest bucket
# or an all-null (type, user) group would otherwise exist only here.
_DECAY_ORACLE = f"""
WITH {_ES},
b AS (
  SELECT event_type, user_id, epoch_ms(ts) // {_HL_MS} AS bucket,
         CAST(SUM(revenue_cents) AS BIGINT) AS s
  FROM es WHERE revenue_cents IS NOT NULL GROUP BY 1, 2, 3
),
m AS (SELECT max(bucket) AS bmax FROM b),
d AS (
  SELECT event_type, user_id,
         CAST(SUM(CASE WHEN bmax - bucket >= {ZERO_SHIFT} THEN 0
                       ELSE s >> (bmax - bucket) END) AS BIGINT) AS decayed_cents
  FROM b CROSS JOIN m GROUP BY 1, 2
),
r AS (
  SELECT event_type, user_id, decayed_cents,
         row_number() OVER (
           PARTITION BY event_type ORDER BY decayed_cents DESC, user_id
         ) AS rnk
  FROM d
)
SELECT event_type, user_id, decayed_cents, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= {_K}
"""


def _finalize_decay(buckets: DataFrame) -> DataFrame:
    """(event_type, user_id, bucket, w_sum) -> top-K per type by decayed
    sum. Decay is relative to the global max bucket (one broadcast
    scalar); shifts >= ZERO_SHIFT are zero by definition (BIGINT sums are
    < 2^63), matching the streaming state's lossless prune — one shared
    constant (streaming/decayed_topk.py) keeps prune and finalize honest."""
    m = buckets.agg(F.max("bucket").alias("bmax"))
    d = (
        buckets.crossJoin(F.broadcast(m))
        .withColumn(
            "_contrib",
            F.when(
                F.col("bmax") - F.col("bucket") >= ZERO_SHIFT,
                F.lit(0).cast("long"),
            ).otherwise(
                F.expr("shiftright(w_sum, CAST(bmax - bucket AS INT))")
            ),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("_contrib").cast("long").alias("decayed_cents"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("decayed_cents"), F.asc("user_id")
    )
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _K)
        .select("event_type", "user_id", "decayed_cents", "rnk")
    )


def _bucketed(
    spark: SparkSession, sf_dir: str, with_ts: bool = False
) -> DataFrame:
    """Per-event (type, user, half-life-bucket, weight) rows — the ONE
    source projection shared by the batch query, both streaming drains,
    and the restart-matrix tests. Null-revenue events (unparseable
    quantity) carry no weight, exactly like the oracle's explicit filter."""
    es = order_stream(spark, sf_dir).where(F.col("revenue_cents").isNotNull())
    cols = (["ts"] if with_ts else []) + [
        "event_type",
        "user_id",
        F.floor(F.unix_millis("ts") / _HL_MS).alias("bucket"),
        F.col("revenue_cents").alias("w"),
    ]
    return es.select(*cols)


def _decay_drain(
    spark: SparkSession, sf_dir: str, restart_after: int | None = None
) -> DataFrame:
    from topk_spark.streaming.decayed_topk import streaming_decayed_buckets

    drained = drain(
        spark,
        range_tile(_bucketed(spark, sf_dir, with_ts=True), "ts", 3),
        lambda s: streaming_decayed_buckets(s),
        output_mode="update",
        last_per=["event_type", "user_id"],
        tiles=3,
        restart_after=restart_after,
    )
    return _finalize_decay(drained)


@register(
    "decayed_topk_revenue",
    tags=("K1", "K4", "A4"),
    oracle=_DECAY_ORACLE,
)
def decayed_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read: top-5 users per event type by half-life-decayed revenue
    as of the newest event. The entire decay is three hash aggregates and
    a shift — no window over raw rows, no per-event float math."""
    b = (
        _bucketed(spark, sf_dir)
        .groupBy("event_type", "user_id", "bucket")
        .agg(F.sum("w").cast("long").alias("w_sum"))
    )
    return _finalize_decay(b)


@register(
    "stream_decayed_topk_drain",
    tags=("K1", "T8", "streaming"),
    oracle=_DECAY_ORACLE,
)
def stream_decayed_topk_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same leaderboard served from CONTINUOUS state: per-key bucket
    sums maintained by `streaming_decayed_buckets` across 3 event-time-
    ordered micro-batches, finalized (decay + top-k) on the drained final
    state. Shares the batch oracle verbatim because the state is
    decay-free exact sums — arrival order and batch boundaries cannot
    change it. Continuity is load-bearing: tile-0 buckets keep nonzero
    shifted contributions (HL = 3 d over a 30 d span), so a per-batch
    state reset shifts emitted decayed_cents values (counterfactual
    pinned in tests/test_decay.py)."""
    return _decay_drain(spark, sf_dir)


@register(
    "stream_decayed_topk_restart_drain",
    tags=("K1", "T8", "streaming"),
    oracle=_DECAY_ORACLE,
)
def stream_decayed_topk_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint-restart twin of `stream_decayed_topk_drain`: generation
    1 processes only the first event-time tile; the restarted query must
    restore the early bucket sums from the checkpoint — at HL = 3 d their
    shifted contributions are nonzero, so losing them changes emitted
    decayed_cents and fails the shared oracle's value hash."""
    return _decay_drain(spark, sf_dir, restart_after=1)
