"""Deduplication operators (SURVEY.md §2 D1-D4) — the reference's signature op.

Batch: first-seen-by-key via deterministic row_number (ties broken explicitly —
the reference's encounter-order tiebreak is nondeterministic, SURVEY §7 risk 5).
Streaming: watermark-bounded `dropDuplicatesWithinWatermark` — the Spark analog
of Flink ValueState + 1h TTL (D1, TopKStreamingJob.kt:87-119) and of the
consumer job's ConcurrentHashMap TTL sweep (D3, KafkaConsumerTopKJob.kt:163-169).

Scale notes: dedup is a hash shuffle on the key — at 100 TB the key cardinality
is the state size, so the watermark horizon (reference: 1h TTL) is what keeps
streaming state bounded. For batch exact-dedup of wide rows, dedupe on a hash
of the identity columns, not the payload, so the shuffle carries bytes ∝ keys.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def dedup_first_seen(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column] | None = None,
) -> DataFrame:
    """Keep exactly one row per key — the earliest by `order_by` (D1/D3 batch
    semantics: first occurrence wins). Default order: all non-key columns
    ascending, making the survivor deterministic on any input."""
    if order_by is None:
        order_by = [F.col(c).asc() for c in df.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


