"""Top-K / ranking operators (SURVEY.md §2 K1-K7).

The reference implements top-k three ways — stateful MapState truncation
(ProcessFunctions.kt:62-134), in-memory sort+take (KafkaConsumerTopKJob.kt:
243-291), and a bounded min-heap oracle (DataGenerator.kt:98-117). In Spark
they all collapse to two physical shapes Catalyst already optimizes:

- per-group rank: `row_number() OVER (PARTITION BY keys ORDER BY metric)` —
  one hash shuffle on the partition keys, rank computed within partitions;
- global top-n: `ORDER BY ... LIMIT n` → TakeOrderedAndProject, which IS a
  distributed bounded heap (per-partition heap + driver merge of n·P rows,
  no global sort) — the scalable version of K6.

Determinism: every ordering gets an explicit unique tiebreaker. The
reference's JVM stable-sort encounter order is nondeterministic across
systems (SURVEY §7 risk 5); distributed row order doubly so.

Scale note (G4): a global rank over one partition is the same single-key
hotspot the reference has (`keyBy { "global" }`). For true top-n we avoid it
entirely via TakeOrderedAndProject; `global_topk` with ranks uses
limit-then-rank so only n rows ever hit the single partition.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from topk_spark.schemas import GLOBAL_SENTINEL


def rank_topk(
    df: DataFrame,
    partition_keys: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-key ranked top-k (K1/K2): rank 1..k per partition, ordered by
    `order_by` (pass explicit desc/asc columns ending in a unique tiebreak).
    """
    w = Window.partitionBy(*partition_keys).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("int"))
        .filter(F.col(rank_col) <= k)
    )


def global_topk(
    df: DataFrame,
    order_by: Sequence[Column],
    k: int,
    sentinel_col: str | None = "restaurant_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Global top-k with ranks and the reference's 'ALL' sentinel key (K3,
    KafkaConsumerTopKJob.kt:274-291).

    Two-phase to dodge the single-key hotspot: `orderBy().limit(k)` runs as
    TakeOrderedAndProject (distributed heaps, no full sort, no one-partition
    shuffle); only the k survivors get the window-function rank pass.
    """
    top = df.orderBy(*order_by).limit(k)
    w = Window.partitionBy().orderBy(*order_by)
    out = top.withColumn(rank_col, F.row_number().over(w).cast("int"))
    if sentinel_col is not None:
        out = out.withColumn(sentinel_col, F.lit(GLOBAL_SENTINEL))
    return out


def topn(df: DataFrame, order_by: Sequence[Column], n: int) -> DataFrame:
    """Plain ORDER BY ... LIMIT n (K4/K5/K6): Catalyst's TakeOrderedAndProject
    is the distributed bounded min-heap the generator oracle hand-rolls."""
    return df.orderBy(*order_by).limit(n)


def rank_topk_with_ties(
    df: DataFrame,
    partition_keys: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    """Per-key top-k KEEPING ties (K2 variant — `RANK() <= k`, the
    WITH TIES semantics Pinot/SQL offer alongside row_number): rows equal
    under `order_by` share a rank, so everything tied into the top k
    survives and the output is deterministic WITHOUT a tiebreak column —
    the correct choice when the metric is coarse (counts, integer grades)
    and arbitrarily dropping tied rows would misreport. Same single
    shuffle as `rank_topk`. The rank lands in column `rnk`."""
    w = Window.partitionBy(*partition_keys).orderBy(*order_by)
    return df.withColumn("rnk", F.rank().over(w).cast("int")).filter(F.col("rnk") <= k)
