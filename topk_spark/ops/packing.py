"""Training-data sequence packing + deterministic corpus shuffling.

LLM pipelines need (a) a reproducible global shuffle of the corpus — without
a global sort, which at 100 TB is the single most expensive operation you can
ask for — and (b) packing documents into fixed-budget training sequences.

Shuffle: an affine hash of the stable doc key gives every row a
pseudo-random rank; hash-mod assigns the shard (pure map-side, no shuffle),
and ordering within a shard needs only a partition-local sort. The result is
a deterministic permutation that any engine (and any re-run) reproduces
bit-for-bit — unlike `rand()`, which is per-task nondeterministic under
retries.

Packing, two semantics:
- chunked  (concat-then-chunk): documents are laid out in shuffle order and
  cut into packs of ~`budget` length units; a document is counted into the
  pack where it starts. Pure window arithmetic (prefix sum → floor div) —
  fully declarative, shuffle-free beyond the shard partitioning.
- greedy   (first-fit-in-order): a pack closes when the next document would
  overflow the budget; documents never straddle packs. Inherently a
  sequential scan per shard → `applyInPandas` over shards, Arrow-batched;
  each shard's packing is independent so the operator scales with shard
  count, not corpus size.

The reference has no such operators (it is an ordered-event analytics stack);
these are north-star additions per the build brief, built on the same
shuffle-minimal design rules as the §2 inventory.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import LongType, StructField, StructType

# Affine hash constants (LCG multiplier/increment, Numerical Recipes).
_A = 1103515245
_C = 12345
_M = 2_147_483_648  # 2^31


def shuffle_rank(key: Column) -> Column:
    """Deterministic pseudo-random rank of a stable integer key.

    The key is reduced mod 2^31 BEFORE the affine step, so the multiply
    peaks at (2^31−1)·A + C ≈ 2.4e18 < 2^63 — no int64 overflow for ANY
    int64 key (ADVICE round-1: the unreduced form wrapped for keys ≥
    ~8.4e9, going negative in Spark and raising in DuckDB). pmod keeps
    negative keys positive. Keys 2^31 apart share a rank; the (rank, key)
    tiebreak in shuffle_shards still totally orders them."""
    return (F.pmod(key.cast("long"), F.lit(_M)) * _A + _C) % _M


def shuffle_shards(df: DataFrame, key: str, n_shards: int) -> DataFrame:
    """Assign every row a shard and a within-shard position forming a
    reproducible global permutation. Map-side shard assignment; one shuffle
    on the shard key; partition-local ordering (never a global sort)."""
    h = shuffle_rank(F.col(key))
    w = Window.partitionBy("shard").orderBy(F.col("shuffle_key").asc(), F.col(key).asc())
    return (
        df.withColumn("shuffle_key", h)
        .withColumn("shard", (F.col("shuffle_key") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
    )


def pack_chunked(
    df: DataFrame, key: str, length_col: str, budget: int, n_shards: int
) -> DataFrame:
    """Concat-then-chunk packing: pack_id = floor(exclusive-prefix-sum of
    length / budget) in shuffle order, per shard. One shuffle (shard), one
    partition-local sort — at any scale."""
    sharded = shuffle_shards(df, key, n_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("shuffle_key").asc(), F.col(key).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(length_col).cast("long")).over(w)
    return sharded.withColumn(
        "pack_id", ((cum - F.col(length_col)) / F.lit(budget)).cast("long")
    )


def pack_greedy(
    df: DataFrame, key: str, length_col: str, budget: int, n_shards: int
) -> DataFrame:
    """First-fit-in-order packing per shard: close the pack when the next
    document would overflow `budget` (oversized documents get a pack of
    their own). Sequential per shard → applyInPandas; shards are the unit of
    parallelism, so size n_shards to the cluster, not the data."""
    sharded = shuffle_shards(df, key, n_shards).select(
        key, length_col, "shuffle_key", "shard", "pos"
    )

    # Copy the fields: StructType.add mutates in place, and DataFrame.schema
    # is cached on the frame — mutating it corrupts `sharded`'s column list.
    schema = StructType(
        list(sharded.schema.fields) + [StructField("pack_id", LongType())]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["shuffle_key", key]).reset_index(drop=True)
        pack_ids = []
        pack, used = 0, 0
        for length in pdf[length_col]:
            n = int(length)
            if used > 0 and used + n > budget:
                pack += 1
                used = 0
            used += n
            pack_ids.append(pack)
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf

    return sharded.groupBy("shard").applyInPandas(_pack, schema=schema)
