"""DataFrame-native Bloom-filter join pre-filtering (runtime-filter
pattern).

Spark's own row-level runtime bloom filter (`bloom_filter_agg` /
`might_contain`) is an internal optimizer rewrite, not a public SQL
function in this build — so the same structure is built here from public
built-ins:

    build side:  k xxhash64 positions per key → pack into 64-bit words
                 via bit_or aggregate → ONE row holding a map<word_idx,
                 word> (m/64 entries; 2^16 bits = 8 KiB)
    probe side:  crossJoin(broadcast(1-row bitset)) → per-row predicate
                 AND_i ((word[pos_i >> 6] >> (pos_i % 64)) & 1) == 1 —
                 pure codegen expressions, no explode, no Python

Why it matters at 100 TB: the probe-side filter runs BEFORE the join's
shuffle, so rows that cannot match never enter the exchange. A semi-join
only drops them after shuffling (or needs the full key set broadcast —
unbounded); the bloom bitset is FIXED SIZE regardless of build-side key
count, trading a tunable false-positive rate that costs only shuffle
volume, never correctness — the real join still runs afterwards.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# A multiple of 64: a partial top word would put positions past the
# densified array's end, where element_at yields NULL and the AND-ed probe
# predicate silently drops rows that may match — a false NEGATIVE.
_M_BITS = 1 << 16  # 8 KiB bitset
_K = 5  # hash functions; FPR ~= (1 - e^{-kn/m})^k


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """Aggregate the build side's keys into a one-row bitset:
    map<word_idx, word> with word = bit_or of 1 << (pos % 64) over every
    hash position landing in that 64-bit word. The shuffles here carry
    (word_idx, word) pairs — at most m/64 groups — never payload rows."""
    pos_arr = F.array(
        *[
            F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(_M_BITS))
            for i in range(_K)
        ]
    )
    sparse = (
        keys.select(F.explode(pos_arr).alias("pos"))
        .select(
            F.shiftright("pos", 6).alias("word_idx"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word_idx", "word"))
            ).alias("__bloom_map")
        )
    )
    # Densify the one-row map into an array<long> indexed by word_idx:
    # Spark's element_at on a MAP is a LINEAR scan of the entries (m/64
    # comparisons per lookup — measured 1.6 s of pure probe time at sf0.1),
    # while element_at on an ARRAY is O(1). The conversion runs once on a
    # single row; every probe-row lookup thereafter is constant-time.
    n_words = _M_BITS // 64
    return sparse.select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(
                F.element_at("__bloom_map", i), F.lit(0).cast("long")
            ),
        ).alias("__bloom")
    )


def bloom_prefilter(df: DataFrame, key_col: str, bloom: DataFrame) -> DataFrame:
    """Keep only rows whose `key_col` MIGHT be in the bloom set (no false
    negatives — same xxhash64 family as `bloom_build`). The bitset arrives
    via a 1-row broadcast crossJoin (the scalar-broadcast pattern used
    across this engine); the k membership tests are one AND-ed codegen
    expression, evaluated map-side before any downstream shuffle."""
    # Flat k-way AND of codegen bit tests. Each conjunct names its
    # xxhash64 twice (word index + bit offset) but that still beats a
    # forall(transform(...)) single-eval form, which allocates a position
    # array per row (measured 1.43 s vs 0.91 s probe at sf0.1). element_at
    # on the ARRAY bitset is O(1); the earlier MAP bitset was an O(m/64)
    # per-lookup linear scan and dominated the probe (1.6 s alone).
    tests = []
    for i in range(_K):
        p = f"pmod(xxhash64(`{key_col}`, {i}), {_M_BITS}L)"
        word = f"element_at(__bloom, CAST(shiftright({p}, 6) AS INT) + 1)"
        tests.append(
            f"((shiftright({word}, CAST({p} % 64 AS INT)) & 1L) = 1L)"
        )
    return (
        df.crossJoin(F.broadcast(bloom))
        .filter(F.expr(" AND ".join(tests)))
        .drop("__bloom")
    )
