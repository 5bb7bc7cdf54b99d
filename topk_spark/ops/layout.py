"""Data-layout operators: the storage-side half of the 100 TB story
(SURVEY.md §2 S7/S10 extensions; Pinot analogs: time-partitioned segments
`orders_raw_upsert_table.json:11-12`, sorted + range index columns
`orders_raw_upsert_table.json:19-38`, bucketed routing).

Three layouts, each making a class of 100 TB queries cheap at READ time:

- **Daily hive partitioning** (`write_partitioned_daily`): one directory per
  event_date → time-range predicates become PARTITION PRUNING (the scan
  never lists, let alone reads, out-of-range files). The Pinot analog is
  time-column segment pruning. At 100 TB with 30 days retention, a 1-day
  query reads 1/30th of the files by construction.
- **Range-sorted compaction** (`compact_range_sorted`): repartitionByRange +
  sortWithinPartitions on the probe column → parquet row-group min/max
  stats become effective, so point/range predicates skip whole row groups
  (sorted-index analog). Also the small-file compactor: N output files is a
  parameter, not a side effect of upstream parallelism.
- **Bucketed tables** (`write_bucketed`): bucketBy(k) on the join key →
  co-located, shuffle-FREE joins between tables bucketed the same way
  (partition-routing analog). At 100 TB the nightly fact⋈dim join pays
  zero Exchange on either side.

Everything here is plain `DataFrameWriter` surface — no custom file
management — so it composes with any downstream reader including DuckDB.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def write_partitioned_daily(df: DataFrame, path: str) -> None:
    """Hive-partition `df` by the calendar day of `ts` into `event_date=`
    directories.

    `repartition("event_date")` first: one shuffle so each day is written
    by one task → one file per day instead of (tasks × days) small files
    (the small-files problem is the classic partitionBy failure mode)."""
    (
        df.withColumn("event_date", F.to_date(F.col("ts")))
        .repartition(F.col("event_date"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )


def compact_range_sorted(
    df: DataFrame, sort_cols: list[str], n_files: int
) -> DataFrame:
    """Range-partition into exactly `n_files` outputs, each internally sorted
    by `sort_cols` → parquet min/max stats per row group are tight and
    disjoint, so a range predicate on sort_cols[0] skips files AND row
    groups. Returns the re-laid-out frame ready for `.write`."""
    cols = [F.col(c) for c in sort_cols]
    return df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)


def write_bucketed(
    df: DataFrame, table: str, bucket_cols: list[str], n_buckets: int, path: str
) -> None:
    """Persist at `path` as catalog table `table`, bucketed and
    bucket-sorted: joins/aggregations on `bucket_cols` between
    same-bucketed tables need NO Exchange — Spark proves co-partitioning
    from the catalog metadata (tests/test_plans.py::
    test_bucketed_join_needs_no_shuffle)."""
    df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols).sortBy(
        *bucket_cols
    ).option("path", path).saveAsTable(table)


_Z_BITS = 8  # grid cells per dimension = 2^8; z fits in 16 bits


def zorder_value(col_a, col_b):
    """Z-order (Morton) interleave of two non-negative integer columns:
    bit i of `col_a` lands at position 2i, bit i of `col_b` at 2i+1. Pure
    integer shift/mask arithmetic over built-in expressions → whole-stage
    codegen, no UDF; the identical formula is SQL-expressible for the
    DuckDB oracle. Inputs must already be quantized to `_Z_BITS` bits (see
    `quantize_col`) — interleaving RAW columns of very
    different magnitudes degenerates to a single-column sort, because the
    wider column owns all the high bits."""
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    a = a.cast("long").bitwiseAND(F.lit((1 << _Z_BITS) - 1))
    b = b.cast("long").bitwiseAND(F.lit((1 << _Z_BITS) - 1))
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def quantize_col(col, lo, hi):
    """Linear quantization of `col` onto a 2^_Z_BITS grid over [lo, hi]:
    floor((col - lo) * 2^_Z_BITS / (hi - lo + 1)) — both dimensions end up
    with the SAME bit width regardless of raw magnitude, which is what
    makes the interleave alternate meaningfully (Delta/Iceberg compute
    per-column range-ids for the same reason). All-integer inputs through
    an exactly-rounded double divide (values ≪ 2^53), so the identical
    formula in DuckDB SQL produces identical cells."""
    cells = 1 << _Z_BITS
    return F.floor(
        (col - lo).cast("double") * float(cells) / (hi - lo + F.lit(1))
    ).cast("long")


def compact_zorder(df: DataFrame, col_a: str, col_b: str, n_files: int) -> DataFrame:
    """Z-order clustering: quantize both columns onto a common 2^_Z_BITS grid
    (one extra min/max pass, broadcast as a 1-row bound), interleave into a
    z-value, then range-partition + sort on it — each output file covers a
    compact RECTANGLE in (col_a, col_b) space, so parquet min/max stats on
    BOTH columns are selective at once. The multi-dimensional
    generalization of `compact_range_sorted`: a single-column sort gives
    perfect pruning on one dimension and none on the other; z-order gives
    ~sqrt-grade pruning on each. This is what Delta/Iceberg `OPTIMIZE
    ZORDER BY` does, built here from built-in expressions +
    repartitionByRange. The bounds pass is a scalar aggregate (same
    pattern as topk_revenue_raw_24h's max-ts probe): scale-safe."""
    a, b = F.col(col_a), F.col(col_b)
    bounds = df.agg(
        F.min(a).alias("__alo"),
        F.max(a).alias("__ahi"),
        F.min(b).alias("__blo"),
        F.max(b).alias("__bhi"),
    )
    qa = quantize_col(a, F.col("__alo"), F.col("__ahi"))
    qb = quantize_col(b, F.col("__blo"), F.col("__bhi"))
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__z", zorder_value(qa, qb))
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", "__alo", "__ahi", "__blo", "__bhi")
    )


def layout_cache_root(sf_dir: str, leaf: str, version: int = 1) -> str:
    """Canonical materialize-once cache root, shared by every layout
    side-output. Keyed by a fingerprint of the RESOLVED dataset path (not
    its basename — two sf_dirs named alike must not collide) and a caller
    version (bump when the builder's OUTPUT changes, so a layout written
    by older code is never silently reused)."""
    import hashlib
    import tempfile

    fp = hashlib.blake2b(
        os.path.realpath(sf_dir).encode(), digest_size=8
    ).hexdigest()
    return os.path.join(
        tempfile.gettempdir(), "topk_spark_layout", f"{fp}_v{version}", leaf
    )


def materialize_once(path: str, build) -> str:
    """Write-once cache guard for layout side-outputs: `build(path)` runs
    only if `path` lacks a parquet _SUCCESS marker. Queries that demonstrate
    read-time layout wins call this so repeated runs (driver, bench, tests)
    reuse the laid-out copy instead of rewriting it."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build(path)
    return path
