"""Layout-win queries: prove the read-time effect of the storage layouts in
ops/layout.py with hash-checked results (and plan shapes pinned in
tests/test_layout.py).

Both queries materialize their laid-out copy ONCE per (tmp, sf) into
/tmp/topk_spark_layout/<sf>/ — the write is the setup cost of the layout,
the registered query measures the pruned READ path, same as a production
table that is written once per day and read thousands of times.
"""

from __future__ import annotations


import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.layout import (
    compact_range_sorted,
    compact_zorder,
    materialize_once,
    write_partitioned_daily,
)
from topk_spark.ops.money import cents
from topk_spark.workload import register

# One pruned week, inside every SF's 2024-01-01..2024-01-30 span.
_WEEK_LO, _WEEK_HI = "2024-01-08", "2024-01-14"
# Probe range for the sorted-compaction scan (user_id domain is 0..~2k).
_UID_LO, _UID_HI = 100, 199


# Canonical scheme lives next to materialize_once; re-exported here for
# the workload modules that historically import it from this module.
from topk_spark.ops.layout import layout_cache_root as _layout_root  # noqa: E402


def partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events, hive-partitioned by event_date (materialized once)."""
    path = materialize_once(
        _layout_root(sf_dir, "events_daily"),
        lambda p: write_partitioned_daily(load_table(spark, sf_dir, "events"), p),
    )
    return spark.read.parquet(path)


def sorted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events, compacted into 8 files range-sorted by user_id."""
    path = materialize_once(
        _layout_root(sf_dir, "events_by_user"),
        lambda p: compact_range_sorted(
            load_table(spark, sf_dir, "events"), ["user_id", "ts"], 8
        ).write.mode("overwrite").parquet(p),
    )
    return spark.read.parquet(path)


@register(
    "partition_pruned_week",
    oracle=f"""
SELECT CAST(ts AS DATE) AS event_date,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_value_cents
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{_WEEK_LO}' AND DATE '{_WEEK_HI}'
GROUP BY 1
""",
    tags=("layout", "pruning"),
)
def partition_pruned_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily activity for one week, read from the date-partitioned layout.
    The week predicate lands in the scan's PartitionFilters (pinned in
    tests/test_layout.py): Spark lists only the 7 matching day directories —
    at 100 TB / 30 days, a 23/30 reduction in bytes touched before a single
    row is read. Oracle recomputes from the unpartitioned source, proving
    the layout round-trip is lossless."""
    p = partitioned_events(spark, sf_dir)
    return (
        p.filter(F.col("event_date").between(F.lit(_WEEK_LO), F.lit(_WEEK_HI)))
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value"))
            .cast("long")
            .alias("sum_value_cents"),
        )
    )


@register(
    "sorted_scan_user_range",
    oracle=f"""
SELECT user_id,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS sum_value_cents
FROM events
WHERE user_id BETWEEN {_UID_LO} AND {_UID_HI}
GROUP BY user_id
""",
    tags=("layout", "pruning"),
)
def sorted_scan_user_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals for a user_id range, read from the range-sorted
    compacted layout. The predicate reaches parquet as PushedFilters over a
    file set whose row groups are disjoint in user_id → min/max stats skip
    all but ~1/8th of the data (sorted-index analog; pinned in
    tests/test_layout.py). Oracle recomputes from the unsorted source."""
    s = sorted_events(spark, sf_dir)
    return (
        s.filter(F.col("user_id").between(_UID_LO, _UID_HI))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value"))
            .cast("long")
            .alias("sum_value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order clustering: two-dimensional pruning from one sort
# ---------------------------------------------------------------------------

_VC_EXPR = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
_ZUID_LO, _ZUID_HI = 40, 79          # inside 0..149 at every SF
_ZVC_LO, _ZVC_HI = 10_000, 19_999    # value_cents domain is 1..49002


def zordered_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events, compacted into 16 files z-order-clustered on
    (user_id, value_cents) — each file covers a compact rectangle in the
    2-D key space."""
    path = materialize_once(
        _layout_root(sf_dir, "events_zorder"),
        lambda p: compact_zorder(
            load_table(spark, sf_dir, "events").withColumn(
                "value_cents", cents("value")
            ),
            "user_id",
            "value_cents",
            16,
        ).write.mode("overwrite").parquet(p),
    )
    return spark.read.parquet(path)


@register(
    "zorder_pruned_scan",
    tags=("layout", "zorder", "pruning"),
    oracle=f"""
SELECT count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM({_VC_EXPR}) AS BIGINT) AS sum_value_cents
FROM events
WHERE user_id BETWEEN {_ZUID_LO} AND {_ZUID_HI}
  AND {_VC_EXPR} BETWEEN {_ZVC_LO} AND {_ZVC_HI}
""",
)
def zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectangle query (user-range AND value-range) against the z-ordered
    layout: both predicates reach parquet as PushedFilters, and because
    every file is a compact 2-D box, files outside the rectangle are
    skipped on min/max stats in EITHER dimension — ~sqrt-grade pruning per
    column where a single-column sort prunes only one. Oracle recomputes
    from the unclustered source, proving the z-order round-trip is
    lossless."""
    zdf = zordered_events(spark, sf_dir)
    return (
        zdf.filter(
            F.col("user_id").between(_ZUID_LO, _ZUID_HI)
            & F.col("value_cents").between(_ZVC_LO, _ZVC_HI)
        ).agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("value_cents").cast("long").alias("sum_value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental materialized-view refresh: merge a delta, never rescan history
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Dynamic partition overwrite: surgical backfill of one day
# ---------------------------------------------------------------------------

_BF_DAY = "2024-01-10"


def _backfilled_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A daily-partitioned events copy where ONE day was later backfilled
    (values doubled — the 'corrected upstream data' scenario) using
    spark.sql.sources.partitionOverwriteMode=dynamic: the second write
    names no partitions explicitly and still replaces ONLY the day it
    contains, leaving every other day's files untouched."""

    def build(p: str) -> None:
        e = load_table(spark, sf_dir, "events")
        write_partitioned_daily(e, p)
        corrected = (
            e.filter(F.to_date("ts") == F.lit(_BF_DAY))
            .withColumn("value", F.col("value") * 2)
            .withColumn("event_date", F.to_date("ts"))
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                corrected.repartition(F.col("event_date"))
                .write.mode("overwrite")
                .partitionBy("event_date")
                .parquet(p)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    path = materialize_once(_layout_root(sf_dir, "events_backfill"), build)
    return spark.read.parquet(path)


@register(
    "dynamic_partition_backfill",
    tags=("layout", "backfill"),
    oracle=f"""
SELECT CAST(ts AS DATE) AS event_date,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))
                * CASE WHEN CAST(ts AS DATE) = DATE '{_BF_DAY}'
                       THEN 200 ELSE 100 END) AS BIGINT) AS sum_value_cents
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '{_BF_DAY}' - 1 AND DATE '{_BF_DAY}' + 1
GROUP BY 1
""",
)
def dynamic_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the three days around a surgically backfilled partition: the
    corrected day carries doubled values, its neighbors are bit-identical
    to the original write — proving partitionOverwriteMode=dynamic
    replaced exactly one directory. This is how 100 TB tables take
    corrections: a backfill job writes only the affected days and the
    overwrite scope is derived from the DATA, not from a hand-maintained
    partition list (mode=overwrite without dynamic would truncate the
    whole table). Oracle recomputes from the source with the correction
    applied as a CASE."""
    p = _backfilled_events(spark, sf_dir)
    lo = F.date_sub(F.lit(_BF_DAY).cast("date"), 1)
    hi = F.date_add(F.lit(_BF_DAY).cast("date"), 1)
    return (
        p.filter(F.col("event_date").between(lo, hi))
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value"))
            .cast("long")
            .alias("sum_value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction planning (next-fit bin packing as a window expr)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 150  # rows per output file (stand-in for 128 MB)

_COMPACT_ORACLE = f"""
WITH files AS (
  SELECT CAST(ts AS DATE) AS d, date_part('hour', ts) AS h,
         count(*) AS rows_in_file
  FROM events GROUP BY 1, 2
),
packed AS (
  SELECT d, h, rows_in_file,
         CAST(COALESCE(SUM(rows_in_file) OVER (
             PARTITION BY d ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) // {_COMPACT_TARGET} AS BIGINT) AS out_file
  FROM files
)
SELECT d, out_file,
       CAST(count(*) AS BIGINT) AS n_input_files,
       CAST(SUM(rows_in_file) AS BIGINT) AS out_rows
FROM packed GROUP BY d, out_file
"""


@register("compaction_next_fit_plan", tags=("LAYOUT-compact",), oracle=_COMPACT_ORACLE)
def compaction_next_fit_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLANNING as a deterministic window expression:
    treat each (day, hour) slice as an input file, walk files in hour order
    per day, and assign output-file ids by next-fit — out_file =
    floor(preceding-cumulative-rows / target). No driver-side greedy loop:
    the whole plan is one partitioned running sum, so planning compaction
    for a 100 TB table's million-file listing is itself a distributed
    query (the real-world shape: file metadata comes from the transaction
    log / listing, partitions plan independently and in parallel). The
    plan output feeds a repartitionByRange write downstream."""
    e = load_table(spark, sf_dir, "events")
    files = e.groupBy(
        F.col("ts").cast("date").alias("d"), F.hour("ts").alias("h")
    ).agg(F.count("*").alias("rows_in_file"))
    w = (
        Window.partitionBy("d")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = files.withColumn(
        "out_file",
        F.floor(
            F.coalesce(F.sum("rows_in_file").over(w), F.lit(0))
            / F.lit(_COMPACT_TARGET)
        ),
    )
    return packed.groupBy("d", "out_file").agg(
        F.count("*").alias("n_input_files"),
        F.sum("rows_in_file").alias("out_rows"),
    )
