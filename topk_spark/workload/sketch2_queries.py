"""Mergeable-aggregate + multi-grain reporting queries (SURVEY.md §2 A5-A10
extensions; Pinot analogs: DISTINCTCOUNTBITMAP, star-tree multi-grain
rollups, PERCENTILEEST, range predicates pinot/README.md:5).

Four operator families the round-1 surface did not yet register:

- `bitmap_distinct_ladder` — EXACT distinct, mergeable across tiers, via
  Spark 3.5+ roaring-style bitmap aggregates (`bitmap_construct_agg` /
  `bitmap_or_agg` / `bitmap_count`). The HLL ladder (ops/sketches.py) trades
  error for size; the bitmap ladder is the Pinot DISTINCTCOUNTBITMAP analog:
  exact, re-aggregable minute→hour→day without ever rescanning raw data.
  Scale: state per group is one bitmap per 32k-id bucket — bounded by id
  density, not row count; the hour merge reads ONLY the minute bitmaps.
- `grouping_sets_revenue` — one-pass multi-grain aggregation
  (`DataFrame.groupingSets`, Spark 4.0+): (type,hour) + (type) + grand total
  in a single shuffle, the query-time equivalent of the star-tree's
  pre-aggregated dimension combinations (A10).
- `approx_percentile_bound` — PERCENTILEEST analog: `percentile_approx`
  (Greenwald-Khanna, mergeable) checked against the exact interpolated
  percentile with a relative-error floor, same hard-signal pattern as
  recall_queries.py.
- `value_band_range_join` — non-equi range join of a broadcast band
  dimension onto the fact stream (Pinot range-index predicate analog).
  Plan: BroadcastNestedLoopJoin with a 4-row build side — the fact table
  never shuffles; at 100 TB this stays a map-side operation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register


def _metric_rows(agg_one_row: DataFrame, checks: list[tuple[str, Column]]) -> DataFrame:
    """One-row aggregate DF + named boolean checks → (metric, ok) rows."""
    structs = [
        F.struct(F.lit(name).alias("metric"), cond.alias("ok"))
        for name, cond in checks
    ]
    return agg_one_row.select(F.explode(F.array(*structs)).alias("m")).select(
        "m.metric", "m.ok"
    )


def _bounds_oracle(names: list[str]) -> str:
    """The oracle of `_metric_rows`: every named check true."""
    rows = ", ".join(f"('{n}', true)" for n in names)
    return f"SELECT * FROM (VALUES {rows}) AS t(metric, ok)"


# ---------------------------------------------------------------------------
# A6/A9: exact distinct that re-aggregates — the bitmap ladder
# ---------------------------------------------------------------------------

@register(
    "bitmap_distinct_ladder",
    oracle="""
SELECT event_type,
       CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS window_start,
       CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events
GROUP BY event_type, date_trunc('hour', ts)
""",
    tags=("sketch", "rollup"),
)
def bitmap_distinct_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per (event_type, hour), computed the tiered way:
    minute-grain bitmaps built once, hour grain derived by bitmap OR-merge —
    never re-reading raw rows. DISTINCTCOUNTBITMAP semantics
    (orders_1m_rollup_table.json:15-45 declares the rollup tiers this feeds).

    The oracle is the direct exact distinct — if the merge were lossy or the
    bucket math wrong, the hash check fails."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("minute", "ts").alias("minute_ts"),
        "user_id",
    )
    # Tier 1: one bitmap per (group, minute, 32k-id bucket).
    minute_bitmaps = e.groupBy(
        "event_type",
        "minute_ts",
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    # Tier 2: hour grain = OR-merge of the minute bitmaps (bucket-aligned).
    hour_bitmaps = minute_bitmaps.groupBy(
        "event_type",
        F.date_trunc("hour", "minute_ts").alias("hour_ts"),
        "bucket",
    ).agg(F.bitmap_or_agg("bm").alias("bm"))
    return (
        hour_bitmaps.groupBy("event_type", "hour_ts")
        .agg(F.sum(F.bitmap_count("bm")).alias("distinct_users"))
        .select(
            "event_type",
            F.unix_millis("hour_ts").alias("window_start"),
            F.col("distinct_users").cast("long").alias("distinct_users"),
        )
    )


# ---------------------------------------------------------------------------
# A10: one-pass multi-grain aggregation (star-tree query-time analog)
# ---------------------------------------------------------------------------

@register(
    "grouping_sets_revenue",
    oracle="""
SELECT event_type,
       CAST(hour(ts) AS INT) AS hour_of_day,
       CAST(GROUPING(event_type, hour(ts)) AS BIGINT) AS gid,
       CAST(SUM(CAST(CAST(json_extract(props, '$.k') AS INT) AS BIGINT)
                * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS revenue_cents,
       count(*) AS order_count
FROM events
GROUP BY GROUPING SETS ((event_type, hour(ts)), (event_type), ())
""",
    tags=("olap",),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three grains — (type,hour), (type), grand total — in ONE shuffle via
    GROUPING SETS, with `grouping_id` disambiguating the null group keys.
    This is the query-time form of the star-tree's pre-materialized dimension
    combinations (A10, orders_1m_rollup_table.json star-tree config)."""
    e = load_table(spark, sf_dir, "events")
    es = e.select(
        "event_type",
        F.hour("ts").cast("int").alias("hour_of_day"),
        (
            F.get_json_object("props", "$.k").cast("int").cast("long")
            * cents("value")
        ).alias("rev"),
    )
    return (
        es.groupingSets(
            [["event_type", "hour_of_day"], ["event_type"], []],
            "event_type",
            "hour_of_day",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("rev").cast("long").alias("revenue_cents"),
            F.count("*").alias("order_count"),
        )
        .select(
            "event_type", "hour_of_day", "gid", "revenue_cents", "order_count"
        )
    )


# ---------------------------------------------------------------------------
# A7 variant: mergeable approximate percentiles with a hard error floor
# ---------------------------------------------------------------------------

_PCTS = [0.5, 0.95, 0.99]
_ACCURACY = 10_000
# GK guarantee: returned element's rank is within eps*n of p*n, eps=1/accuracy.
# Add an element-granularity allowance (ranks move in 1/n steps, and ties on
# the returned value inflate count(<=) by the tie width).
_RANK_EPS = 1.0 / _ACCURACY


@register(
    "approx_percentile_bound",
    oracle=_bounds_oracle(
        [f"p{int(p * 100)}_rank_err_ok" for p in _PCTS] + ["n_groups_ge_3"]
    ),
    tags=("sketch", "bound"),
)
def approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`percentile_approx` (Greenwald-Khanna sketch — mergeable, bounded
    memory; the PERCENTILEEST analog) checked against its actual guarantee:
    the returned element's RANK in the group is within eps·n + granularity
    of p·n (value-space relative error is meaningless at small n, where the
    gap between adjacent order statistics dominates). Emits (metric, ok)
    rows; the oracle is the bound itself (recall_queries.py pattern).

    Scale: the GK sketch is O(accuracy) per group regardless of row count —
    the exact percentile needs a full sort per group. At 100 TB only the
    sketch path is viable; this query proves its rank error stays bounded.
    The rank probe is a broadcast join of (groups × percentiles) rows onto
    the fact scan — map-side, no fact shuffle beyond the final agg."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    approx = e.groupBy("event_type").agg(
        F.percentile_approx("value", _PCTS, _ACCURACY).alias("approx")
    )
    probes = approx.select(
        "event_type",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(p) for p in _PCTS]).alias("p"),
                F.col("approx").alias("aval"),
            )
        ).alias("z"),
    ).select("event_type", F.col("z.p").alias("p"), F.col("z.aval").alias("aval"))
    ranked = (
        e.join(F.broadcast(probes), "event_type")
        .groupBy("event_type", "p")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("value") <= F.col("aval")).cast("long")).alias("rank_le"),
            F.sum((F.col("value") < F.col("aval")).cast("long")).alias("rank_lt"),
        )
        # rank error = distance from the target rank p*n to the CLOSEST rank
        # the returned element occupies (ties span [rank_lt+1, rank_le]).
        .select(
            "event_type",
            "p",
            "n",
            F.greatest(
                F.lit(0.0),
                F.greatest(
                    (F.col("rank_lt") + 1) - F.col("p") * F.col("n"),
                    F.col("p") * F.col("n") - F.col("rank_le"),
                )
                / F.col("n"),
            ).alias("rank_err"),
        )
    )
    agg = ranked.groupBy().pivot("p", _PCTS).agg(
        F.min(  # every group must satisfy the bound
            (F.col("rank_err") <= F.lit(_RANK_EPS) + 2.0 / F.col("n")).cast("int")
        )
    ).crossJoin(
        F.broadcast(
            ranked.select("event_type").distinct().agg(F.count("*").alias("ng"))
        )
    )
    checks = [
        (f"p{int(p * 100)}_rank_err_ok", F.col(f"`{p}`") == 1) for p in _PCTS
    ] + [("n_groups_ge_3", F.col("ng") >= F.lit(3))]
    return _metric_rows(agg, checks)


# ---------------------------------------------------------------------------
# Range predicate as a broadcast non-equi join (range-index analog)
# ---------------------------------------------------------------------------

_BANDS = [
    ("micro", 0.0, 50.0),
    ("small", 50.0, 100.0),
    ("mid", 100.0, 200.0),
    ("large", 200.0, 1e9),
]


@register(
    "value_band_range_join",
    oracle="""
SELECT b.band,
       count(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2)) * 100) AS BIGINT)
         AS sum_value_cents
FROM events e
JOIN (VALUES ('micro', 0.0, 50.0), ('small', 50.0, 100.0),
             ('mid', 100.0, 200.0), ('large', 200.0, 1e9))
     AS b(band, lo, hi)
  ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
""",
    tags=("join", "range"),
)
def value_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band the fact stream by a value-range dimension via a non-equi join.
    The band table is 4 rows → Spark broadcasts it and evaluates the range
    predicate map-side (BroadcastNestedLoopJoin with a broadcast build):
    the fact side NEVER shuffles for the join, only for the final per-band
    aggregate (4 groups). The Pinot analog is a range-indexed predicate
    (orders_raw_upsert_table.json:19-38 declares rangeIndexColumns)."""
    e = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, ["band", "lo", "hi"])
    joined = e.join(
        F.broadcast(bands),
        (e.value >= bands.lo) & (e.value < bands.hi),
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("n_events"),
        F.sum(cents("value"))
        .cast("long")
        .alias("sum_value_cents"),
    )
