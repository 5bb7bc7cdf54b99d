"""Reference-parity operators over the `events` stream table.

Per FIXTURES.md §4 the driver's `events` table is the stand-in for the
reference's order stream: `user_id`→customer, `event_type`→menu-item analog,
`value`→price (dollars), `props.k` (JSON)→quantity. Money is converted to
integer cents exactly as the reference mandates (README.md:15 "integer cents,
never floating point") via an exact decimal(18,2) cast, so every revenue
aggregate is 64-bit integer math — deterministic at any parallelism.

Each query cites the SURVEY.md §2 operator IDs it covers.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.ops.dedup import dedup_first_seen
from topk_spark.ops.money import cents
from topk_spark.ops.rollup import merge_rollup, windowed_rollup
from topk_spark.ops.sketches import exact_distinct
from topk_spark.ops.timeparts import floor_to_window_ms
from topk_spark.ops.topk import global_topk, rank_topk
from topk_spark.workload import register

# ---------------------------------------------------------------------------
# The "order stream" projection (P1 JSON parse + S8 ingest transform + P5
# widen-first revenue arithmetic), shared by all queries below.
# ---------------------------------------------------------------------------

def order_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → typed order stream: quantity from props JSON (P1), price in
    exact integer cents (S8), revenue = widened quantity×price (P5)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("quantity"),
        cents("value").alias("price_cents"),
    ).withColumn(
        "revenue_cents",
        (F.col("quantity").cast("long") * F.col("price_cents")).cast("long"),
    )


# The oracle side of `ops.money.cents` over the events `value` column.
CENTS_SQL = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"

# Same projection as a DuckDB CTE, spliced into every oracle.
_ES = f"""
es AS (
  SELECT event_id, ts, user_id, event_type,
         CAST(json_extract(props, '$.k') AS INT) AS quantity,
         {CENTS_SQL} AS price_cents,
         CAST(CAST(json_extract(props, '$.k') AS INT) AS BIGINT)
           * {CENTS_SQL} AS revenue_cents
  FROM events
)
"""


def exact_percentiles_sql(src: str) -> str:
    """Oracle tail over a CTE `src` of (event_type, revenue_cents) rows: per
    type the row count and the exact ceil(p·n/100)-th order statistic for
    p = 50, 90, 99, in INTEGER rank arithmetic ((n*p + 99) // 100 — DuckDB
    // is floor division, both operands non-negative) so the two engines
    cannot disagree on a float boundary."""
    return f"""o AS (
  SELECT event_type, revenue_cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY revenue_cents) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM {src}
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
       CAST(MIN(CASE WHEN rn = (n * 50 + 99) // 100 THEN revenue_cents END)
            AS BIGINT) AS p50_cents,
       CAST(MIN(CASE WHEN rn = (n * 90 + 99) // 100 THEN revenue_cents END)
            AS BIGINT) AS p90_cents,
       CAST(MIN(CASE WHEN rn = (n * 99 + 99) // 100 THEN revenue_cents END)
            AS BIGINT) AS p99_cents
FROM o GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Flagship: "Top 10 by revenue, last 24h, over raw events"
# (pinot/README.md:5 sample; A4 + F1/P9 + K4/K6)
# ---------------------------------------------------------------------------

@register(
    "topk_revenue_raw_24h",
    headline=True,
    tags=("A4", "K4", "K6", "P9"),
    oracle=f"""
WITH {_ES},
mx AS (SELECT max(ts) AS mts FROM es),
f AS (SELECT es.* FROM es, mx WHERE es.ts >= mx.mts - INTERVAL 24 HOUR),
g AS (
  SELECT event_type, user_id,
         CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents,
         CAST(SUM(quantity) AS BIGINT) AS total_quantity,
         count(*) AS order_count
  FROM f GROUP BY event_type, user_id
)
SELECT event_type, user_id, revenue_cents, total_quantity, order_count,
       CAST(row_number() OVER
            (ORDER BY revenue_cents DESC, event_type ASC, user_id ASC) AS INT) AS rank
FROM g
ORDER BY rank
LIMIT 10
""",
)
def topk_revenue_raw_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time top-10 by revenue over the raw table, last 24h relative to
    the stream head (A4; relative predicate P9 — anchored at max(ts) because
    testdata is fixed in time). TakeOrderedAndProject gives the distributed
    bounded heap (K6).

    Building the DataFrame runs one Spark job: the scalar ``max(ts)`` that
    anchors the window. Re-executing the returned DataFrame reuses that
    frozen cutoff; rows appended later do not move it, so call this function
    again for a fresh window."""
    es = order_stream(spark, sf_dir)
    # Round-14 (guide §6 / VERDICT #6): the stream-head anchor is collected
    # as ONE bounded scalar (tz-free unix micros — robust under any driver
    # session timezone) instead of broadcast-joined, so the 24 h cut becomes
    # a LITERAL predicate. That moves the filter BELOW the JSON-parse
    # projection (the old BroadcastNestedLoopJoin form parsed `props` for
    # every row, then dropped 96.6 % of them) and gives the scan a pushable
    # time predicate — at 100 TB with time-sorted/partitioned layout this is
    # row-group/partition pruning instead of a full decode. The anchor read
    # itself stays a one-column scan (runs inside the timed query path).
    # Semantics identical: INTERVAL 24 HOURS is exact µs arithmetic, and
    # ts >= timestamp_micros(max_us − 86 400 000 000) ⟺ the old
    # ts >= mts − INTERVAL 24 HOURS.
    mts_us = es.agg(F.unix_micros(F.max("ts"))).collect()[0][0]
    if mts_us is None:  # empty table: the old join form emitted no rows
        f = es.filter(F.lit(False))
    else:
        f = es.filter(
            F.col("ts")
            >= F.timestamp_micros(F.lit(mts_us - 24 * 3600 * 1_000_000))
        )
    g = f.groupBy("event_type", "user_id").agg(
        F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        F.sum("quantity").cast("long").alias("total_quantity"),
        F.count("*").alias("order_count"),
    )
    order = [F.desc("revenue_cents"), F.asc("event_type"), F.asc("user_id")]
    return global_topk(g, order, 10, sentinel_col=None).orderBy("rank")


# ---------------------------------------------------------------------------
# 1-minute rollup (A1+A2 core pipeline aggregate; P7 window alignment,
# P8 time derivations, A6 exact distinct)
# ---------------------------------------------------------------------------

@register(
    "rollup_1m",
    headline=True,
    tags=("A1", "A2", "A6", "P7", "P8", "G2", "T3"),
    oracle=f"""
WITH {_ES}
SELECT event_type,
       CAST(epoch_ms(date_trunc('minute', ts)) AS BIGINT) AS window_start,
       CAST(epoch_ms(date_trunc('minute', ts)) + 60000 AS BIGINT) AS window_end,
       CAST(hour(date_trunc('minute', ts)) AS INT) AS hour_of_day,
       CAST(isodow(date_trunc('minute', ts)) AS INT) AS day_of_week,
       CAST(SUM(quantity) AS BIGINT) AS sum_quantity,
       CAST(SUM(revenue_cents) AS BIGINT) AS sum_revenue_cents,
       count(*) AS order_count,
       CAST(count(DISTINCT user_id) AS BIGINT) AS unique_customers
FROM es
GROUP BY event_type, date_trunc('minute', ts)
""",
)
def rollup_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-minute tumbling rollup per item analog — the RollupEvent grain
    (TopKStreamingJob.kt:59-72): sums, count, exact distinct customers,
    hour/ISO-dow derivations from the window start."""
    es = order_stream(spark, sf_dir)
    return windowed_rollup(
        es,
        "ts",
        ["event_type"],
        [
            F.sum("quantity").cast("long").alias("sum_quantity"),
            F.sum("revenue_cents").cast("long").alias("sum_revenue_cents"),
            F.count("*").alias("order_count"),
            exact_distinct("user_id").alias("unique_customers"),
        ],
        "1 minute",
    )


@register(
    "merge_rollup_1h",
    tags=("A9", "A5"),
    oracle=f"""
WITH {_ES},
r1m AS (
  SELECT event_type,
         CAST(epoch_ms(date_trunc('minute', ts)) AS BIGINT) AS window_start,
         CAST(SUM(quantity) AS BIGINT) AS sum_quantity,
         CAST(SUM(revenue_cents) AS BIGINT) AS sum_revenue_cents,
         count(*) AS order_count
  FROM es GROUP BY event_type, date_trunc('minute', ts)
)
SELECT CAST(window_start - window_start % 3600000 AS BIGINT) AS window_start,
       CAST(window_start - window_start % 3600000 + 3600000 AS BIGINT) AS window_end,
       event_type,
       CAST(SUM(sum_quantity) AS BIGINT) AS sum_quantity,
       CAST(SUM(sum_revenue_cents) AS BIGINT) AS sum_revenue_cents,
       CAST(SUM(order_count) AS BIGINT) AS order_count
FROM r1m
GROUP BY 1, 2, event_type
""",
)
def merge_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-rollup compaction (A9, Pinot MergeRollupTask analog): 1-minute
    rollups re-bucketed into 1-hour windows by summing sums — the middle tier
    of the pre-aggregation ladder (SURVEY §4.2)."""
    es = order_stream(spark, sf_dir)
    r1m = windowed_rollup(
        es,
        "ts",
        ["event_type"],
        [
            F.sum("quantity").cast("long").alias("sum_quantity"),
            F.sum("revenue_cents").cast("long").alias("sum_revenue_cents"),
            F.count("*").alias("order_count"),
        ],
        "1 minute",
    ).drop("hour_of_day", "day_of_week", "window_end")
    return merge_rollup(
        r1m,
        ["event_type"],
        ["sum_quantity", "sum_revenue_cents", "order_count"],
        target_window_ms=3_600_000,
    )


# ---------------------------------------------------------------------------
# Top-K family (K1-K5) and grouping (G3/G4)
# ---------------------------------------------------------------------------

@register(
    "topk_per_key",
    headline=True,
    tags=("K1", "K2", "G3"),
    oracle=f"""
WITH {_ES},
g AS (
  SELECT event_type, user_id,
         CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents,
         count(*) AS order_count
  FROM es GROUP BY event_type, user_id
),
r AS (
  SELECT *, CAST(row_number() OVER
         (PARTITION BY event_type
          ORDER BY revenue_cents DESC, user_id ASC) AS INT) AS rank
  FROM g
)
SELECT event_type, user_id, revenue_cents, order_count, rank
FROM r WHERE rank <= 5
""",
)
def topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key ranked top-k (K1/K2 — the reference's per-restaurant top-k,
    KafkaConsumerTopKJob.kt:243-272): rank users 1..5 within each event_type
    by revenue, deterministic tiebreak on user_id."""
    es = order_stream(spark, sf_dir)
    g = es.groupBy("event_type", "user_id").agg(
        F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        F.count("*").alias("order_count"),
    )
    return rank_topk(
        g, ["event_type"], [F.desc("revenue_cents"), F.asc("user_id")], 5
    ).select("event_type", "user_id", "revenue_cents", "order_count", "rank")


# ---------------------------------------------------------------------------
# Filters / projections / scalar derivations (F1-F4, P7-P9)
# ---------------------------------------------------------------------------

@register(
    "filter_eq_project",
    tags=("F1", "P3"),
    oracle="""
SELECT event_id, user_id, value
FROM events
WHERE event_type = 'purchase'
""",
)
def filter_eq_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality filter + projection (F1/P3, QueryService.kt:55) — pushed down
    to the parquet scan (PushedFilters + 3-column ReadSchema)."""
    e = load_table(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )


# ---------------------------------------------------------------------------
# Dedup (D1/D3 batch semantics) and distinct counts (A6/A7)
# ---------------------------------------------------------------------------

@register(
    "dedup_first_seen",
    tags=("D1", "D3", "G1"),
    oracle=f"""
WITH {_ES},
b AS (
  SELECT es.*, CAST(floor(epoch_ms(ts) / 60000) * 60000 AS BIGINT) AS bucket,
         row_number() OVER (
           PARTITION BY user_id, event_type,
                        CAST(floor(epoch_ms(ts) / 60000) * 60000 AS BIGINT)
           ORDER BY ts ASC, event_id ASC) AS rn
  FROM es
)
SELECT event_type, count(*) AS survivors,
       CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents
FROM b WHERE rn = 1
GROUP BY event_type
""",
)
def dedup_first_seen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen-wins dedup (D1/D3): at most one event per
    (user, item, minute), earliest by (ts, event_id) survives — the batch
    analog of Flink ValueState dedup (TopKStreamingJob.kt:87-119)."""
    es = order_stream(spark, sf_dir).withColumn(
        "bucket", floor_to_window_ms("ts", 60_000)
    )
    d = dedup_first_seen(
        es,
        ["user_id", "event_type", "bucket"],
        [F.col("ts").asc(), F.col("event_id").asc()],
    )
    return d.groupBy("event_type").agg(
        F.count("*").alias("survivors"),
        F.sum("revenue_cents").cast("long").alias("revenue_cents"),
    )


@register(
    "revenue_by_hour",
    tags=("A5", "P8", "P10"),
    oracle=f"""
WITH {_ES},
r1m AS (
  SELECT event_type,
         CAST(hour(date_trunc('minute', ts)) AS INT) AS hour_of_day,
         CAST(SUM(revenue_cents) AS BIGINT) AS sum_revenue_cents,
         count(*) AS order_count
  FROM es GROUP BY event_type, date_trunc('minute', ts)
)
SELECT hour_of_day,
       CAST(SUM(sum_revenue_cents) AS BIGINT) AS revenue_cents,
       CAST(CAST(SUM(sum_revenue_cents) AS DOUBLE) / 100.0 AS DOUBLE)
         AS revenue_dollars,
       CAST(SUM(order_count) AS BIGINT) AS order_count
FROM r1m
GROUP BY hour_of_day
ORDER BY hour_of_day
""",
)
def revenue_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's "Revenue by Hour" sample (pinot/README.md:5): group
    the rollup tier's hour_of_day dimension, re-aggregating stored sums (A5)
    — a star-tree-prefix query answered without touching raw events; cents →
    display dollars (P10)."""
    es = order_stream(spark, sf_dir)
    r1m = windowed_rollup(
        es,
        "ts",
        ["event_type"],
        [
            F.sum("revenue_cents").cast("long").alias("sum_revenue_cents"),
            F.count("*").alias("order_count"),
        ],
        "1 minute",
    )
    return (
        r1m.groupBy("hour_of_day")
        .agg(
            F.sum("sum_revenue_cents").cast("long").alias("revenue_cents"),
            (F.sum("sum_revenue_cents").cast("double") / 100.0).alias(
                "revenue_dollars"
            ),
            F.sum("order_count").cast("long").alias("order_count"),
        )
        .orderBy("hour_of_day")
    )
