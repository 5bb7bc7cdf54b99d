"""Bottom-k family: KMV distinct sketches and continuous priority
sampling — round-8 additions.

Two gaps these close:

1. The approx-distinct surface (reference declares sketch distincts on
   its rollup schema, orders_1m_rollup_schema.json:50-53) was HLL-only —
   correct, but its driver gates are error-BOUND checks because no SQL
   engine replays Datasketches registers. KMV (`ops/kmv.py`) is the
   deterministic sketch: DuckDB reproduces the k-minimum-values estimator
   bit-for-bit, so the estimator itself sits under the hash gate, and the
   merge path (union of per-group sketches -> global sketch) is pinned
   EQUAL to the direct path, not just close to it. That's the sketch
   property 100 TB actually relies on: per-partition/per-day sketches
   merged later must answer exactly like one big scan.

2. The sampling surface was batch-only. `stream_priority_sample_drain`
   keeps `weighted_priority_sample`'s DLT sample as streaming state
   (streaming/priority_sample.py): m rows per source, maintained as the
   crawl lands. Arrival-order invariance makes the batch SQL the oracle
   verbatim; cross-batch state continuity is load-bearing because the
   md5 priorities are independent of the doc_id tiling, so every tile
   contributes winners — a state reset leaves only last-tile docs (the
   counterfactual in tests/test_bottomk.py measures the loss).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.ops.kmv import SCALE, bottom_k_distinct, kmv_estimate, u48_expr
from topk_spark.workload import register
from topk_spark.workload.sampling_queries import (
    PRIORITY_Q_CTE,
    dlt_priority_projection,
)
from topk_spark.workload.drain import drain, range_tile

_K = 64

# DuckDB twin of ops/kmv.py's hashing: distinct 48-bit hashes of the
# (user, utc-day) string per event type.
_UD_HASHES = """
h AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5(
           CAST(user_id AS VARCHAR) || ':' ||
           CAST(CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) AS VARCHAR)
         ), 1, 12) AS BIGINT) AS u
  FROM events
)
"""


def _ud_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = F.concat_ws(
        ":", F.col("user_id"), F.floor(F.unix_millis("ts") / 86400000)
    )
    return ev.select("ts", "event_type", u48_expr(ud).alias("u"))


# Shared verbatim by the batch query, the streaming drain, and the
# streaming restart drain: the KMV state is a pure function of the row
# SET (order-, batch-, replay-, and restart-invariant), so one oracle
# gates all three paths.
_KMV_TYPE_ORACLE = f"""
WITH {_UD_HASHES},
r AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM h
)
SELECT event_type,
       CAST(CASE WHEN count(*) < {_K} THEN count(*)
            ELSE ({(_K - 1) * SCALE} // greatest(max(u), 1)) END
       AS BIGINT) AS est_distinct
FROM r WHERE rn <= {_K}
GROUP BY event_type
"""


@register(
    "kmv_distinct_userdays",
    tags=("A7", "A8", "sketch"),
    oracle=_KMV_TYPE_ORACLE,
)
def kmv_distinct_userdays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV estimate of distinct (user, day) pairs per event type, k=64.

    The Spark plan is the TWO-LEVEL merge (per-bucket local sketches, then
    bottom-k of the <= k*32 survivors — ops/kmv.py); the oracle computes
    the DIRECT single-pass sketch. Hash-match therefore certifies the
    mergeability identity on real data, which is the property that lets
    per-partition sketches at 100 TB be combined without re-scanning."""
    sk = bottom_k_distinct(
        _ud_hashed(spark, sf_dir), ["event_type"], "u", k=_K, pre_buckets=32
    )
    return kmv_estimate(sk, ["event_type"], "u", k=_K)


@register(
    "kmv_union_distinct",
    tags=("A7", "A8", "sketch"),
    oracle=f"""
WITH {_UD_HASHES},
g AS (SELECT DISTINCT u FROM h),
r AS (SELECT u, row_number() OVER (ORDER BY u) AS rn FROM g)
SELECT CAST(CASE WHEN count(*) < {_K} THEN count(*)
            ELSE ({(_K - 1) * SCALE} // greatest(max(u), 1)) END
       AS BIGINT) AS est_distinct
FROM r WHERE rn <= {_K}
""",
)
def kmv_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (user, day) pairs across ALL event types, answered by
    MERGING the five per-type KMV sketches (bottom-k over the union of
    their k-value sets) — the set-union read path a rollup store serves
    without touching raw data. The oracle is the direct global sketch;
    equality is exact (every global bottom-k hash survives each per-type
    sketch that contains it), so this pins cross-SET mergeability where
    `kmv_distinct_userdays` pins cross-PARTITION mergeability."""
    per_type = bottom_k_distinct(
        _ud_hashed(spark, sf_dir), ["event_type"], "u", k=_K, pre_buckets=32
    )
    merged = per_type.select("u").distinct().withColumn("_g", F.lit(0))
    global_sk = bottom_k_distinct(merged, ["_g"], "u", k=_K, pre_buckets=1)
    return kmv_estimate(global_sk, ["_g"], "u", k=_K).drop("_g")


# ---------------------------------------------------------------------------
# Continuous weighted priority sample
# ---------------------------------------------------------------------------

_M_PER_SOURCE = 5


# the engine-side projection is sampling_queries.dlt_priority_projection —
# one formula shared with the batch sample (review finding: no re-inlined
# DLT math anywhere)
_with_priority = dlt_priority_projection


_SAMPLE_ORACLE = f"""
WITH {PRIORITY_Q_CTE},
r AS (
  SELECT source, doc_id, w, priority,
         row_number() OVER (
           PARTITION BY source ORDER BY priority DESC, doc_id
         ) AS rn
  FROM q
)
SELECT source, doc_id, CAST(w AS BIGINT) AS weight,
       CAST(priority AS BIGINT) AS priority
FROM r WHERE rn <= {_M_PER_SOURCE}
"""


def _priority_sample_drain(
    spark: SparkSession, sf_dir: str, restart_after: int | None = None
) -> DataFrame:
    from topk_spark.streaming.priority_sample import streaming_priority_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return drain(
        spark,
        range_tile(docs, "doc_id", 3),
        lambda s: streaming_priority_sample(_with_priority(s), m=_M_PER_SOURCE),
        output_mode="update",
        last_per=["source"],
        tiles=3,
        restart_after=restart_after,
    )


@register(
    "stream_priority_sample_drain",
    tags=("sampling", "T8", "streaming"),
    oracle=_SAMPLE_ORACLE,
)
def stream_priority_sample_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the continuous priority sampler over the documents table split
    into 3 doc_id-ordered micro-batches: per source, the top-5 priority
    sample maintained as streaming state. The oracle is the BATCH top-5
    per source — valid precisely because the operator's state makes the
    answer arrival-order invariant. Continuity is load-bearing: md5
    scrambles doc_id order, so winners come from all three tiles; a
    per-batch state reset would emit the last tile's local top-5 instead
    (measured divergence pinned in tests/test_bottomk.py)."""
    return _priority_sample_drain(spark, sf_dir)


@register(
    "stream_priority_sample_restart_drain",
    tags=("sampling", "T8", "streaming"),
    oracle=_SAMPLE_ORACLE,
)
def stream_priority_sample_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint-restart twin of `stream_priority_sample_drain` (the
    round-8 restart-drain pattern): generation 1 sees only the first
    doc_id tile, terminates, and a freshly built query restores the
    per-source sample state from the checkpoint alone before processing
    the rest. Shares the batch oracle verbatim — tile-0 winners are in
    the final sample only if they survived the restart inside state."""
    return _priority_sample_drain(spark, sf_dir, restart_after=1)


# ---------------------------------------------------------------------------
# Continuous KMV distinct
# ---------------------------------------------------------------------------


def _kmv_drain(spark: SparkSession, sf_dir: str, restart_after=None) -> DataFrame:
    from topk_spark.ops.kmv import kmv_estimate
    from topk_spark.streaming.kmv_stream import streaming_kmv_sketch

    drained = drain(
        spark,
        range_tile(_ud_hashed(spark, sf_dir), "ts", 3),
        lambda s: streaming_kmv_sketch(s, k=_K),
        output_mode="update",
        last_per=["event_type"],
        tiles=3,
        restart_after=restart_after,
    )
    return kmv_estimate(drained, ["event_type"], "u", k=_K)


@register(
    "stream_kmv_distinct_drain",
    tags=("A7", "A8", "T8", "sketch", "streaming"),
    oracle=_KMV_TYPE_ORACLE,
)
def stream_kmv_distinct_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sketch as CONTINUOUS state: per-type bottom-64 distinct
    hashes maintained across 3 event-time-ordered micro-batches, estimated
    from the drained final state. Where `stream_hll_distinct_drain` can
    only gate an error bound (opaque registers), this shares the BATCH
    query's oracle verbatim — the state is a pure function of the row set,
    so arrival order and batch boundaries cannot move a single value.
    Continuity is load-bearing: md5 spreads small hashes uniformly over
    the event-time tiles, so a per-batch state reset leaves the last
    tile's bottom-k (kth min ~3x larger, estimate ~1/3 of truth) and fails
    the hash (counterfactual pinned in tests/test_bottomk.py)."""
    return _kmv_drain(spark, sf_dir)


@register(
    "stream_kmv_distinct_restart_drain",
    tags=("A7", "A8", "T8", "sketch", "streaming"),
    oracle=_KMV_TYPE_ORACLE,
)
def stream_kmv_distinct_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint-restart twin of `stream_kmv_distinct_drain`: generation
    1 sees only the first event-time tile, and the restarted query must
    restore each type's retained minima from the checkpoint — tile-0
    hashes are ~1/3 of every final bottom-64, so state loss moves the kth
    min and fails the shared oracle's value hash."""
    return _kmv_drain(spark, sf_dir, restart_after=1)


# ---------------------------------------------------------------------------
# Sketch-rollup re-aggregation: weekly distinct from daily sketches
# ---------------------------------------------------------------------------

_KW = 32  # smaller k: the weekly estimator regime engages at sf>=0.01
# while daily/weekly groups at sf0.001 stay in the exact-count fallback —
# both estimator branches exercised across the gate's scales.


@register(
    "kmv_weekly_from_daily",
    tags=("A5", "A7", "A9", "sketch"),
    oracle=f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(floor(epoch_ms(ts) / 86400000) AS BIGINT) // 7 AS week,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT)
           AS u
  FROM events
),
r AS (
  SELECT event_type, week, u,
         row_number() OVER (PARTITION BY event_type, week ORDER BY u) AS rn
  FROM h
)
SELECT event_type, week,
       CAST(CASE WHEN count(*) < {_KW} THEN count(*)
            ELSE ({(_KW - 1) * SCALE} // greatest(max(u), 1)) END
       AS BIGINT) AS est_distinct
FROM r WHERE rn <= {_KW}
GROUP BY event_type, week
""",
)
def kmv_weekly_from_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users per event type computed ONLY from DAILY
    bottom-k sketches — the sketch form of merge-rollup re-aggregation
    (A5/A9: Pinot re-rolls 1-min rows into 1-h buckets merging HLL
    columns, orders_1m_rollup_table.json:72-84). The Spark path builds
    the per-(type, day) sketch table first, then merges the 7 daily
    sketches of each week into the weekly estimate; the oracle computes
    the DIRECT weekly sketch over raw rows. Hash equality certifies the
    rollup-store contract at its sharpest: a sketch column materialized
    at fine grain answers coarse-grain distinct queries EXACTLY as a raw
    rescan would — which is why the 100 TB store never rescans raw data
    for a distinct count."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        F.floor(F.unix_millis("ts") / 86400000).alias("day"),
        u48_expr(F.col("user_id")).alias("u"),
    )
    daily = bottom_k_distinct(h, ["event_type", "day"], "u", k=_KW)
    weekly_rows = daily.select(
        "event_type", F.expr("day div 7").alias("week"), "u"
    )
    weekly = bottom_k_distinct(
        weekly_rows, ["event_type", "week"], "u", k=_KW, pre_buckets=1
    )
    return kmv_estimate(weekly, ["event_type", "week"], "u", k=_KW)


# ---------------------------------------------------------------------------
# Sketch SET ALGEBRA: Jaccard / intersection estimated from bottom-k
# sketches alone (Beyer et al. 2007 §4: the k-min merge is closed under
# union, and match-counting within the merged sketch estimates overlap)
# ---------------------------------------------------------------------------

_USER_HASHES = """
uh AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT)
           AS u
  FROM events
)
"""

_KMV_JACCARD_ORACLE = f"""
WITH {_USER_HASHES},
sk AS (
  SELECT event_type, u FROM (
    SELECT event_type, u,
           row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
    FROM uh) WHERE rn <= {_K}
),
ty AS (SELECT DISTINCT event_type FROM uh),
pr AS (SELECT x.event_type AS type_a, y.event_type AS type_b
       FROM ty x JOIN ty y ON x.event_type < y.event_type),
mu AS (SELECT DISTINCT pr.type_a, pr.type_b, s.u
       FROM pr JOIN sk s
         ON s.event_type = pr.type_a OR s.event_type = pr.type_b),
mr AS (
  SELECT type_a, type_b, u FROM (
    SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY u) AS rn
    FROM mu) WHERE rn <= {_K}
),
st AS (
  SELECT mr.type_a, mr.type_b, count(*) AS k_used, max(mr.u) AS kth,
         CAST(SUM(CASE WHEN a.u IS NOT NULL AND b.u IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS matches
  FROM mr
  LEFT JOIN sk a ON a.event_type = mr.type_a AND a.u = mr.u
  LEFT JOIN sk b ON b.event_type = mr.type_b AND b.u = mr.u
  GROUP BY mr.type_a, mr.type_b)
SELECT type_a, type_b,
       CAST(CASE WHEN k_used < {_K} THEN k_used
            ELSE {(_K - 1) * SCALE} // greatest(kth, 1) END AS BIGINT)
         AS union_est,
       matches, k_used,
       CAST(matches * 1000000 // k_used AS BIGINT) AS jaccard_ppm,
       CAST(matches * (CASE WHEN k_used < {_K} THEN k_used
                       ELSE {(_K - 1) * SCALE} // greatest(kth, 1) END)
            // k_used AS BIGINT) AS intersect_est
FROM st
"""


@register(
    "kmv_jaccard_types",
    tags=("A7", "A8", "sketch", "setstats"),
    oracle=_KMV_JACCARD_ORACLE,
)
def kmv_jaccard_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap (Jaccard / intersection cardinality) between every
    pair of event types, estimated from the per-type bottom-k user
    sketches ALONE — sketch set algebra, the capability the union query
    (`kmv_union_distinct`) proves for |A ∪ B| extended to |A ∩ B|:
    merge the two sketches (bottom-k of the union, closed under k-min),
    count merged hashes present in BOTH input sketches, and scale —
    jaccard ≈ matches / k', intersection ≈ jaccard × union_est (Beyer et
    al. 2007 "On synopses for distinct-value estimation under multiset
    operations"). Everything is BIGINT on a deterministic 48-bit hash, so
    the DuckDB oracle replays the estimator bit-for-bit — the hash gate
    certifies the set-algebra arithmetic itself, not an error bound. Two
    regimes both exercised across the gate's scales: k_used < k means the
    merged sketch saw the whole union (exact intersection); k_used = k is
    the genuinely approximate regime.

    100 TB posture: only the sketch build touches raw data
    (`bottom_k_distinct`: map-side codegen hash, hash-agg distinct,
    per-bucket local bottom-k — no global sort, ≤ k rows per group out);
    the pairwise algebra runs on n_types × k rows. Estimating overlap of
    two 10-billion-user audiences costs two 64-row sketches and a 128-row
    merge — the reason the rollup store materializes sketch columns
    instead of user lists (reference's sketch columns:
    orders_1m_rollup_schema.json:50-53)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.select("event_type", u48_expr(F.col("user_id")).alias("u"))
    sk = bottom_k_distinct(h, ["event_type"], k=_K).select("event_type", "u")

    ty = sk.select("event_type").distinct()
    pr = (
        ty.select(F.col("event_type").alias("type_a"))
        .join(
            ty.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    s = sk.withColumnRenamed("event_type", "_t")
    mu = (
        pr.join(
            F.broadcast(s),
            (F.col("_t") == F.col("type_a")) | (F.col("_t") == F.col("type_b")),
        )
        .select("type_a", "type_b", "u")
        .distinct()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("type_a", "type_b").orderBy("u")
    mr = mu.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= _K)
    a = sk.select(
        F.col("event_type").alias("type_a"), "u", F.lit(1).alias("in_a")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), "u", F.lit(1).alias("in_b")
    )
    st = (
        mr.join(F.broadcast(a), ["type_a", "u"], "left")
        .join(F.broadcast(b), ["type_b", "u"], "left")
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("k_used"),
            F.max("u").alias("kth"),
            F.sum(
                F.when(
                    F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("matches"),
        )
    )
    return (
        st.withColumn(
            "union_est",
            F.when(F.col("k_used") < _K, F.col("k_used"))
            .otherwise(
                F.expr(
                    f"CAST({(_K - 1) * SCALE} AS BIGINT) div greatest(kth, 1)"
                )
            )
            .cast("long"),
        )
        .withColumn(
            "jaccard_ppm", F.expr("matches * 1000000 div k_used").cast("long")
        )
        .withColumn(
            "intersect_est",
            F.expr("matches * union_est div k_used").cast("long"),
        )
        .select(
            "type_a", "type_b", "union_est", "matches", "k_used",
            "jaccard_ppm", "intersect_est",
        )
    )
