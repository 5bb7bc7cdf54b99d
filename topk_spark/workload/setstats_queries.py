"""Set-cardinality algebra and mode aggregates — the exact batch analogs
of Pinot's theta-sketch set operations (DISTINCT_COUNT_THETA_SKETCH with
union/intersection filters) and MODE aggregation.

The intersection trick: reduce each user to per-predicate boolean flags
in ONE pass (max-of-case), then count flag combinations — |A∩B|, |A∪B|
and Jaccard fall out of a single aggregation, no self-join of the two
sets. Jaccard is exact ppm by integer floor-divide.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register

_INTERSECT_ORACLE = """
WITH flags AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS in_b
  FROM events GROUP BY user_id
)
SELECT CAST(SUM(in_a) AS BIGINT) AS card_a,
       CAST(SUM(in_b) AS BIGINT) AS card_b,
       CAST(SUM(in_a * in_b) AS BIGINT) AS card_intersect,
       CAST(SUM(CASE WHEN in_a + in_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS card_union,
       CAST((SUM(in_a * in_b) * 1000000)
         // SUM(CASE WHEN in_a + in_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS jaccard_ppm
FROM flags
"""


@register(
    "distinct_set_algebra", tags=("SET", "A6"), oracle=_INTERSECT_ORACLE
)
def distinct_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|purchasers ∩ erroring users|, union and exact Jaccard in ppm —
    theta-sketch set algebra made exact: one shuffle on user_id reduces
    each user to two flags, one final aggregate does all four set
    cardinalities. No join between the two sets ever materializes; at
    100 TB this is two passes of partial+final aggregation."""
    ev = load_table(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "in_a"
        ),
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("in_b"),
    )
    return flags.agg(
        F.sum("in_a").alias("card_a"),
        F.sum("in_b").alias("card_b"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("card_intersect"),
        F.sum(
            F.when(F.col("in_a") + F.col("in_b") > 0, 1).otherwise(0)
        ).alias("card_union"),
        F.expr(
            "(sum(in_a * in_b) * 1000000)"
            " div sum(case when in_a + in_b > 0 then 1 else 0 end)"
        ).alias("jaccard_ppm"),
    )


_MODE_ORACLE = """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type
),
best AS (
  SELECT user_id, max(c) AS mode_count FROM counts GROUP BY user_id
)
SELECT b.user_id,
       min(c2.event_type) AS mode_type,
       b.mode_count
FROM best b
JOIN counts c2 ON c2.user_id = b.user_id AND c2.c = b.mode_count
GROUP BY b.user_id, b.mode_count
ORDER BY b.user_id
"""


@register("mode_per_user", tags=("A4", "mode"), oracle=_MODE_ORACLE)
def mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (ties broken to the alphabetically first
    type, so the answer is deterministic): per-(user, type) counts, then
    ONE more aggregate using max_by over the (count DESC, type ASC) order
    encoded as a struct — no window, no re-join in the Spark plan; the
    oracle keeps the join-back formulation DuckDB expresses naturally."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    # min_by over struct(-c, event_type): smallest -c = biggest count,
    # then lexicographically smallest type
    return (
        counts.groupBy("user_id")
        .agg(
            F.expr("min_by(event_type, struct(-c, event_type))").alias("mode_type"),
            F.max("c").alias("mode_count"),
        )
        .orderBy("user_id")
    )


_LANGTEMP_ORACLE = """
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
)
SELECT lang, n_docs,
       CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
         AS sqrt_weight_e6
FROM per_lang
ORDER BY n_docs DESC, lang ASC
"""


@register(
    "lang_temperature_weights", tags=("PIPE-mixture", "multilingual"),
    oracle=_LANGTEMP_ORACLE,
)
def lang_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual temperature-resampling weights at α = 0.5: weight ∝
    count^α. α = 0.5 is the one temperature with an exactly-reproducible
    float path — IEEE sqrt is correctly rounded (general pow is not), and
    floor(·×10⁶) freezes the result into a BIGINT. One tiny per-language
    aggregate; the consumer (mixture_sample's hash-threshold sampler)
    normalizes against the weight sum it actually uses."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    return (
        per_lang.select(
            "lang",
            "n_docs",
            F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000)
            .cast("long")
            .alias("sqrt_weight_e6"),
        )
        .orderBy(F.desc("n_docs"), F.asc("lang"))
    )


_RFM_ORACLE = """
WITH mx AS (SELECT max(CAST(ts AS DATE)) AS md FROM events),
per_user AS (
  SELECT user_id,
         date_diff('day', max(CAST(ts AS DATE)), ANY_VALUE(mx.md)) AS recency_days,
         count(*) AS frequency,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                  ELSE 0 END) AS monetary_cents
  FROM events CROSS JOIN mx
  GROUP BY user_id
),
scored AS (
  SELECT CASE WHEN recency_days <= 2 THEN 3
              WHEN recency_days <= 7 THEN 2 ELSE 1 END AS r_score,
         CASE WHEN frequency >= 100 THEN 3
              WHEN frequency >= 50 THEN 2 ELSE 1 END AS f_score,
         CASE WHEN monetary_cents >= 500000 THEN 3
              WHEN monetary_cents >= 100000 THEN 2 ELSE 1 END AS m_score,
         monetary_cents
  FROM per_user
)
SELECT r_score || '-' || f_score || '-' || m_score AS segment,
       count(*) AS n_users,
       CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
FROM scored
GROUP BY 1
ORDER BY segment
"""


@register("rfm_segments", tags=("analytics", "segmentation"), oracle=_RFM_ORACLE)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency / frequency / monetary reduced
    in ONE aggregation pass (the max-date anchor is a 1-row broadcast),
    scored into fixed 3×3×3 bands map-side, then a bounded 27-row segment
    rollup. Fixed thresholds keep the banding a pure projection; the
    quantile-banded variant reuses curriculum_order's exact distributed
    ntile when data-driven cuts are wanted."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("md"))
    per_user = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(F.first("md"), F.max(F.to_date("ts"))).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    cents("value"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("monetary_cents"),
        )
    )
    scored = per_user.select(
        F.when(F.col("recency_days") <= 2, 3)
        .when(F.col("recency_days") <= 7, 2)
        .otherwise(1)
        .alias("r_score"),
        F.when(F.col("frequency") >= 100, 3)
        .when(F.col("frequency") >= 50, 2)
        .otherwise(1)
        .alias("f_score"),
        F.when(F.col("monetary_cents") >= 500000, 3)
        .when(F.col("monetary_cents") >= 100000, 2)
        .otherwise(1)
        .alias("m_score"),
        "monetary_cents",
    )
    return (
        scored.groupBy(
            F.concat_ws("-", "r_score", "f_score", "m_score").alias("segment")
        )
        .agg(
            F.count("*").alias("n_users"),
            F.sum("monetary_cents").alias("segment_cents"),
        )
        .orderBy("segment")
    )


_BOUNCE_ORACLE = """
WITH marks AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
               OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq,
         ts
  FROM marks
),
per_session AS (
  SELECT user_id, session_seq,
         CAST(min(ts) AS DATE) AS d,
         count(*) AS n_events
  FROM sessions GROUP BY user_id, session_seq
)
SELECT d,
       count(*) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST((SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000)
         // count(*) AS BIGINT) AS bounce_ppm
FROM per_session
GROUP BY d
ORDER BY d
"""


@register("session_bounce_rate", tags=("T-session", "analytics"), oracle=_BOUNCE_ORACLE)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate over 30-min-gap sessions: the lag/cumsum
    sessionization (both windows partition by user — per-key state, no
    global sort), per-session event counts, then single-event sessions
    over total per day in exact ppm. Sessions are attributed to the day
    they START (min ts), so day boundaries never split the metric."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marks = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = marks.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_seq"),
    )
    per_session = sessions.groupBy("user_id", "session_seq").agg(
        F.to_date(F.min("ts")).alias("d"), F.count("*").alias("n_events")
    )
    return (
        per_session.groupBy("d")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        )
        .select(
            "d",
            "n_sessions",
            "n_bounces",
            F.expr("(n_bounces * 1000000) div n_sessions").alias("bounce_ppm"),
        )
        .orderBy("d")
    )


_NEWRET_ORACLE = """
WITH first_seen AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_d FROM events GROUP BY user_id
)
SELECT CAST(e.ts AS DATE) AS d,
       CAST(SUM(CASE WHEN CAST(e.ts AS DATE) = f.first_d
                THEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)
                ELSE 0 END) AS BIGINT) AS new_user_cents,
       CAST(SUM(CASE WHEN CAST(e.ts AS DATE) > f.first_d
                THEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)
                ELSE 0 END) AS BIGINT) AS returning_cents,
       count(DISTINCT CASE WHEN CAST(e.ts AS DATE) = f.first_d
                           THEN e.user_id END) AS new_users,
       count(DISTINCT CASE WHEN CAST(e.ts AS DATE) > f.first_d
                           THEN e.user_id END) AS returning_users
FROM events e JOIN first_seen f ON f.user_id = e.user_id
WHERE e.event_type = 'purchase'
GROUP BY CAST(e.ts AS DATE)
ORDER BY d
"""


@register(
    "new_vs_returning_revenue", tags=("analytics", "cohort"), oracle=_NEWRET_ORACLE
)
def new_vs_returning_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase revenue split by new vs returning users: each
    user's first-seen day (one reduction) joins back onto purchases —
    co-partitioned on user_id, so the join adds no extra shuffle beyond
    the reduction's — and the split is a map-side comparison feeding one
    conditional aggregate. Distinct-user counts ride the same pass."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_d"))
    value_cents = cents("value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("d"), value_cents.alias("cents")
    )
    joined = purchases.join(first_seen, "user_id")
    is_new = F.col("d") == F.col("first_d")
    is_ret = F.col("d") > F.col("first_d")
    return (
        joined.groupBy("d")
        .agg(
            F.sum(F.when(is_new, F.col("cents")).otherwise(F.lit(0).cast("long"))).alias(
                "new_user_cents"
            ),
            F.sum(F.when(is_ret, F.col("cents")).otherwise(F.lit(0).cast("long"))).alias(
                "returning_cents"
            ),
            F.countDistinct(F.when(is_new, F.col("user_id"))).alias("new_users"),
            F.countDistinct(F.when(is_ret, F.col("user_id"))).alias(
                "returning_users"
            ),
        )
        .orderBy("d")
    )
