"""Event-behavior analytics over the `events` stream table: ordered-sequence
funnel and weekly cohort retention.

The reference's event model (orders keyed by customer with timestamps) implies
exactly these serving questions; they're also the standard evaluation queries
for any event-analytics engine (Pinot's own demo workloads feature funnels).
Both are pure DataFrame compositions — sequence matching is min-timestamp
chaining, not a UDF — so they stay in whole-stage codegen and scale linearly.

Scale shape: every stage groups by user_id (150 at sf0.01, ~10^8 at 100 TB) —
one hash shuffle per stage on a uniformly distributed key, each stage's output
is one row per surviving user, so data only shrinks down the funnel.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register


@register(
    "funnel_conversion",
    tags=("K-funnel",),
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_buy
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_view_click,
       (SELECT count(*) FROM p) AS n_view_click_purchase
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered 3-step funnel (view → click → purchase): a user
    advances a stage only with an event strictly after their entry into the
    previous stage. Each stage is a groupBy-min then a join back to the raw
    events filtered to the next type — stage outputs are one row per user,
    so the joins shrink monotonically; at 100 TB each stage's smaller side
    can broadcast once the funnel narrows."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(event_type: str, prev: DataFrame, prev_ts: str, out_ts: str) -> DataFrame:
        nxt = e.filter(F.col("event_type") == event_type)
        return (
            nxt.join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = first_after("click", v, "t_view", "t_click")
    p = first_after("purchase", c, "t_click", "t_buy")
    counts = [
        df.agg(F.count("*").alias(name))
        for df, name in ((v, "n_view"), (c, "n_view_click"), (p, "n_view_click_purchase"))
    ]
    out = counts[0]
    for df in counts[1:]:
        out = out.crossJoin(F.broadcast(df))  # 1-row scalar aggregates
    return out


@register(
    "cohort_retention",
    tags=("A4", "P8"),
    oracle="""
WITH cohort AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
  FROM events
)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, a.act_week) / 7 AS INT) AS week_offset,
       count(*) AS n_users
FROM cohort c JOIN activity a ON c.user_id = a.user_id
GROUP BY c.cohort_week, week_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-seen week,
    counted in each subsequent active week. Monday-start `date_trunc('week')`
    agrees between Spark and DuckDB; the offset divides a day-diff that is a
    multiple of 7 by construction. Two shuffles on user_id then one small
    grouped agg — the cohort table is 1 row/user and broadcastable at need."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    cohort = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("act_week")
    ).distinct()
    return (
        cohort.join(activity, "user_id")
        .withColumn(
            "week_offset",
            (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "user_journey_path",
    tags=("K-journey",),
    oracle="""
SELECT user_id,
       string_agg(event_type, '->' ORDER BY ts, event_id) AS path,
       CAST(count(*) AS BIGINT) AS n_steps
FROM events
WHERE user_id % 10 = 0
GROUP BY user_id
""",
)
def user_journey_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-sequence serialization: each user's journey as a
    'view->click->purchase' path string (the input to journey clustering /
    Markov funnel models). Ordered string_agg is expressed as
    sort_array(collect_list(struct(ts, event_id, type))) → transform →
    array_join, so ordering is deterministic under ties (event_id breaks
    them) and the whole thing is one partial-aggregated groupBy — no window,
    no second shuffle."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("user_id") % 10 == 0)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                "->",
            ).alias("path"),
            F.count("*").alias("n_steps"),
        )
    )


@register(
    "latest_event_per_user",
    tags=("K-argmax",),
    oracle="""
SELECT user_id,
       arg_max(event_type, ts) AS last_event_type,
       arg_max(value, ts) AS last_value,
       max(ts) AS last_ts
FROM events
GROUP BY user_id
""",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregation: each user's most recent event without a window
    function — max_by carries the payload with the max key, so this is one
    partial+final aggregate (combiners keep only one row per user per
    partition) instead of a rank-filter over a full shuffle of the fact.
    (ts is unique per user in this data — verified — so no tiebreak is
    needed; with tie-prone keys use max_by(x, struct(ts, id)).)"""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.expr("max_by(event_type, ts)").alias("last_event_type"),
        F.expr("max_by(value, ts)").alias("last_value"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "value_histogram",
    tags=("A-histogram",),
    oracle="""
SELECT event_type,
       CAST(least(floor(value / 25.0) + 1, 21) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(SUM(value), 2) AS bucket_value
FROM events
GROUP BY event_type, least(floor(value / 25.0) + 1, 21)
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram per group (width_bucket(value, 0, 500, 20)
    semantics, spelled as explicit floor arithmetic so both engines evaluate
    the identical double expression — width_bucket implementations differ in
    ulp at bin boundaries). Bucket assignment is map-side; the shuffle moves
    only (group, bucket) partials, so cardinality is bounded by
    groups × bins regardless of corpus size."""
    e = load_table(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 25.0) + 1, F.lit(21)).cast("int")
    return (
        e.groupBy("event_type", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("bucket_value"),
        )
    )


@register(
    "activity_streaks",
    tags=("K-islands",),
    oracle="""
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
g AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INT)
           AS grp
  FROM d
)
SELECT user_id,
       CAST(min(day) AS VARCHAR) AS streak_start,
       CAST(max(day) AS VARCHAR) AS streak_end,
       CAST(count(*) AS BIGINT) AS streak_days
FROM g
GROUP BY user_id, grp
HAVING count(*) >= 3
""",
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active days per user
    (date minus row_number collapses each run to a constant group key — the
    classic islands identity, no self-join, no recursion). One shuffle on
    user_id for the rank, one partial-aggregated groupBy; engagement-streak
    features for user modeling at any scale."""
    e = load_table(spark, sf_dir, "events")
    d = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    g = d.select(
        "user_id", "day", F.date_sub("day", rn).alias("grp")
    )
    return (
        g.groupBy("user_id", "grp")
        .agg(
            F.min("day").cast("string").alias("streak_start"),
            F.max("day").cast("string").alias("streak_end"),
            F.count("*").alias("streak_days"),
        )
        .filter(F.col("streak_days") >= 3)
        .drop("grp")
    )


@register(
    "time_weighted_value",
    tags=("W-tw",),
    oracle="""
WITH s AS (
  SELECT user_id, value, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS next_ts
  FROM events
),
w AS (
  SELECT user_id, value,
         CAST(epoch_us(next_ts) - epoch_us(ts) AS BIGINT) AS held_us
  FROM s WHERE next_ts IS NOT NULL
)
SELECT user_id,
       CAST(SUM(held_us) AS BIGINT) AS total_us,
       round(SUM(value * held_us) / SUM(held_us), 6) AS tw_avg_value
FROM w
GROUP BY user_id
""",
)
def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted average: each reading weighted by how long it was
    current (lead(ts) - ts) — the correct aggregate for irregularly sampled
    gauges, where a plain avg over-counts bursts. One window pass for the
    lead, one grouped aggregate; ts is unique per user so the frame is
    deterministic."""
    e = load_table(spark, sf_dir, "events")
    nxt = F.lead("ts").over(Window.partitionBy("user_id").orderBy("ts"))
    s = e.select("user_id", "value", "ts", nxt.alias("next_ts")).filter(
        F.col("next_ts").isNotNull()
    )
    held = (F.unix_micros("next_ts") - F.unix_micros("ts")).cast("long")
    w = s.select("user_id", "value", held.alias("held_us"))
    return w.groupBy("user_id").agg(
        F.sum("held_us").cast("long").alias("total_us"),
        F.round(
            F.sum(F.col("value") * F.col("held_us")) / F.sum("held_us"), 6
        ).alias("tw_avg_value"),
    )


@register(
    "time_to_convert",
    tags=("K-funnel", "A-stats"),
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_buy
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       CAST(min(epoch_us(t_buy) - epoch_us(t_view)) AS BIGINT) AS min_us,
       round(quantile_cont(epoch_us(t_buy) - epoch_us(t_view), 0.5), 1)
         AS median_us,
       CAST(max(epoch_us(t_buy) - epoch_us(t_view)) AS BIGINT) AS max_us
FROM p JOIN v USING (user_id)
""",
)
def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-lag distribution: for every user whose first purchase
    follows their first view, the min/median/max of that gap — the duration
    metric funnels are judged by. Two groupBy-min stages (one row per user
    each) then a single global summary aggregate over the tiny converted
    set."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    gap = F.unix_micros("t_buy") - F.unix_micros("t_view")
    return (
        p.join(v, "user_id")
        .select(gap.alias("gap_us"))
        .agg(
            F.count("*").alias("n_converted"),
            F.min("gap_us").cast("long").alias("min_us"),
            F.round(F.expr("percentile(gap_us, 0.5)"), 1).alias("median_us"),
            F.max("gap_us").cast("long").alias("max_us"),
        )
    )


# ---------------------------------------------------------------------------
# Time-RANGE window frames: trailing 7 calendar days, not 7 rows
# ---------------------------------------------------------------------------


@register(
    "rolling_7d_revenue",
    tags=("window", "timeseries"),
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS event_date,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS day_cents
  FROM events GROUP BY 1, 2
)
SELECT event_type, event_date, day_cents,
       CAST(SUM(day_cents) OVER (
         PARTITION BY event_type ORDER BY event_date
         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS rolling_7d_cents
FROM daily
""",
)
def rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-calendar-day revenue per event_type: a time-RANGE frame
    (`rangeBetween` over epoch days), which keeps the window correct when
    days are MISSING from the series — a 7-ROW frame would silently
    stretch across gaps. Two-level shape: the daily pre-aggregate shrinks
    events to O(types × days) rows BEFORE the window, so the window sort
    is over the tiny rollup, partitioned by event_type (no global sort).
    This is the rollup-ladder discipline applied to sliding analytics."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("event_date"))
        .agg(
            F.sum(cents("value"))
            .cast("long")
            .alias("day_cents")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_date(F.col("event_date")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "event_date",
        "day_cents",
        F.sum("day_cents").over(w).alias("rolling_7d_cents"),
    )


@register(
    "equi_depth_histogram",
    tags=("profiling", "histogram"),
    oracle="""
WITH t AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100
                                       AS BIGINT), event_id) AS bucket
  FROM events
)
SELECT event_type, bucket, count(*) AS n,
       min(vc) AS lo_cents, max(vc) AS hi_cents
FROM t GROUP BY 1, 2
""",
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (10 buckets of equal row count per event
    type, boundaries wherever the data puts them) — the histogram a cost
    optimizer or drift monitor wants, vs `value_histogram`'s fixed-width
    bins which go empty/overfull under skew. ntile per event_type = one
    shuffle + per-partition sort; ties broken by event_id so bucket
    assignment is deterministic. At extreme per-key cardinality swap
    ntile for approx-quantile cut points; the equal-depth contract then
    becomes approximate, which is the standard trade."""
    e = load_table(spark, sf_dir, "events")
    vc = cents("value")
    w = Window.partitionBy("event_type").orderBy(F.col("vc"), F.col("event_id"))
    return (
        e.select("event_type", vc.alias("vc"), "event_id")
        .withColumn("bucket", F.ntile(10).over(w))
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("vc").alias("lo_cents"),
            F.max("vc").alias("hi_cents"),
        )
    )
