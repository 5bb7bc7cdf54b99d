"""Behavior analytics, part 2 — round-2d batch:

- ``event_transition_matrix``: first-order Markov transition counts and
  row-probabilities (ppm) over per-user event streams — the model behind
  next-action prediction and journey anomaly scoring. Transitions come
  from an in-partition lag after ONE user_id shuffle; probabilities are
  BIGINT ppm floors of count ratios.
- ``l_diversity_audit``: the privacy audit one step past k-anonymity
  (`k_anonymity_audit`): a quasi-identifier group can be k-large yet
  reveal its sensitive attribute if every member shares it. Flags groups
  whose distinct-sensitive-value count < ℓ.
- ``retraction_rollup``: CDC retraction semantics as a batch rollup —
  a constructed op stream where every event_id ≡ 7 (mod 10) RETRACTS its
  predecessor event (id−1) — net hourly revenue = inserts − retracted
  values. The upsert/retract arithmetic every incremental materialized
  view engine (Flink retract streams, Materialize) performs, expressed as
  a signed aggregate with an equi-join to resolve retraction targets.

All metrics integer (counts, ppm floors, signed BIGINT cents).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register
from topk_spark.workload.events_queries import CENTS_SQL


_TRANSITION_ORACLE = """
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_ms(ts), event_id) AS prev
  FROM events
),
t AS (
  SELECT prev, event_type AS cur, count(*)::BIGINT AS cnt
  FROM s WHERE prev IS NOT NULL GROUP BY prev, cur
),
r AS (
  SELECT prev, SUM(cnt) AS row_total FROM t GROUP BY prev
)
SELECT t.prev, t.cur, t.cnt,
       CAST(t.cnt * 1000000 // r.row_total AS BIGINT) AS prob_ppm
FROM t JOIN r USING (prev)
ORDER BY prev, cur
"""


@register("event_transition_matrix", tags=("behavior", "markov"), oracle=_TRANSITION_ORACLE)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    counts and row-conditional probabilities P(cur|prev) in exact ppm.

    100 TB posture: one shuffle on user_id, in-partition lag, then a
    |types|²-cell aggregate; row totals are a window over the tiny cell
    table, never the fact."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    s = (
        e.select(
            "user_id", "event_type", F.unix_millis("ts").alias("ms"), "event_id"
        )
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
    )
    t = s.groupBy(F.col("prev"), F.col("event_type").alias("cur")).agg(
        F.count("*").alias("cnt")
    )
    row_total = F.sum("cnt").over(Window.partitionBy("prev"))
    return (
        t.withColumn("row_total", row_total)
        # integral div mirrors the oracle's exact '//' (see drift ppm notes)
        .withColumn(
            "prob_ppm", F.expr("CAST(cnt * 1000000 div row_total AS BIGINT)")
        )
        .select("prev", "cur", "cnt", "prob_ppm")
        .orderBy("prev", "cur")
    )


_L = 3  # ℓ threshold

_LDIV_ORACLE = f"""
WITH g AS (
  SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
         count(*)::BIGINT AS group_size,
         count(DISTINCT CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT))
           ::BIGINT AS l_distinct
  FROM customer
  GROUP BY 1, 2
)
SELECT nationkey, mktsegment, group_size, l_distinct,
       (l_distinct < {_L}) AS below_l
FROM g
ORDER BY nationkey, mktsegment
"""


@register("l_diversity_audit", tags=("governance", "privacy"), oracle=_LDIV_ORACLE)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ℓ-diversity audit over the (nationkey, mktsegment) quasi-identifier:
    a group is exposed if its sensitive attribute (account-balance band,
    1000-unit buckets) takes fewer than ℓ=3 distinct values — the privacy
    failure k-anonymity alone misses (a k-large group can still be
    homogeneous). One distinct-aggregate per group; integer bands."""
    c = load_table(spark, sf_dir, "customer")
    # explicit double floor: DuckDB's // TRUNCATES on decimals while Spark's
    # decimal floor rounds down — negative balances land in different bands
    band = F.floor(F.col("c_acctbal").cast("double") / 1000).cast("long")
    g = c.groupBy(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
    ).agg(
        F.count("*").alias("group_size"),
        F.countDistinct(band).alias("l_distinct"),
    )
    return g.select(
        "nationkey",
        "mktsegment",
        "group_size",
        "l_distinct",
        (F.col("l_distinct") < _L).alias("below_l"),
    ).orderBy("nationkey", "mktsegment")


_RETRACT_ORACLE = f"""
WITH base AS (
  SELECT event_id, ts, {CENTS_SQL} AS cents FROM events
),
retractions AS (
  SELECT r.event_id, tgt.ts AS target_ts, tgt.cents AS target_cents
  FROM base r JOIN base tgt ON tgt.event_id = r.event_id - 1
  WHERE r.event_id % 10 = 7
),
inserts AS (
  SELECT date_trunc('hour', ts) AS h, SUM(cents) AS ins, count(*) AS n_ins
  FROM base WHERE event_id % 10 <> 7 GROUP BY 1
),
retracts AS (
  SELECT date_trunc('hour', target_ts) AS h,
         SUM(target_cents) AS ret, count(*) AS n_ret
  FROM retractions GROUP BY 1
)
SELECT i.h,
       CAST(i.ins - COALESCE(r.ret, 0) AS BIGINT) AS net_cents,
       CAST(i.n_ins AS BIGINT) AS n_inserts,
       CAST(COALESCE(r.n_ret, 0) AS BIGINT) AS n_retractions
FROM inserts i LEFT JOIN retracts r ON r.h = i.h
ORDER BY i.h
"""


@register("retraction_rollup", tags=("cdc", "A5"), oracle=_RETRACT_ORACLE)
def retraction_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retract-stream rollup: events with id ≡ 7 (mod 10) retract their
    predecessor (id−1); net hourly revenue = inserts − retracted values,
    with the retraction landing in the TARGET's hour (as a true retract
    stream corrects the bucket it originally incremented). The retraction
    target resolves via one equi-join on the id; both sides then rollup
    with ordinary signed aggregates — the arithmetic core of incremental
    view maintenance under deletes."""
    e = load_table(spark, sf_dir, "events")
    base = e.select("event_id", "ts", cents("value").alias("cents"))
    retr = (
        base.filter(F.col("event_id") % 10 == 7)
        .select((F.col("event_id") - 1).alias("tgt_id"))
        .join(
            base.select(
                F.col("event_id").alias("tgt_id"),
                F.col("ts").alias("target_ts"),
                F.col("cents").alias("target_cents"),
            ),
            "tgt_id",
        )
    )
    inserts = (
        base.filter(F.col("event_id") % 10 != 7)
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum("cents").alias("ins"), F.count("*").alias("n_inserts"))
    )
    retracts = retr.groupBy(F.date_trunc("hour", "target_ts").alias("h")).agg(
        F.sum("target_cents").alias("ret"), F.count("*").alias("n_ret")
    )
    return (
        inserts.join(retracts, "h", "left")
        .select(
            "h",
            (F.col("ins") - F.coalesce("ret", F.lit(0))).cast("long").alias(
                "net_cents"
            ),
            F.col("n_inserts").cast("long").alias("n_inserts"),
            F.coalesce("n_ret", F.lit(0)).cast("long").alias("n_retractions"),
        )
        .orderBy("h")
    )


# ---------------------------------------------------------------------------
# Peak session concurrency: sweep line over interval endpoints
# ---------------------------------------------------------------------------

_SESS_GAP = "6 hours"
_SESS_GAP_US = 6 * 3600 * 1_000_000

# Concurrency at time t = #sessions with start ≤ t ≤ last. The sweep line
# turns that into +1/−1 endpoint events and a prefix sum over endpoint
# order — the interval problem's exact parallel-scan form (the third
# sequential→window rewrite in this engine, after CUSUM and drawdown).
# Ties: starts sort before ends at the same instant (delta DESC), so
# back-to-back sessions at one timestamp count as overlapping — pinned in
# both engines by the same (time, delta DESC, user) order.
_CONCURRENCY_ORACLE = f"""
WITH marks AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= {_SESS_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         min(ts) AS s_start, max(ts) AS s_last
  FROM (SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marks)
  GROUP BY user_id, sid
),
pts AS (
  SELECT s_start AS t, 1 AS delta, user_id FROM sess
  UNION ALL
  SELECT s_last AS t, -1 AS delta, user_id FROM sess
),
run AS (
  SELECT t, delta,
         SUM(delta) OVER (ORDER BY t, delta DESC, user_id
                          ROWS UNBOUNDED PRECEDING) AS conc
  FROM pts
)
SELECT CAST(max(conc) AS BIGINT) AS peak_concurrency,
       min(t) FILTER (WHERE conc = (SELECT max(conc) FROM run)) AS first_peak_at,
       (SELECT count(*)::BIGINT FROM sess) AS n_sessions
FROM run
"""


@register(
    "peak_session_concurrency", tags=("behavior", "sweepline"), oracle=_CONCURRENCY_ORACLE
)
def peak_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-open user sessions (6h-gap sessions,
    same contract as sessionize_events) and the first instant it is
    reached — capacity planning's load-ceiling question, answered by the
    sweep-line rewrite (module comment).

    100 TB posture: sessions reduce events to one row per session before
    the sweep; endpoint volume is 2·sessions, and the global endpoint
    order is a window over that bounded set, not the raw stream."""
    e = load_table(spark, sf_dir, "events")
    sess = (
        e.groupBy(F.session_window("ts", _SESS_GAP), "user_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_last"))
        .select("user_id", "s_start", "s_last")
    )
    pts = sess.select(
        F.col("s_start").alias("t"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        sess.select(F.col("s_last").alias("t"), F.lit(-1).alias("delta"), "user_id")
    )
    w = Window.orderBy(F.col("t"), F.col("delta").desc(), F.col("user_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = pts.withColumn("conc", F.sum("delta").over(w))
    mx = run.agg(F.max("conc").alias("peak"))
    n_sess = sess.agg(F.count("*").alias("n_sessions"))
    return (
        run.join(F.broadcast(mx), run.conc == mx.peak)
        .agg(
            F.first("peak").alias("peak_concurrency"),
            F.min("t").alias("first_peak_at"),
        )
        .crossJoin(F.broadcast(n_sess))
        .select(
            F.col("peak_concurrency").cast("long").alias("peak_concurrency"),
            "first_peak_at",
            F.col("n_sessions").cast("long").alias("n_sessions"),
        )
    )


# ---------------------------------------------------------------------------
# Kendall rank stability between adjacent days' top spenders
# ---------------------------------------------------------------------------

_KT_K = 20

# Kendall's tau-a over the users ranked BOTH days (ranks are distinct by
# the (cents DESC, user_id) tiebreak, so no tie terms):
#   tau_milli = floor( (C − D) · 1000 / (m(m−1)/2) ),  C+D = m(m−1)/2
# — exact integers end-to-end; the pair comparison runs over the shared
# top-k×top-k (≤ k² rows), never over users.
_KENDALL_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, user_id, SUM({CENTS_SQL}) AS cents
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT d, user_id,
         row_number() OVER (PARTITION BY d ORDER BY cents DESC, user_id) AS r
  FROM daily
  QUALIFY r <= {_KT_K}
),
shared AS (
  SELECT a.d, a.user_id, a.r AS r1, b.r AS r2
  FROM ranked a JOIN ranked b
    ON b.user_id = a.user_id AND b.d = a.d + INTERVAL 1 DAY
),
pairs AS (
  SELECT x.d,
         CASE WHEN (x.r1 < y.r1) = (x.r2 < y.r2) THEN 1 ELSE -1 END AS s
  FROM shared x JOIN shared y ON x.d = y.d AND x.user_id < y.user_id
),
m AS (
  SELECT d, count(*) AS np, SUM(s) AS cd FROM pairs GROUP BY d
)
SELECT d AS day_a,
       CAST((SELECT count(*) FROM shared sh WHERE sh.d = m.d) AS BIGINT)
         AS n_shared,
       CAST(cd * 1000 // np AS BIGINT) AS tau_milli
FROM m
ORDER BY day_a
"""


@register("kendall_rank_stability", tags=("behavior", "rankcorr"), oracle=_KENDALL_ORACLE)
def kendall_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How stable is the daily top-20 spender ranking? Kendall's tau
    between each day's ranking and the next (over users present in both
    top-20s), in exact milli units — concordant minus discordant pairs
    over all pairs, no float correlation.

    100 TB posture: per-day rankings are bounded-heap top-k; the pair
    comparison is a within-day self-join over ≤ k shared users (≤ k²
    rows/day) — the fact table never pair-joins."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d"), "user_id").agg(
        F.sum(cents("value")).alias("cents")
    )
    w = Window.partitionBy("d").orderBy(F.desc("cents"), F.asc("user_id"))
    ranked = (
        daily.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= _KT_K)
    )
    b = ranked.select(
        F.date_sub("d", 1).alias("d"), "user_id", F.col("r").alias("r2")
    )
    shared = ranked.select("d", "user_id", F.col("r").alias("r1")).join(
        b, ["d", "user_id"]
    )
    x = shared.select("d", F.col("user_id").alias("ua"), F.col("r1").alias("xr1"), F.col("r2").alias("xr2"))
    y = shared.select("d", F.col("user_id").alias("ub"), F.col("r1").alias("yr1"), F.col("r2").alias("yr2"))
    pairs = (
        x.join(y, "d")
        .filter(F.col("ua") < F.col("ub"))
        .select(
            "d",
            F.when(
                (F.col("xr1") < F.col("yr1")) == (F.col("xr2") < F.col("yr2")), 1
            )
            .otherwise(-1)
            .alias("s"),
        )
    )
    m = pairs.groupBy("d").agg(F.count("*").alias("np"), F.sum("s").alias("cd"))
    n_shared = shared.groupBy("d").agg(F.count("*").alias("n_shared"))
    return (
        m.join(n_shared, "d")
        .select(
            F.col("d").alias("day_a"),
            F.col("n_shared").cast("long").alias("n_shared"),
            # `div` truncates toward zero, matching DuckDB's integer `//`
            # on the NEGATIVE taus a shuffled ranking produces (floor would
            # differ by 1 there)
            F.expr("CAST((cd * 1000) div np AS BIGINT)").alias("tau_milli"),
        )
        .orderBy("day_a")
    )


# ---------------------------------------------------------------------------
# Session-level type affinity (market-basket lift on sessions)
# ---------------------------------------------------------------------------

# lift(a,b) = P(a,b) / (P(a)·P(b)) over sessions-as-baskets; in exact ppm
# with the common denominator: lift_milli = n_ab·n_sess·1000 // (n_a·n_b).
_AFFINITY_ORACLE = """
WITH marks AS (
  SELECT user_id, ts, event_type,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 21600000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid,
         event_type
  FROM marks
),
baskets AS (
  SELECT DISTINCT user_id, sid, event_type FROM sess
),
n_sess AS (SELECT count(DISTINCT (user_id, sid)) AS n FROM baskets),
singles AS (
  SELECT event_type, count(*)::BIGINT AS c FROM baskets GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*)::BIGINT AS c_ab
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.sid = b.sid
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.c_ab,
       CAST(p.c_ab * ns.n * 1000 // (sa.c * sb.c) AS BIGINT) AS lift_milli
FROM pairs p
JOIN singles sa ON sa.event_type = p.type_a
JOIN singles sb ON sb.event_type = p.type_b
CROSS JOIN n_sess ns
ORDER BY type_a, type_b
"""


@register("session_type_affinity", tags=("behavior", "basket"), oracle=_AFFINITY_ORACLE)
def session_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between event types co-occurring in the same
    6h-gap session: lift > 1000 milli means the pair appears together
    more than independent rates predict (the cross-sell signal, computed
    on sessions instead of orders). Exact milli via the common-denominator
    trick — one division-free ratio per pair.

    100 TB posture: baskets are the DISTINCT (session, type) table —
    |sessions|·|types| at most; the pair join runs within session keys
    with fan-out ≤ |types|² per session; the fact is never pair-joined."""
    e = load_table(spark, sf_dir, "events")
    # per-USER sessionization via the lag/cumsum rewrite (grouping
    # session_window by event_type would sessionize each type's stream
    # separately and shift the boundaries)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marks = e.select("user_id", "ts", "event_id", "event_type").withColumn(
        "new_s",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
            >= F.lit(21600000000)
        )
        .cast("long")
        .alias("new_s"),
    ).fillna({"new_s": 0})
    sess = marks.withColumn(
        "sid",
        F.sum("new_s").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    baskets = sess.select("user_id", "sid", "event_type").distinct()
    n_sess = baskets.select("user_id", "sid").distinct().count()
    singles = baskets.groupBy("event_type").agg(F.count("*").alias("c"))
    a = baskets.select("user_id", "sid", F.col("event_type").alias("type_a"))
    b = baskets.select("user_id", "sid", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "sid"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("c_ab"))
    )
    return (
        pairs.join(
            F.broadcast(singles.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))),
            "type_a",
        )
        .join(
            F.broadcast(singles.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "c_ab",
            # integral div mirrors the oracle's '//' (see drift ppm notes);
            # decimal-widened: c_ab·n_sess·1000 outgrows BIGINT at scale
            F.expr(
                f"CAST((CAST(c_ab AS DECIMAL(38,0)) * {n_sess} * 1000) div "
                "(CAST(ca AS DECIMAL(19,0)) * cb) AS BIGINT)"
            ).alias("lift_milli"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Top journey trigrams (order-2 sequence mining over per-user streams)
# ---------------------------------------------------------------------------

_TRI_TOP = 15

_TRIGRAM_ORACLE = f"""
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER w AS p1,
         lag(event_type, 2) OVER w AS p2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
),
t AS (
  SELECT p2 AS t1, p1 AS t2, event_type AS t3, count(*)::BIGINT AS cnt
  FROM s WHERE p2 IS NOT NULL
  GROUP BY 1, 2, 3
),
tot AS (SELECT SUM(cnt) AS n FROM t)
SELECT t1, t2, t3, cnt,
       CAST(cnt * 1000000 // tot.n AS BIGINT) AS share_ppm
FROM t CROSS JOIN tot
ORDER BY cnt DESC, t1, t2, t3
LIMIT {_TRI_TOP}
"""


@register("journey_trigram_topk", tags=("behavior", "seqmining"), oracle=_TRIGRAM_ORACLE)
def journey_trigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 three-step behavior sequences (order-2 extension of
    event_transition_matrix): two lags over the per-user event-time order
    produce every consecutive type trigram; counts reduce to |types|³
    cells with exact ppm shares and a bounded-heap top-k. The sequence-
    mining primitive under 'what do users do right before purchasing'."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    s = (
        e.select("user_id", "event_type", F.unix_millis("ts").alias("ms"), "event_id")
        .withColumn("p1", F.lag("event_type", 1).over(w))
        .withColumn("p2", F.lag("event_type", 2).over(w))
        .filter(F.col("p2").isNotNull())
    )
    t = s.groupBy(
        F.col("p2").alias("t1"), F.col("p1").alias("t2"),
        F.col("event_type").alias("t3"),
    ).agg(F.count("*").alias("cnt"))
    tot = t.agg(F.sum("cnt").alias("n"))
    from topk_spark.ops.topk import topn

    scored = t.crossJoin(F.broadcast(tot)).select(
        "t1",
        "t2",
        "t3",
        "cnt",
        # integral div mirrors the oracle's exact '//' (see drift ppm notes)
        F.expr("CAST(cnt * 1000000 div n AS BIGINT)").alias("share_ppm"),
    )
    return topn(
        scored,
        [F.desc("cnt"), F.asc("t1"), F.asc("t2"), F.asc("t3")],
        _TRI_TOP,
    )


# ---------------------------------------------------------------------------
# Audience overlap between adjacent days (set Jaccard in exact ppm)
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
a AS (SELECT d AS day_a, user_id FROM du),
b AS (SELECT d - INTERVAL 1 DAY AS day_a, user_id FROM du),
m AS (
  SELECT COALESCE(a.day_a, b.day_a) AS day_a,
         count(*) FILTER (WHERE a.user_id IS NOT NULL
                          AND b.user_id IS NOT NULL)::BIGINT AS n_both,
         count(*)::BIGINT AS n_union
  FROM a FULL OUTER JOIN b
    ON b.day_a = a.day_a AND b.user_id = a.user_id
  GROUP BY 1
),
valid AS (SELECT DISTINCT d FROM du)
SELECT CAST(day_a AS DATE) AS day_a, n_both, n_union,
       CAST(n_both * 1000000 // n_union AS BIGINT) AS jaccard_ppm
FROM m
WHERE day_a IN (SELECT d FROM valid)
  AND day_a + INTERVAL 1 DAY IN (SELECT d FROM valid)
ORDER BY day_a
"""


@register("audience_overlap_daily", tags=("behavior", "overlap"), oracle=_OVERLAP_ORACLE)
def audience_overlap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience stickiness: Jaccard overlap of the active-user SET between
    each day and the next, in exact ppm — the set-level counterpart of
    retained_churned_users' counts. One distinct (day, user) reduction,
    a full-outer self-alignment shifted by one day, integer ratio."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    a = du.select(F.col("d").alias("day_a"), "user_id")
    b = du.select(F.date_sub("d", 1).alias("day_a"), F.col("user_id").alias("u2"))
    m = (
        a.join(b, [a.day_a == b.day_a, a.user_id == b.u2], "full_outer")
        .select(
            F.coalesce(a.day_a, b.day_a).alias("day_a"),
            a.user_id.alias("ua"),
            F.col("u2"),
        )
        .groupBy("day_a")
        .agg(
            F.sum(
                (F.col("ua").isNotNull() & F.col("u2").isNotNull()).cast("long")
            ).alias("n_both"),
            F.count("*").alias("n_union"),
        )
    )
    days = du.select("d").distinct()
    valid = m.join(days, m.day_a == days.d, "left_semi").join(
        days.select(F.date_sub("d", 1).alias("day_a")).distinct(), "day_a", "left_semi"
    )
    return valid.select(
        "day_a",
        F.col("n_both").cast("long").alias("n_both"),
        F.col("n_union").cast("long").alias("n_union"),
        # integral div mirrors the oracle's exact '//' (see drift ppm notes)
        F.expr("CAST(n_both * 1000000 div n_union AS BIGINT)").alias(
            "jaccard_ppm"
        ),
    ).orderBy("day_a")


# ---------------------------------------------------------------------------
# Gains chart: conversion rate by engagement decile
# ---------------------------------------------------------------------------

_GAINS_ORACLE = """
WITH per_user AS (
  SELECT user_id, count(*)::BIGINT AS n_events,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, n_events, converted,
         row_number() OVER (ORDER BY n_events DESC, user_id) AS r,
         count(*) OVER () AS n
  FROM per_user
)
SELECT CAST((r - 1) * 10 // n AS INT) AS decile,
       count(*)::BIGINT AS n_users,
       SUM(converted)::BIGINT AS n_converted,
       CAST(SUM(converted) * 1000000 // count(*) AS BIGINT) AS conv_ppm
FROM ranked
GROUP BY 1
ORDER BY decile
"""


@register("gains_chart_deciles", tags=("behavior", "targeting"), oracle=_GAINS_ORACLE)
def gains_chart_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The targeting gains chart: users ranked by engagement (event count,
    most active first), cut into exact deciles by rank arithmetic
    ((r−1)·10 div n — no approximate ntile), with each decile's purchase
    conversion in exact ppm. A model that beats this activity baseline
    earns its keep; deciles whose conv_ppm is flat say engagement does
    not predict purchase.

    100 TB posture: one per-user reduction, a rank over users (at extreme
    user counts: the distinct-value CDF decomposition used by
    global_rank_without_global_sort), then a 10-group aggregate."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max((F.col("event_type") == "purchase").cast("long")).alias("converted"),
    )
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    ranked = per_user.withColumn("r", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy())
    )
    return (
        ranked.groupBy(
            F.floor((F.col("r") - 1) * 10 / F.col("n")).cast("int").alias("decile")
        )
        .agg(
            F.count("*").alias("n_users"),
            F.sum("converted").alias("n_converted"),
        )
        .select(
            "decile",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("n_converted").cast("long").alias("n_converted"),
            # integral div mirrors the oracle's exact '//' (drift ppm notes)
            F.expr("CAST(n_converted * 1000000 div n_users AS BIGINT)").alias(
                "conv_ppm"
            ),
        )
        .orderBy("decile")
    )
