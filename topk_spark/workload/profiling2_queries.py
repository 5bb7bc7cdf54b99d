"""Profiling, part 2 — round-2d: functional-dependency discovery and
marketing-attribution model comparison.

- ``fd_discovery``: which column→column functional dependencies actually
  hold in the data (the Metanome-style profiling primitive behind schema
  normalization and key inference)? For candidate A→B: count A-groups
  carrying >1 distinct B. One distinct-pair aggregate per candidate —
  never a self-join.
- ``attribution_models_compare``: first-touch vs last-touch revenue credit
  for purchases, over the preceding-hour event window per user. The two
  classic attribution models computed side by side from ONE candidate
  join, with min_by/max_by electing the touch — deterministic via the
  (ts, event_id) tiebreak.

All counts/credits integer (BIGINT cents).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register
from topk_spark.workload.events_queries import CENTS_SQL


# candidate FDs: (table, determinant, dependent)
_FD_CANDIDATES = [
    ("part", "p_name", "p_brand"),
    ("part", "p_brand", "p_type"),
    ("part", "p_type", "p_brand"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
]


def _fd_sql(table: str, det: str, dep: str) -> str:
    return f"""
SELECT '{table}.{det}->{dep}' AS fd,
       count(*)::BIGINT AS n_groups,
       sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
       (sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0) AS holds
FROM (SELECT {det}, count(DISTINCT {dep}) AS nd FROM {table} GROUP BY {det})
"""


_FD_ORACLE = (
    "SELECT * FROM ("
    + " UNION ALL ".join(_fd_sql(t, a, b) for t, a, b in _FD_CANDIDATES)
    + ") ORDER BY fd"
)


@register("fd_discovery", tags=("profiling", "fd"), oracle=_FD_ORACLE)
def fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency check over six candidate A→B pairs: an FD
    holds iff no determinant value maps to more than one dependent value.

    100 TB posture: each candidate is one partial+final distinct-pair
    aggregate (groupBy A, countDistinct B) reduced to a single verdict
    row — the naive formulation (self-join on A, compare B) is quadratic
    in group size and never needed."""
    frames = []
    for table, det, dep in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, table)
        g = t.groupBy(det).agg(F.countDistinct(dep).alias("nd"))
        frames.append(
            g.agg(
                F.lit(f"{table}.{det}->{dep}").alias("fd"),
                F.count("*").alias("n_groups"),
                F.sum((F.col("nd") > 1).cast("long")).alias("n_violating"),
            ).select(
                "fd",
                "n_groups",
                "n_violating",
                (F.col("n_violating") == 0).alias("holds"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.orderBy("fd")


_ATTR_ORACLE = f"""
WITH purchases AS (
  SELECT event_id AS pid, user_id, ts AS pts, {CENTS_SQL} AS cents
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT p.pid, p.cents, e.event_type, e.ts, e.event_id
  FROM purchases p
  JOIN events e ON e.user_id = p.user_id
   AND e.ts >= p.pts - INTERVAL 1 HOUR AND e.ts < p.pts
   AND e.event_type <> 'purchase'
),
elected AS (
  SELECT pid, cents,
         min_by(event_type, lpad(CAST(epoch_ms(ts) AS VARCHAR), 15, '0')
                || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS first_touch,
         max_by(event_type, lpad(CAST(epoch_ms(ts) AS VARCHAR), 15, '0')
                || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_touch
  FROM touches GROUP BY pid, cents
),
credits AS (
  SELECT 'first_touch' AS model, first_touch AS event_type,
         SUM(cents) AS credited_cents, count(*) AS n_conversions
  FROM elected GROUP BY 2
  UNION ALL
  SELECT 'last_touch', last_touch, SUM(cents), count(*)
  FROM elected GROUP BY 2
)
SELECT model, event_type,
       CAST(credited_cents AS BIGINT) AS credited_cents,
       CAST(n_conversions AS BIGINT) AS n_conversions
FROM credits
ORDER BY model, event_type
"""


@register(
    "attribution_models_compare", tags=("behavior", "attribution"), oracle=_ATTR_ORACLE
)
def attribution_models_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch revenue attribution for purchases over the
    preceding-hour window per user, side by side: ONE candidate interval
    join (equi on user_id + hour band), then min_by/max_by elect each
    conversion's first and last touch with the (ts, event_id) tiebreak,
    then two grouped credit sums.

    100 TB posture: the interval join hashes on user_id (per-user fan-out
    bounded by events/hour); election is a partial+final aggregate, no
    window over the join output."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
        cents("value").alias("cents"),
    )
    others = e.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"), "event_type", "ts", "event_id"
    )
    touches = purchases.join(
        others,
        (purchases.user_id == others.t_user)
        & (others.ts >= purchases.pts - F.expr("INTERVAL 1 HOUR"))
        & (others.ts < purchases.pts),
    ).select("pid", "cents", "event_type", "ts", "event_id")
    # fixed-width (ms, id) string key: DuckDB's min_by/max_by take scalar
    # ordering keys only, and lexicographic on zero-padded decimals equals
    # numeric (ts, event_id) order in both engines
    tkey = (
        "lpad(CAST(unix_millis(ts) AS STRING), 15, '0')"
        " || lpad(CAST(event_id AS STRING), 12, '0')"
    )
    elected = touches.groupBy("pid", "cents").agg(
        F.expr(f"min_by(event_type, {tkey})").alias("first_touch"),
        F.expr(f"max_by(event_type, {tkey})").alias("last_touch"),
    )
    first = elected.groupBy(F.col("first_touch").alias("event_type")).agg(
        F.sum("cents").alias("credited_cents"), F.count("*").alias("n_conversions")
    ).select(F.lit("first_touch").alias("model"), "*")
    last = elected.groupBy(F.col("last_touch").alias("event_type")).agg(
        F.sum("cents").alias("credited_cents"), F.count("*").alias("n_conversions")
    ).select(F.lit("last_touch").alias("model"), "*")
    return (
        first.unionByName(last)
        .select(
            "model",
            "event_type",
            F.col("credited_cents").cast("long").alias("credited_cents"),
            F.col("n_conversions").cast("long").alias("n_conversions"),
        )
        .orderBy("model", "event_type")
    )


# ---------------------------------------------------------------------------
# Data-freshness audit (staleness vs the corpus watermark)
# ---------------------------------------------------------------------------

_STALE_MS = 24 * 3600 * 1000  # freshness SLO: within a day of the watermark

_FRESHNESS_ORACLE = f"""
WITH m AS (
  SELECT event_type, max(epoch_ms(ts)) AS last_ms, count(*)::BIGINT AS n_rows
  FROM events GROUP BY event_type
),
wm AS (SELECT max(last_ms) AS watermark FROM m)
SELECT event_type, n_rows,
       CAST(last_ms AS BIGINT) AS last_ms,
       CAST(wm.watermark - last_ms AS BIGINT) AS lag_ms,
       (wm.watermark - last_ms > {_STALE_MS}) AS stale
FROM m CROSS JOIN wm
ORDER BY event_type
"""


def _freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness against the corpus watermark: each event
    type's last-seen instant, its lag behind the global max, and a
    staleness flag at the one-day SLO — the landing-table health check a
    scheduler runs before kicking downstream jobs. One partial+final max
    aggregate; the watermark is a broadcast scalar."""
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.max(F.unix_millis("ts")).alias("last_ms"), F.count("*").alias("n_rows")
    )
    wm = m.agg(F.max("last_ms").alias("watermark"))
    return (
        m.crossJoin(F.broadcast(wm))
        .select(
            "event_type",
            "n_rows",
            F.col("last_ms").cast("long").alias("last_ms"),
            (F.col("watermark") - F.col("last_ms")).cast("long").alias("lag_ms"),
            (F.col("watermark") - F.col("last_ms") > _STALE_MS).alias("stale"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Sentinel-value audit (placeholder/default-value contamination)
# ---------------------------------------------------------------------------

_SENTINEL_ORACLE = f"""
WITH v AS (
  SELECT {CENTS_SQL} AS cents FROM events
),
m AS (
  SELECT count(*)::BIGINT AS n,
         sum(CASE WHEN cents = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
         sum(CASE WHEN cents < 0 THEN 1 ELSE 0 END)::BIGINT AS n_negative
  FROM v
),
mode_v AS (
  SELECT cents AS mode_value, count(*)::BIGINT AS mode_count
  FROM v GROUP BY cents ORDER BY count(*) DESC, cents LIMIT 1
)
SELECT m.n, m.n_zero, m.n_negative,
       CAST(m.n_zero * 1000000 // m.n AS BIGINT) AS zero_ppm,
       mode_v.mode_value, mode_v.mode_count,
       CAST(mode_v.mode_count * 1000000 // m.n AS BIGINT) AS mode_ppm,
       (mode_v.mode_count * 100 > m.n) AS mode_suspicious
FROM m CROSS JOIN mode_v
"""


def _sentinel_value_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Placeholder-contamination audit on the revenue column: zero and
    negative counts, the modal value with its share, and a suspicion flag
    when one exact value owns >1% of rows (defaults, clamps, and failed
    parses all surface as an over-represented mode). Exact ppm; the mode
    is a bounded-heap top-1 over per-value counts with a deterministic
    tiebreak."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(cents("value").alias("cents"))
    m = v.agg(
        F.count("*").alias("n"),
        F.sum((F.col("cents") == 0).cast("long")).alias("n_zero"),
        F.sum((F.col("cents") < 0).cast("long")).alias("n_negative"),
    )
    from topk_spark.ops.topk import topn

    mode_v = topn(
        v.groupBy(F.col("cents").alias("mode_value")).agg(
            F.count("*").alias("mode_count")
        ),
        [F.desc("mode_count"), F.asc("mode_value")],
        1,
    )
    return (
        m.crossJoin(F.broadcast(mode_v))
        .select(
            "n",
            "n_zero",
            "n_negative",
            # integral div mirrors the oracle's exact '//' (decimal-widened:
            # count·1e6 outgrows 2^53 at full-corpus row counts)
            F.expr(
                "CAST(CAST(n_zero AS DECIMAL(38,0)) * 1000000 div n"
                " AS BIGINT)"
            ).alias("zero_ppm"),
            "mode_value",
            "mode_count",
            F.expr(
                "CAST(CAST(mode_count AS DECIMAL(38,0)) * 1000000 div n"
                " AS BIGINT)"
            ).alias("mode_ppm"),
            (F.col("mode_count") * 100 > F.col("n")).alias("mode_suspicious"),
        )
    )


# ---------------------------------------------------------------------------
# Combined landing-table health audit (round-5 fold)
# ---------------------------------------------------------------------------

_HEALTH_ORACLE = f"""
WITH fresh AS ({_FRESHNESS_ORACLE.strip()}),
sent AS ({_SENTINEL_ORACLE.strip()}),
fresh2 AS (
  SELECT event_type AS key, n_rows, last_ms, lag_ms,
         CAST(CASE WHEN stale THEN 1 ELSE 0 END AS BIGINT) AS stale
  FROM fresh
),
sent2 AS (
  SELECT 'value_cents' AS key, n, n_zero, n_negative, zero_ppm,
         CAST(mode_value AS BIGINT) AS mode_value, mode_count, mode_ppm,
         CAST(CASE WHEN mode_suspicious THEN 1 ELSE 0 END AS BIGINT)
           AS mode_suspicious
  FROM sent
)
SELECT 'freshness' AS chk, key, metric, CAST(value AS BIGINT) AS value
FROM fresh2 UNPIVOT (value FOR metric IN (n_rows, last_ms, lag_ms, stale))
UNION ALL
SELECT 'sentinel' AS chk, key, metric, CAST(value AS BIGINT) AS value
FROM sent2 UNPIVOT (value FOR metric IN (n, n_zero, n_negative, zero_ppm,
                                         mode_value, mode_count, mode_ppm,
                                         mode_suspicious))
"""


@register(
    "events_health_audit",
    tags=("profiling", "freshness", "quality"),
    oracle=_HEALTH_ORACLE,
)
def events_health_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The landing-table health gate a scheduler runs before kicking
    downstream jobs, as ONE metric frame (round-5 fold of the former
    `freshness_audit` + `sentinel_value_audit`: both are audits that
    naturally emit (check, key, metric, value) rows, one driver row covers
    both plans):

    - chk='freshness': per event_type — last-seen instant, lag behind the
      corpus watermark, row count, staleness flag at the one-day SLO.
    - chk='sentinel': the revenue column — zero/negative counts, exact-ppm
      modal-value share, suspicion flag when one value owns >1% of rows.

    Booleans are emitted as 0/1 so every metric shares one BIGINT column;
    the reshape is Spark's native unpivot (map-only, no exchange of its
    own) over the two tiny audit aggregates."""
    fresh = _freshness_audit(spark, sf_dir).select(
        F.col("event_type").alias("key"),
        F.col("n_rows").cast("long"),
        "last_ms",
        "lag_ms",
        F.col("stale").cast("long").alias("stale"),
    )
    fresh_long = fresh.unpivot(
        ["key"], ["n_rows", "last_ms", "lag_ms", "stale"], "metric", "value"
    ).select(F.lit("freshness").alias("chk"), "key", "metric", "value")
    sent = _sentinel_value_audit(spark, sf_dir).select(
        F.lit("value_cents").alias("key"),
        F.col("n").cast("long"),
        F.col("n_zero").cast("long"),
        F.col("n_negative").cast("long"),
        "zero_ppm",
        F.col("mode_value").cast("long"),
        F.col("mode_count").cast("long"),
        "mode_ppm",
        F.col("mode_suspicious").cast("long").alias("mode_suspicious"),
    )
    sent_long = sent.unpivot(
        ["key"],
        ["n", "n_zero", "n_negative", "zero_ppm", "mode_value",
         "mode_count", "mode_ppm", "mode_suspicious"],
        "metric",
        "value",
    ).select(F.lit("sentinel").alias("chk"), "key", "metric", "value")
    return fresh_long.unionByName(sent_long)
