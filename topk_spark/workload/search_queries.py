"""Text-search / trending operators: inverted-index postings, posting-list
boolean search, half-life-decayed trending top-k, and period-over-period
rank movers.

Pinot ships inverted + text indexes and its headline use-case is trending
top-k (SURVEY.md §2 K1-K7); Spark has no index structures, so the
Spark-first answer is (a) build the posting lists AS DATA — a token →
sorted-doc-list table that downstream joins consume (at 100 TB this is a
bucketed-by-token materialized table, and a term lookup is a partition-
pruned point read), and (b) express boolean search as posting-set joins,
which Catalyst turns into hash semi/anti joins instead of re-scanning raw
text per query.

Determinism discipline (everything here is value-hash oracled):
- posting lists are sorted, distinct, sliced, and joined to CSV strings —
  no set/array ordering leaks into the hash;
- decay weights are powers of two applied by integer floor-divide
  (cents DIV 2^age_days) — bit-identical at any parallelism, no float
  summation order anywhere;
- ranks tie-break on the key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.money import cents
from topk_spark.workload import register

_TOKEN_RE = "[^a-z]+"
_TOP_TOKENS = 50
_POSTING_PREFIX = 20


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token) pairs, one row per distinct token per doc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), _TOKEN_RE)).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )


_INDEX_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(lower(text), '{_TOKEN_RE}')) AS token
  FROM documents
)
SELECT token,
       count(*) AS df,
       array_to_string(
         list_sort(list(doc_id))[1:{_POSTING_PREFIX}], ','
       ) AS postings_prefix
FROM tok
WHERE token <> ''
GROUP BY token
ORDER BY df DESC, token ASC
LIMIT {_TOP_TOKENS}
"""


@register("inverted_index_postings", tags=("SEARCH", "index"), oracle=_INDEX_ORACLE)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (Pinot inverted/text index analog,
    pinot_table_config.json index sections): token → document frequency +
    sorted posting list (first 20 doc ids as CSV so the hash is
    order-stable). One explode + one hash agg; at 100 TB the output is
    written bucketed by token, making term lookups partition-pruned joins
    instead of corpus scans. Top 50 tokens by df."""
    tok = _doc_tokens(spark, sf_dir)
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, _POSTING_PREFIX),
                ",",
            ).alias("postings_prefix"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(_TOP_TOKENS)
    )


_DECAY_ORACLE = """
WITH mx AS (SELECT max(CAST(ts AS DATE)) AS md FROM events),
ev AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         LEAST(date_diff('day', CAST(ts AS DATE), mx.md), 62) AS age_days
  FROM events CROSS JOIN mx
)
SELECT event_type,
       CAST(SUM(cents // (CAST(1 AS BIGINT) << age_days)) AS BIGINT)
         AS decayed_cents,
       CAST(SUM(CASE WHEN age_days = 0 THEN cents ELSE 0 END) AS BIGINT)
         AS today_cents
FROM ev
GROUP BY event_type
ORDER BY decayed_cents DESC, event_type ASC
"""


@register(
    "trending_decayed_topk", tags=("topk", "decay"), headline=True, oracle=_DECAY_ORACLE
)
def trending_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed trending score (exponential time decay with a
    1-day half-life): score = Σ cents DIV 2^age_days. Decay by power-of-two
    floor-divide keeps every intermediate an exact BIGINT — the sum is
    bit-identical at any partition count, unlike float exp() decay, while
    ranking identically to it. Max-date is a 1-row broadcast (same scalar
    pattern as topk_revenue_raw_24h); everything else is one map + one
    partial+final agg over event_type."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("md"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            cents("value")
            .alias("cents"),
            F.least(
                F.datediff(F.col("md"), F.to_date("ts")), F.lit(62)
            ).alias("age_days"),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("cents div (cast(1 as bigint) << age_days)")).alias(
                "decayed_cents"
            ),
            F.sum(F.expr("case when age_days = 0 then cents else 0 end")).alias(
                "today_cents"
            ),
        )
        .orderBy(F.desc("decayed_cents"), F.asc("event_type"))
    )


_MOVERS_ORACLE = """
WITH mx AS (SELECT max(CAST(ts AS DATE)) AS md FROM events),
daily AS (
  SELECT user_id,
         CAST(ts AS DATE) AS d,
         SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
  FROM events
  WHERE event_type = 'purchase'
  GROUP BY user_id, CAST(ts AS DATE)
),
cur AS (
  SELECT user_id, cents,
         rank() OVER (ORDER BY cents DESC, user_id ASC) AS rnk
  FROM daily, mx WHERE d = mx.md
),
prev AS (
  SELECT user_id, cents,
         rank() OVER (ORDER BY cents DESC, user_id ASC) AS rnk
  FROM daily, mx WHERE d = mx.md - INTERVAL 1 DAY
)
SELECT COALESCE(c.user_id, p.user_id) AS user_id,
       c.rnk AS rank_cur,
       p.rnk AS rank_prev,
       COALESCE(p.rnk, 101) - COALESCE(c.rnk, 101) AS rank_gain
FROM (SELECT * FROM cur WHERE rnk <= 100) c
FULL OUTER JOIN (SELECT * FROM prev WHERE rnk <= 100) p USING (user_id)
ORDER BY rank_gain DESC, user_id ASC
LIMIT 25
"""


@register("topk_rank_movers", tags=("topk", "movers"), oracle=_MOVERS_ORACLE)
def topk_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k churn between periods: who entered / climbed the purchase-
    revenue top-100 between yesterday and today (absent rank imputed as
    101). The two ranked sides are top-100 slices — tiny — so the full
    outer join is a broadcast-able 100×100 reconciliation regardless of
    corpus size; the only full-data pass is the daily pre-aggregate, which
    shuffles once on (user_id, day). Ranks tie-break on user_id."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.to_date("ts")).alias("md"))
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.to_date("ts").alias("d"),
            "md",
            cents("value").alias("cents"),
        )
        .filter(F.col("d") >= F.date_sub(F.col("md"), 1))
        .groupBy("user_id", "d", "md")
        .agg(F.sum("cents").alias("cents"))
    )
    def ranked(day_expr):
        # (cents DESC, user_id ASC) is a TOTAL order, so rank() == row_number()
        # — which lets the global window run over a bounded-heap top-100
        # (TakeOrderedAndProject) instead of every user of the day.
        top = (
            daily.filter(F.col("d") == day_expr)
            .orderBy(F.desc("cents"), F.asc("user_id"))
            .limit(100)
        )
        w = Window.orderBy(F.desc("cents"), F.asc("user_id"))
        return top.withColumn("rnk", F.row_number().over(w)).select("user_id", "rnk")

    cur = ranked(F.col("md"))
    prev = ranked(F.date_sub(F.col("md"), 1))
    return (
        cur.withColumnRenamed("rnk", "rank_cur")
        .join(prev.withColumnRenamed("rnk", "rank_prev"), "user_id", "full")
        .select(
            "user_id",
            "rank_cur",
            "rank_prev",
            (
                F.coalesce(F.col("rank_prev"), F.lit(101))
                - F.coalesce(F.col("rank_cur"), F.lit(101))
            ).alias("rank_gain"),
        )
        .orderBy(F.desc("rank_gain"), F.asc("user_id"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# BM25 ranking (rational-idf variant, deterministic fold)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "window", "fast")
_BM25_K1, _BM25_B = 1.2, 0.75

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT count(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ('join', 'window', 'fast') GROUP BY doc_id, tok
),
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
per_term AS (
  SELECT tf.doc_id, tf.tok,
         ((stats.n_docs - df.df + 0.5) / (df.df + 0.5))
         * (tf.tf * ({_BM25_K1} + 1))
         / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
            + {_BM25_B} * dl.dl / stats.avgdl)) AS s
  FROM tf
  JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
),
agg AS (
  SELECT doc_id,
         round(list_reduce(list_prepend(0.0, list(s ORDER BY tok)),
                           (a, b) -> a + b), 6) AS bm25,
         count(*) AS n_terms
  FROM per_term GROUP BY doc_id
),
rk AS (
  SELECT doc_id, bm25, CAST(n_terms AS BIGINT) AS n_terms,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rnk
  FROM agg
)
SELECT doc_id, bm25, n_terms, rnk FROM rk WHERE rnk <= 10 ORDER BY rnk
"""


@register("bm25_topdocs", tags=("SEARCH", "bm25"), oracle=_BM25_ORACLE)
def bm25_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking for a fixed 3-term query (rational idf — the log
    dropped the same way tfidf_top_terms does, keeping per-term ranking
    monotone while avoiding libm ln differences between engines). Floats
    are safe by construction: tf/df/dl are exact integers, avgdl is one
    division, each per-term score is a fixed correctly-rounded expression
    tree, and the per-doc sum folds in TERM-SORTED order with an explicit
    0.0 seed — the same left fold DuckDB's list_reduce(list_prepend(0.0))
    runs, so the sum is bit-identical. Shape at scale: matched-term rows
    only (posting-list sized, not corpus), df/avgdl broadcast back, final
    top-10 is a bounded heap."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    per_term = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            (
                ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (_BM25_K1 + 1))
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    agg = (
        per_term.groupBy("doc_id")
        .agg(
            F.round(
                F.aggregate(
                    F.expr(
                        "transform(array_sort(collect_list(struct(tok, s))),"
                        " p -> p.s)"
                    ),
                    F.lit(0.0),
                    lambda a, b: a + b,
                ),
                6,
            ).alias("bm25"),
            F.count("*").alias("n_terms"),
        )
    )
    from topk_spark.ops.topk import global_topk

    return global_topk(
        agg, [F.desc("bm25"), F.asc("doc_id")], 10, sentinel_col=None, rank_col="rnk"
    ).select("doc_id", "bm25", "n_terms", F.col("rnk").cast("int").alias("rnk"))
