"""Training-pair mining over the embeddings table — the data-prep stage of
contrastive / metric learning (triplet mining à la FaceNet, hard negatives
à la DPR): for each anchor, surface its most-similar SAME-label vector (the
positive) and most-similar OTHER-label vector (the hard negative), plus the
margin between them; and an exact-integer nearest-centroid classifier that
audits label quality corpus-wide.

Determinism discipline (same contracts the rest of the ANN surface uses):
- cosine scores are sequential left-folds in double, rounded to 6 dp —
  bit-identical to DuckDB's `list_inner_product` (similarity_queries.py).
- the centroid classifier never divides: vectors quantize to BIGINT
  (floor(x·2^20) — correctly-rounded IEEE steps, engine-identical), label
  centroids stay as (sum, count) pairs, and `argmax_L (x·S_L)/n_L` is
  decided from exact BIGINT dot products by a single correctly-rounded
  division — no float accumulation anywhere, no mean materialized.

Reference parity note: no mining surface exists in the reference; this
extends the engine's training-data-pipeline track (SURVEY.md §2 extension).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.similarity import as_double_array, cosine
from topk_spark.workload import register

_N_ANCHORS = 8

_HARDNEG_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_N_ANCHORS}
),
scored AS (
  SELECT q.query_id, q.qlabel, v.vec_id, v.label,
         round(list_inner_product(q.qv, v.embedding::DOUBLE[])
               / (sqrt(list_inner_product(q.qv, q.qv))
                  * sqrt(list_inner_product(v.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]))), 6) AS score
  FROM q, embeddings v WHERE v.vec_id != q.query_id
),
rk AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id, (label = qlabel)
      ORDER BY score DESC, vec_id ASC) AS rnk
  FROM scored
),
pos AS (SELECT query_id, vec_id AS pos_id, score AS pos_score
        FROM rk WHERE label = qlabel AND rnk = 1),
neg AS (SELECT query_id, vec_id AS neg_id, score AS neg_score
        FROM rk WHERE label != qlabel AND rnk = 1)
SELECT pos.query_id, pos.pos_id, pos.pos_score, neg.neg_id, neg.neg_score,
       round(pos.pos_score - neg.neg_score, 6) AS margin
FROM pos JOIN neg USING (query_id)
ORDER BY query_id
"""


@register("hard_negative_mining", tags=("MINE-hardneg",), oracle=_HARDNEG_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining: per anchor, the top same-label neighbor (positive)
    and top different-label neighbor (hard negative) by exact cosine, with
    the triplet margin. One broadcast-anchors × corpus scan — the corpus
    never shuffles; the per-(anchor, side) argmax is a window over the
    scored rows, grouped to one row per anchor. At 100 TB the exact scan
    swaps for the ANN shortlist (pq/lsh/ivf) with identical downstream
    shape — mining is scan + bounded per-anchor state, never a self-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        as_double_array("embedding").alias("qv"),
    )
    v = emb.select("vec_id", "label", as_double_array("embedding").alias("vv"))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            "vec_id",
            "label",
            F.round(cosine(F.col("qv"), F.col("vv")), 6).alias("score"),
        )
    )
    # best per (anchor, same/diff side): max over struct(score, -vec_id)
    # picks highest score, then LOWEST vec_id — one aggregation, no window.
    per_anchor = (
        scored.groupBy("query_id")
        .agg(
            F.max(
                F.when(
                    F.col("label") == F.col("qlabel"),
                    F.struct(F.col("score"), (-F.col("vec_id")).alias("nid")),
                )
            ).alias("p"),
            F.max(
                F.when(
                    F.col("label") != F.col("qlabel"),
                    F.struct(F.col("score"), (-F.col("vec_id")).alias("nid")),
                )
            ).alias("n"),
        )
    )
    return per_anchor.select(
        "query_id",
        (-F.col("p.nid")).alias("pos_id"),
        F.col("p.score").alias("pos_score"),
        (-F.col("n.nid")).alias("neg_id"),
        F.col("n.score").alias("neg_score"),
        F.round(F.col("p.score") - F.col("n.score"), 6).alias("margin"),
    ).orderBy("query_id")


_QSCALE = 1 << 20  # vector quantization scale for the integer classifier

_CENTROID_ORACLE = f"""
WITH qv AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS xi
  FROM embeddings
),
cent AS (
  SELECT label AS clabel,
         CAST(count(*) AS BIGINT) AS n,
         list_transform(range(1, 65),
           i -> list_sum(list_transform(list(xi), v -> v[i]))) AS s
  FROM qv GROUP BY label
),
scored AS (
  SELECT qv.vec_id, qv.label, cent.clabel, cent.n,
         list_sum(list_transform(qv.xi, (x, i) -> x * cent.s[i])) AS dotsum
  FROM qv, cent
),
best AS (
  SELECT vec_id, label, clabel,
         row_number() OVER (PARTITION BY vec_id ORDER BY
           CAST(dotsum AS DOUBLE) / n DESC, clabel ASC) AS rnk
  FROM scored
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct
FROM best WHERE rnk = 1
GROUP BY label
ORDER BY label
"""


@register("centroid_assign_accuracy", tags=("MINE-centroid",), oracle=_CENTROID_ORACLE)
def centroid_assign_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-label-centroid audit in EXACT integer arithmetic: quantize
    every vector to BIGINT (floor(x·2^20)), hold each label centroid as
    (component-sums S_L, count n_L) — never the mean — and assign each
    vector to argmax_L (x·S_L)/n_L. x·S_L is an exact BIGINT in both
    engines; the single division is one correctly-rounded IEEE op on
    identical operands, so partitioning can never flip an assignment.
    Output:
    per-label classification accuracy — the label-noise diagnostic run
    before training on weak labels. Shape: one pass builds centroids
    (partial+final agg, 64 BIGINTs per label), centroids broadcast back
    over the corpus scan, per-vector argmax over |labels| candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double)"
            f" * {_QSCALE}) as bigint))"
        ).alias("xi"),
    )
    # centroid sums: element-wise BIGINT sum via 64 positional aggregates,
    # expressed as aggregate-of-arrays (zip_with fold over collect? no —
    # a single groupBy with transform over posexplode keeps it columnar):
    comp = qv.select(
        "label", F.posexplode("xi").alias("i", "x")
    ).groupBy("label", "i").agg(F.sum("x").alias("sx"))
    cent = (
        comp.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("sx")))
            ).alias("pairs")
        )
        .select(
            F.col("label").alias("clabel"),
            F.expr("transform(pairs, p -> p.sx)").alias("s"),
        )
        .join(
            qv.groupBy(F.col("label").alias("clabel")).agg(
                F.count("*").alias("n")
            ),
            "clabel",
        )
    )
    scored = (
        qv.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "clabel",
            "n",
            F.expr(
                "aggregate(zip_with(xi, s, (x, y) -> x * y),"
                " cast(0 as bigint), (acc, v) -> acc + v)"
            ).alias("dotsum"),
        )
    )
    best = (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    (F.col("dotsum").cast("double") / F.col("n")).desc(),
                    F.col("clabel").asc(),
                )
            ),
        )
        .filter(F.col("rnk") == 1)
    )
    return (
        best.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum((F.col("clabel") == F.col("label")).cast("long")).alias(
                "n_correct"
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Instance-level kNN label-agreement audit (round 3)
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_NQ = 64  # deterministic evaluation sample: vec_id < 64

_KNN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS own_label, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_KNN_NQ}
),
scored AS (
  SELECT q.query_id, q.own_label, v.vec_id, v.label,
         round(list_inner_product(q.qv, v.embedding::DOUBLE[])
               / (sqrt(list_inner_product(q.qv, q.qv))
                  * sqrt(list_inner_product(v.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]))), 6) AS score
  FROM q, embeddings v
  WHERE v.vec_id != q.query_id
),
rk AS (
  SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rnk
  FROM scored
),
votes AS (
  SELECT query_id, own_label, label, count(*) AS c
  FROM rk WHERE rnk <= {_KNN_K}
  GROUP BY query_id, own_label, label
),
maj AS (
  SELECT query_id, own_label, label AS knn_label
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY c DESC, label ASC) AS vr
        FROM votes)
  WHERE vr = 1
)
SELECT own_label AS label,
       count(*) AS n_eval,
       CAST(SUM(CASE WHEN knn_label = own_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree,
       CAST(SUM(CASE WHEN knn_label = own_label THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS agree_ppm
FROM maj
GROUP BY own_label
ORDER BY label
"""


@register("knn_label_agreement", tags=("MINE-knn", "governance"), oracle=_KNN_ORACLE)
def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instance-level label-noise audit: for a deterministic evaluation
    sample (vec_id < 64), does each vector's 5-NN majority label agree
    with its OWN label? Per-label agreement in exact ppm. The instance
    sibling of centroid_assign_accuracy — kNN voting catches label noise
    that per-class centroids smooth over (multi-modal classes, boundary
    mislabels); the leave-one-out protocol (self excluded) is the
    standard noisy-label detector (Confident-Learning-style audits run
    exactly this sweep at corpus scale).

    Plan: broadcast the 64-row query sample against one corpus map
    scan (no corpus shuffle — the cosine_topk discipline), bounded-heap
    top-5 per query, then all aggregation on the ≤ 320-row vote
    table. Ranking uses the 6-dp-rounded score both engines compute
    bit-identically; majority ties break toward the smaller label."""
    from topk_spark.ops.topk import rank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("own_label"),
        as_double_array("embedding").alias("qv"),
    )
    v = emb.select("vec_id", "label", as_double_array("embedding").alias("vv"))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "own_label",
            "vec_id",
            "label",
            F.round(cosine(F.col("qv"), F.col("vv")), 6).alias("score"),
        )
    )
    top = rank_topk(
        scored, ["query_id"], [F.desc("score"), F.asc("vec_id")], _KNN_K
    )
    votes = top.groupBy("query_id", "own_label", "label").agg(
        F.count("*").alias("c")
    )
    w_maj = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("label"))
    maj = (
        votes.withColumn("vr", F.row_number().over(w_maj))
        .filter(F.col("vr") == 1)
        .select("query_id", "own_label", F.col("label").alias("knn_label"))
    )
    agree = (F.col("knn_label") == F.col("own_label")).cast("long")
    return (
        maj.groupBy(F.col("own_label").alias("label"))
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(agree).cast("long").alias("n_agree"),
        )
        .withColumn(
            "agree_ppm", F.expr("CAST(n_agree * 1000000 div n_eval AS BIGINT)")
        )
        .orderBy("label")
    )
