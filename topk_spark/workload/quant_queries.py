"""Vector quantization operators: int8 symmetric quantization of the
embedding column and integer-dot-product top-k — the memory/bandwidth
lever real ANN stacks pull before anything else (4× smaller vectors,
SIMD-friendly integer math), expressed so the WHOLE pipeline is
hash-oracleable.

Why this is deterministic when float cosine is not: quantization uses only
correctly-rounded IEEE ops on values both engines hold bit-identically
(float→double widening is exact; ÷ and × are correctly rounded; floor is
exact), and from there every dot product is BIGINT arithmetic — no float
accumulation order anywhere. The float path (cosine_topk) needs a
Kahan-style fold to be comparable; the int8 path is exact by construction.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.workload import register
from topk_spark.workload.sketch2_queries import _bounds_oracle

_N_QUERIES = 5
_TOPK = 5

# per-vector symmetric int8: scale = 127 / max|x|, q_i = floor(x_i * scale)
_Q_SQL_DUCK = """
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(
                  CAST(x AS DOUBLE)
                  * (127.0 / list_max(list_transform(embedding,
                       y -> abs(CAST(y AS DOUBLE)))))
                ) AS BIGINT)) AS q
  FROM embeddings
"""

_INT8_ORACLE = f"""
WITH quant AS ({_Q_SQL_DUCK}),
qs AS (SELECT vec_id AS query_id, q AS qa FROM quant WHERE vec_id < {_N_QUERIES}),
scored AS (
  SELECT qs.query_id, c.vec_id,
         CAST(list_sum(list_transform(qs.qa, (x, i) -> x * c.q[i]))
              AS BIGINT) AS int_dot
  FROM qs JOIN quant c ON c.vec_id <> qs.query_id
),
ranked AS (
  SELECT query_id, vec_id, int_dot,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY int_dot DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, int_dot, rnk
FROM ranked WHERE rnk <= {_TOPK}
ORDER BY query_id, rnk
"""


@register(
    "int8_quantized_topk",
    tags=("ANN-quant", "similarity"),
    headline=True,
    oracle=_INT8_ORACLE,
)
def int8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized similarity top-k: symmetric per-vector quantization
    (scale = 127/max|x|, floor — every step correctly-rounded IEEE, hence
    engine-identical), then BIGINT dot products and a per-query top-5.
    Plan shape = cosine_topk's broadcast-queries × corpus map scan — no
    corpus shuffle — but each vector is 4× smaller and the hot loop is
    integer multiply-add; at 100 TB that is the difference between a
    bandwidth-bound and compute-bound scan. Rank window runs per query id
    over bounded candidate sets."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Round-13 (guide §4.2): quantization + BIGINT dots moved from
    # interpreted Catalyst lambdas to one vectorized numpy pass per Arrow
    # batch. The old plan held TWO interpreted hot loops: CollapseProject
    # had re-inlined the "hoisted" per-vector scale back into the
    # per-element transform (array_max inside the lambda → O(d²)
    # interpreted reductions per row — visible in the r13 before-plan,
    # node (3)), and each of the corpus × queries pairs paid an
    # interpreted aggregate(zip_with(...)) fold. Exactness is unchanged:
    # float32→float64 widening is exact, ÷ and × are correctly-rounded
    # IEEE doubles and floor is exact in numpy exactly as in Catalyst, and
    # the dot is int64 math (order-free). The query set is a bounded
    # collect (≤ _N_QUERIES rows — the documented broadcast-queries
    # pattern of ops/similarity); only (vec_id, embedding) cross the
    # Python boundary, and the scored rows leaving it are 3 narrow
    # columns, so the rank window shuffles exactly what it ranks.
    q_rows = sorted(
        emb.filter(F.col("vec_id") < _N_QUERIES).collect(),
        key=lambda r: r["vec_id"],
    )

    def _quant_rows(mat: np.ndarray) -> np.ndarray:
        # symmetric per-vector int8: floor(x * (127 / max|x|)), row-wise.
        # Zero-norm guard (round-14 ADVICE): an all-zero row would give
        # scale=inf and 0*inf=NaN, whose int64 cast is platform-undefined in
        # numpy — the old Catalyst form cast NaN→0, i.e. all-zero rows
        # quantize to all-zero. Substituting scale=127 for those rows
        # produces exactly that (floor(0*127)=0) with defined behavior.
        mx = np.abs(mat).max(axis=1, keepdims=True)
        scale = 127.0 / np.where(mx == 0.0, 1.0, mx)
        return np.floor(mat * scale).astype(np.int64)

    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = _quant_rows(
        np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    )  # (n_queries, d)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            corpus = _quant_rows(
                np.array(list(pdf["embedding"]), dtype=np.float64)
            )
            dots = corpus @ q_mat.T  # (n_rows, n_queries), exact int64
            n, nq = dots.shape
            out_q = np.repeat(q_ids, n)
            out_v = np.tile(vids, nq)
            out_d = dots.T.reshape(-1)
            keep = out_v != out_q  # self-pairs excluded, as in the oracle
            yield pd.DataFrame(
                {
                    "query_id": out_q[keep],
                    "vec_id": out_v[keep],
                    "int_dot": out_d[keep],
                }
            )

    scored = emb.mapInPandas(
        score, "query_id long, vec_id long, int_dot long"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("int_dot"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK)
        .orderBy("query_id", "rnk")
    )


_PQ_METRICS = ["n_queries_eq_5", "recall_avg_ge_0.85", "recall_min_ge_0.7"]


@register("pq_ann_recall", tags=("ANN-pq",), oracle=_bounds_oracle(_PQ_METRICS))
def pq_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of product-quantization ANN (m=16 subspaces x 6-bit codes
    = 12 bytes/vector, a 21x compression of the float64 array) with an 8x
    exact-cosine re-rank of the ADC shortlist, against brute-force cosine
    top-10 — the FAISS refine pattern (ops/similarity.py:pq_topk).
    Measured: avg 1.0 / min 1.0 at sf0.01, avg 0.94 / min 0.8 at sf0.1 on
    this worst-case near-uniform corpus (true neighbors at cos~0.3);
    floors 0.85/0.7 sit under both. The ADC scan reads CODES, not vectors
    — at 100 TB the bandwidth win is the whole point — and each Arrow
    batch emits only its partial top-shortlist, so no Q x N blowup."""
    from topk_spark.ops.similarity import brute_force_topk, pq_topk
    from topk_spark.workload.recall_queries import _ann_queries, _ann_recall_metrics

    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_queries(emb)
    exact = brute_force_topk(emb, q, k=10)
    approx = pq_topk(emb, q, k=10, m=16, nbits=6, rerank_factor=8)
    return _ann_recall_metrics(exact, approx, 0.85, 0.7)


# ---------------------------------------------------------------------------
# Exact per-dimension quartiles of the embedding space
# ---------------------------------------------------------------------------


