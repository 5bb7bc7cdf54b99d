"""Similarity search over the `embeddings` table (north-star ANN surface).

Brute-force cosine top-k is the exact baseline: a broadcast of the (small)
query set against a full scan of the corpus — no shuffle of the corpus at
all, so it scales linearly with corpus size and is embarrassingly parallel.
The LSH-bucketed variant (added in ops/similarity) is the 100 TB path: it
trades exactness for touching only matching buckets.

Numeric determinism: dot products are computed by a sequential left-fold over
the array (`aggregate`) in double precision — the same order DuckDB's
`list_inner_product` uses — so oracle values match bit-for-bit; scores are
additionally rounded to 6 dp in the output.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.ops.similarity import as_double_array, dot
from topk_spark.ops.topk import rank_topk
from topk_spark.workload import register

_QUERY_IDS = (0, 1, 2)


@register(
    "cosine_topk",
    headline=True,
    tags=("ANN-brute",),
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN {_QUERY_IDS}
),
scored AS (
  SELECT q.query_id, v.vec_id, v.label,
         round(list_inner_product(q.qv, v.embedding::DOUBLE[])
               / (sqrt(list_inner_product(q.qv, q.qv))
                  * sqrt(list_inner_product(v.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]))), 6) AS score
  FROM q, embeddings v
  WHERE v.vec_id != q.query_id
),
rk AS (
  SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, label, score, rank
FROM rk WHERE rank <= 5
""",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 neighbors for a fixed query set.

    Round-13 (guide §4.2): the per-pair dot products moved from interpreted
    Catalyst `aggregate(zip_with(...))` folds (3 folds per pair — dot(q,v)
    plus BOTH norms, the query norm recomputed for every corpus row) to one
    numpy pass per Arrow batch. Bit-identical by construction: the kernel
    accumulates dimension-by-dimension in index order across the whole
    batch (`acc += A[:,i]*q[i]`), which is exactly the sequential left-fold
    order the oracle's `list_inner_product` and the old expression used —
    every + and × is the same correctly-rounded IEEE double op in the same
    order; sqrt and ÷ are correctly rounded; the 6-dp rounding stays in
    Spark. The corpus still never shuffles (queries are a bounded ≤3-row
    collect), and only the 4 needed columns cross the Python boundary."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = sorted(
        emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)

    def _fold_dot(a_mat: np.ndarray, b_vec: np.ndarray) -> np.ndarray:
        # sequential left-fold over dimensions, vectorized across rows:
        # identical op order to aggregate(zip_with(a, b, *), 0.0, +)
        acc = np.zeros(a_mat.shape[0], dtype=np.float64)
        for i in range(a_mat.shape[1]):
            acc += a_mat[:, i] * b_vec[i]
        return acc

    def _fold_sq(a_mat: np.ndarray) -> np.ndarray:
        acc = np.zeros(a_mat.shape[0], dtype=np.float64)
        for i in range(a_mat.shape[1]):
            acc += a_mat[:, i] * a_mat[:, i]
        return acc

    q_norms = np.sqrt(
        np.array([_fold_sq(q_mat[j : j + 1])[0] for j in range(len(q_rows))])
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labels = pdf["label"].to_numpy()
            vv = np.array(list(pdf["embedding"]), dtype=np.float64)
            v_norm = np.sqrt(_fold_sq(vv))
            frames = []
            for j in range(len(q_ids)):
                cos = _fold_dot(vv, q_mat[j]) / (q_norms[j] * v_norm)
                keep = vids != q_ids[j]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(keep.sum(), q_ids[j]),
                            "vec_id": vids[keep],
                            "label": labels[keep],
                            "raw_score": cos[keep],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    scored = (
        emb.select("vec_id", "label", "embedding")
        .mapInPandas(score, "query_id long, vec_id long, label int, raw_score double")
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(F.col("raw_score"), 6).alias("score"),
        )
    )
    return rank_topk(
        scored, ["query_id"], [F.desc("score"), F.asc("vec_id")], 5
    ).select("query_id", "vec_id", "label", "score", "rank")


@register(
    "semantic_dedup",
    headline=True,  # bench: iterative label propagation + cluster-local pairs
    tags=("DD-semantic",),
    oracle="""
WITH RECURSIVE v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM v a, v b
  WHERE a.label = b.label AND a.vec_id < b.vec_id
    AND list_inner_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.3
),
edges AS (
  SELECT ia AS a, ib AS b FROM pairs
  UNION
  SELECT ib AS a, ia AS b FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT a AS id, a AS r FROM edges
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT v.vec_id, v.label,
       CAST(coalesce(c.component, v.vec_id) AS BIGINT) AS component,
       (coalesce(c.component, v.vec_id) = v.vec_id) AS keep
FROM v LEFT JOIN comp c ON c.id = v.vec_id
""",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: vectors pair ONLY within
    their coarse cluster (here the `label` column stands in for the cell id
    an IVF/k-means pass assigns), cosine-threshold pairs connect into
    components, and one representative (the min vec_id) is kept per
    component. Because similarity is cluster-local by construction,
    components cannot span clusters — so the ENTIRE resolution (pairing and
    transitive closure) runs inside one `applyInPandas` kernel per cluster:
    one shuffle on the cell id, a float64 GEMM + union-find per cell, no
    iterative join rounds (`cluster_cosine_components`). The 0.3 threshold
    is calibrated to this synthetic testdata's similarity spread (real
    embedding spaces use ~0.95); the dataflow is threshold-independent.
    Oracled end-to-end by a DuckDB recursive CTE computing the same closure,
    singletons included."""
    from topk_spark.ops.similarity import cluster_cosine_components

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_cosine_components(
        emb.select("vec_id", "label", "embedding"), threshold=0.3
    ).select("vec_id", "label", "component", "keep")


@register(
    "embedding_neardup_pairs",
    tags=("DD-embed",),
    oracle="""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT a.label AS label_a, b.label AS label_b, count(*) AS n_pairs
FROM v a, v b
WHERE a.vec_id < b.vec_id
  AND list_inner_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.9
GROUP BY a.label, b.label
""",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: count cos ≥ 0.9 pairs per
    label combination, with LSH-BUCKETED candidate generation (the scale
    path — no unbounded cross join anywhere in the plan).

    Candidates come from multi-table hyperplane LSH (H=4 planes, L=16
    tables): vectors meet only inside a matching (table, signature) bucket,
    then the exact cosine predicate runs on candidates. At cos ≥ 0.9
    (θ ≤ 25.8°) the per-plane agreement probability is p = 1−θ/π ≈ 0.857, so
    the miss probability is (1−p⁴)¹⁶ ≈ 4e-6 — and the DuckDB oracle is the
    quadratic EXACT form, so the driver's hash check itself verifies the
    bucketed plan reproduces the all-pairs answer at gate scale (as does
    tests/test_fuzzy.py against the in-engine all-pairs twin). At 100 TB, H
    grows with corpus size so bucket width — and with it the candidate join —
    stays bounded; candidates shuffle as (table, sig) keys, never as a
    cartesian."""
    from topk_spark.ops.sig_kernels import bucket_pairs, hyperplane_signatures

    emb = load_table(spark, sf_dir, "embeddings")
    sigs = hyperplane_signatures(
        emb, "vec_id", "embedding", num_planes=4, num_tables=16
    )
    id_pairs = bucket_pairs(sigs, ["table_id", "sig"])
    v = emb.select(
        "vec_id", "label", as_double_array("embedding").alias("e")
    ).withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
    cand = id_pairs.join(
        v.select(
            F.col("vec_id").alias("id_a"), F.col("label").alias("label_a"),
            F.col("e").alias("ea"), F.col("nrm").alias("na"),
        ),
        "id_a",
    ).join(
        v.select(
            F.col("vec_id").alias("id_b"), F.col("label").alias("label_b"),
            F.col("e").alias("eb"), F.col("nrm").alias("nb"),
        ),
        "id_b",
    )
    # Exact verify stays in Catalyst with the sequential-fold dot, the same
    # summation order as the DuckDB oracle's list_inner_product.
    sim = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.filter(sim >= 0.9)
        .groupBy("label_a", "label_b")
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "embedding_norm_stats",
    tags=("similarity", "profiling"),
    oracle="""
SELECT label,
       count(*) AS n,
       CAST(SUM(CAST(round(sqrt(list_inner_product(
                embedding::DOUBLE[], embedding::DOUBLE[])), 6)
              AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm,
       round(min(round(sqrt(list_inner_product(
                embedding::DOUBLE[], embedding::DOUBLE[])), 6)), 6)
         AS min_norm,
       round(max(round(sqrt(list_inner_product(
                embedding::DOUBLE[], embedding::DOUBLE[])), 6)), 6)
         AS max_norm
FROM embeddings
GROUP BY label
""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm profile of the embedding corpus (the sanity gate
    every vector pipeline runs before trusting cosine math: norm ~ 0 or
    wildly varying norms mean a broken encoder). Norms fold sequentially
    in double (same order as DuckDB's list_inner_product), are rounded,
    then SUMMED AS DECIMAL — cross-row double addition is order-dependent
    under distributed aggregation, decimal addition is not, so the group
    totals are deterministic at any partitioning. Map-only per row + one
    partial+final agg; the vectors never shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    v = as_double_array(F.col("embedding"))
    norm = F.round(F.sqrt(dot(v, v)), 6)
    return (
        e.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("norm").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_norm"),
            F.round(F.min("norm"), 6).alias("min_norm"),
            F.round(F.max("norm"), 6).alias("max_norm"),
        )
    )
