"""Maximal Marginal Relevance (Carbonell & Goldstein, 1998) diversified
retrieval — the dedup-aware ranking layer over ANN search: after the top-20
cosine shortlist, greedily pick 5 results trading relevance against
redundancy (λ=0.5): pick_k = argmax λ·rel(c) − (1−λ)·max_{s∈picked} sim(c,s).

Determinism: every similarity (query→candidate and candidate→candidate) is
the engine-contract sequential-fold cosine rounded to 6 dp; λ=0.5 is
exactly representable, so each greedy score is two correctly-rounded IEEE
ops on bit-agreed inputs; ties break on vec_id. The DuckDB oracle unrolls
the 5 greedy rounds as CTEs — an ITERATIVE selection algorithm that
value-hashes, like the fixed-point PageRank.

Scale shape: the expensive part is the ANN shortlist (bounded top-20 per
query — any of brute/LSH/IVF/PQ feeds it); pairwise sims are a
candidate×candidate join WITHIN each query's 20 rows (≤400 rows/query);
the greedy itself runs in a cogrouped applyInPandas kernel with O(k²)
state per query — never corpus-scale.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from topk_spark.io.sources import load_table
from topk_spark.ops.similarity import as_double_array, cosine
from topk_spark.ops.topk import rank_topk
from topk_spark.workload import register

_SHORTLIST = 20
_PICKS = 5
_QUERY_IDS = (0, 1, 2)

_MMR_SELECT_STEP = """,
sel{K} AS (
  SELECT query_id, vec_id, rel FROM (
    SELECT c.query_id, c.vec_id, c.rel,
           row_number() OVER (PARTITION BY c.query_id ORDER BY
             0.5 * c.rel - 0.5 * (
               SELECT max(p.sim) FROM pairs p
               JOIN picked{PREV} s ON s.query_id = c.query_id
                AND p.query_id = c.query_id
                AND p.a = c.vec_id AND p.b = s.vec_id
             ) DESC, c.vec_id ASC) AS rn
    FROM cands c
    WHERE NOT EXISTS (SELECT 1 FROM picked{PREV} s
                      WHERE s.query_id = c.query_id
                        AND s.vec_id = c.vec_id)
  ) WHERE rn = 1
),
picked{K} AS (
  SELECT query_id, vec_id, {K} AS pick FROM sel{K}
  UNION ALL SELECT query_id, vec_id, pick FROM picked{PREV}
)"""


def _mmr_oracle() -> str:
    ids = ", ".join(str(i) for i in _QUERY_IDS)
    steps = "".join(
        _MMR_SELECT_STEP.format(K=k, PREV=k - 1) for k in range(2, _PICKS + 1)
    )
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id IN ({ids})
),
scored AS (
  SELECT q.query_id, v.vec_id, v.embedding::DOUBLE[] AS vv,
         round(list_inner_product(q.qv, v.embedding::DOUBLE[])
               / (sqrt(list_inner_product(q.qv, q.qv))
                  * sqrt(list_inner_product(v.embedding::DOUBLE[],
                                            v.embedding::DOUBLE[]))), 6) AS rel
  FROM q, embeddings v WHERE v.vec_id != q.query_id
),
cands AS (
  SELECT query_id, vec_id, rel, vv FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY rel DESC, vec_id ASC) AS rnk
    FROM scored
  ) WHERE rnk <= {_SHORTLIST}
),
pairs AS (
  SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
         round(list_inner_product(a.vv, b.vv)
               / (sqrt(list_inner_product(a.vv, a.vv))
                  * sqrt(list_inner_product(b.vv, b.vv))), 6) AS sim
  FROM cands a JOIN cands b
    ON a.query_id = b.query_id AND a.vec_id != b.vec_id
),
sel1 AS (
  SELECT query_id, vec_id, rel FROM (
    SELECT query_id, vec_id, rel,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, vec_id ASC) AS rn
    FROM cands
  ) WHERE rn = 1
),
picked1 AS (SELECT query_id, vec_id, 1 AS pick FROM sel1){steps}
SELECT p.query_id, CAST(p.pick AS INT) AS pick, p.vec_id, c.rel
FROM picked{_PICKS} p JOIN cands c
  ON c.query_id = p.query_id AND c.vec_id = p.vec_id
ORDER BY p.query_id, p.pick
"""


@register("mmr_diversified_topk", tags=("MMR",), oracle=_mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-ranking of the exact top-20 cosine shortlist: greedy λ=0.5
    relevance-vs-redundancy selection of 5 per query. Relevance and
    pairwise sims are computed JVM-side with the engine-contract fold
    cosine; the greedy runs per query in a cogrouped applyInPandas kernel
    (candidates ⋈ pairwise sims by query_id, O(k²) state)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), as_double_array("embedding").alias("qv")
    )
    v = emb.select("vec_id", as_double_array("embedding").alias("vv"))
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "vv",
            F.round(cosine(F.col("qv"), F.col("vv")), 6).alias("rel"),
        )
    )
    cands = rank_topk(
        scored, ["query_id"], [F.desc("rel"), F.asc("vec_id")], _SHORTLIST
    ).select("query_id", "vec_id", "rel", "vv")
    ca, cb = cands.alias("ca"), cands.alias("cb")
    pairs = (
        ca.join(
            cb,
            (F.col("ca.query_id") == F.col("cb.query_id"))
            & (F.col("ca.vec_id") != F.col("cb.vec_id")),
        )
        .select(
            F.col("ca.query_id").alias("query_id"),
            F.col("ca.vec_id").alias("a"),
            F.col("cb.vec_id").alias("b"),
            F.round(cosine(F.col("ca.vv"), F.col("cb.vv")), 6).alias("sim"),
        )
    )

    out_schema = StructType(
        [
            StructField("query_id", LongType(), False),
            StructField("pick", IntegerType(), False),
            StructField("vec_id", LongType(), False),
            StructField("rel", DoubleType(), False),
        ]
    )

    def greedy(cdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty:
            return pd.DataFrame(
                {"query_id": [], "pick": [], "vec_id": [], "rel": []}
            )
        qid = int(cdf["query_id"].iloc[0])
        rel = dict(zip(cdf["vec_id"], cdf["rel"]))
        sim = {(r.a, r.b): r.sim for r in pdf.itertuples()}
        # pick 1: max rel, tie -> min vec_id
        remaining = set(rel)
        first = min(remaining, key=lambda c: (-rel[c], c))
        picked = [first]
        remaining.discard(first)
        while len(picked) < _PICKS and remaining:
            def score(c):
                red = max(sim[(c, s)] for s in picked)
                return 0.5 * rel[c] - 0.5 * red
            best = min(remaining, key=lambda c: (-score(c), c))
            picked.append(best)
            remaining.discard(best)
        return pd.DataFrame(
            {
                "query_id": [qid] * len(picked),
                "pick": list(range(1, len(picked) + 1)),
                "vec_id": picked,
                "rel": [rel[c] for c in picked],
            }
        )

    grouped = cands.drop("vv").groupBy("query_id").cogroup(
        pairs.groupBy("query_id")
    )
    return grouped.applyInPandas(greedy, out_schema).orderBy("query_id", "pick")
