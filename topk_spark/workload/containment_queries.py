"""Asymmetric near-duplicate detection: shingle CONTAINMENT — the
"document A is (mostly) inside document B" relation that symmetric Jaccard
misses (a short quote of a long doc has low Jaccard but containment ≈ 1).
This is the quote/excerpt detector a pre-training curation pass runs next
to full-document dedup.

``containment_neardup_pairs``: ordered pairs (a → b), a ≠ b, with
C(a→b) = |S(a) ∩ S(b)| / |S(a)| ≥ 0.8 over distinct 3-gram shingles.

Candidate generation is an EXACT prefix filter, the asymmetric cousin of
ngram_jaccard_neardup's: if C(a→b) ≥ t then a shares ≥ ⌈t·|S(a)|⌉ shingles
with b, so ANY subset of S(a) of size |S(a)| − ⌈t·|S(a)|⌉ + 1 must hit
S(b) (pigeonhole — no ordering assumption needed). Probe side = that
prefix of each doc's hashed shingles; index side = the full posting list;
the join is LOSSLESS for the threshold. The quadratic all-pairs form
exists only as the DuckDB oracle.

Thresholds are cross-multiplied integers (5·|∩| ≥ 4·|A|) and the reported
containment is exact ppm (BIGINT floor) — hash-oracle-safe.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.workload import register
from topk_spark.workload.corpora import PERTURBED_CORPUS_SQL

_T_NUM, _T_DEN = 4, 5  # threshold 4/5 = 0.8

_CONTAIN_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
),
{PERTURBED_CORPUS_SQL},
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l)-1),
            i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) AS s
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
        FROM corpus)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) * 1000000 // len(a.s) AS BIGINT)
         AS containment_ppm
FROM sh a, sh b
WHERE a.doc_id <> b.doc_id
  AND {_T_DEN} * len(list_intersect(a.s, b.s)) >= {_T_NUM} * len(a.s)
ORDER BY id_a, id_b
"""


@register(
    "containment_neardup_pairs", tags=("DD-containment",), oracle=_CONTAIN_ORACLE
)
def containment_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (a → b) pairs with shingle containment ≥ 0.8, via the lossless
    asymmetric prefix filter (module docstring).

    100 TB posture: probe rows per doc ≈ (1−t)·|S| 8-byte hashes, index
    rows |S| — both linear in corpus size; candidates shuffle as (hash,
    id) keys bounded by posting-list lengths, never as a cartesian; the
    exact verify joins hash ARRAYS (8 B/shingle), never text."""
    from topk_spark.workload.corpora import perturbed_hsh

    # The shingle table feeds FOUR consumers (prefix probe, posting index,
    # and both verify sides); the shared write-once signature table
    # (workload/corpora.py:perturbed_hsh — also reused by the ngram-Jaccard
    # and clustering queries) runs the tokenize/hash kernel once per
    # corpus snapshot instead of once per consuming branch.
    hsh = perturbed_hsh(spark, sf_dir)
    # prefix length |S| − ceil(t·|S|) + 1, exact-integer ceil
    plen = (
        F.size("hsh")
        - F.floor((F.lit(_T_NUM) * F.size("hsh") + F.lit(_T_DEN - 1)) / _T_DEN)
        + 1
    ).cast("int")
    probe = hsh.select(
        F.col("id").alias("id_a"), F.explode(F.slice("hsh", 1, plen)).alias("tok")
    )
    index = hsh.select(F.col("id").alias("id_b"), F.explode("hsh").alias("tok"))
    cand = (
        probe.join(index, "tok")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pairs = cand.join(
        hsh.select(F.col("id").alias("id_a"), F.col("hsh").alias("sh_a")), "id_a"
    ).join(hsh.select(F.col("id").alias("id_b"), F.col("hsh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    na = F.size("sh_a").cast("long")
    return (
        pairs.filter(F.lit(_T_DEN) * inter >= F.lit(_T_NUM) * na)
        .select(
            "id_a",
            "id_b",
            F.floor(inter * F.lit(1000000) / na).cast("long").alias(
                "containment_ppm"
            ),
        )
        .orderBy("id_a", "id_b")
    )
