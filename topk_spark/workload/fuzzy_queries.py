"""Near-duplicate detection queries over `documents` + ANN over `embeddings`.

The testdata has no literal near-duplicates, so the dedup queries construct a
deterministic perturbed corpus inline: every selected doc is unioned with a
copy missing its last word (id + 100000). True near-dup pairs are then known
by construction — each doc with its perturbation (3-gram Jaccard ≈ 0.98,
while unrelated docs sit at ≈ 0.0 even with this 31-word vocabulary).

`ngram_jaccard_neardup` is the exact, DuckDB-oracled baseline; the MinHash /
SimHash / LSH variants (engine-specific hashing → rows-only driver checks)
are pinned against the exact baseline in tests/test_fuzzy.py instead.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.ops.fuzzy_dedup import ngram_jaccard_pairs
from topk_spark.workload import register
from topk_spark.workload.corpora import PERT_OFFSET as _PERT_OFFSET
from topk_spark.workload.corpora import PERTURBED_CORPUS_SQL
from topk_spark.workload.corpora import perturbed_corpus  # noqa: F401 (re-export)
from topk_spark.workload.corpora import perturbed_hsh

# 3-gram shingle CTE shared by every fuzzy-dedup oracle (expects a `corpus`
# CTE with doc_id/text in scope). Windowing MUST match the Spark kernel
# (sig_kernels._shingle_hash_u64): a doc with <= n tokens collapses to ONE
# truncated window over all its tokens. For len == 3 the truncated window
# equals the single full window the range() formula already emits, so only
# len <= 2 needs the branch — without it, two identical 1-2-token docs are
# J=1 on the Spark side but shingle-less (0/0 -> NULL, dropped) here.
_SH_CTE = """sh AS (
  SELECT doc_id,
         CASE WHEN len(l) <= 2 THEN [array_to_string(l, ' ')]
              ELSE list_distinct(list_transform(range(1, len(l)-1),
                 i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) END AS s
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
        FROM corpus)
)"""


def _pairs_oracle(where: str, threshold: str) -> str:
    """Exact 3-gram Jaccard pairs (rounded to 4 dp) at or above `threshold`
    over the perturbed corpus of `documents` filtered by `where`."""
    return f"""
WITH base AS (
  SELECT doc_id, text FROM documents{where}
),
{PERTURBED_CORPUS_SQL},
{_SH_CTE}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.s, b.s))::DOUBLE
             / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE, 4) AS jaccard
FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND len(list_intersect(a.s, b.s))::DOUBLE
      / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE >= {threshold}
"""


# Every document's reach over the near-dup pair graph (Jaccard >= 0.5 on the
# doc_id % 5 = 0 perturbed corpus): the closure the cluster oracles group.
_REACH_SQL = f"""
WITH RECURSIVE base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
),
{PERTURBED_CORPUS_SQL},
{_SH_CTE},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a, sh b
  WHERE a.doc_id < b.doc_id
    AND len(list_intersect(a.s, b.s))::DOUBLE
        / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(id, r) AS (
  SELECT DISTINCT a AS id, a AS r FROM edges
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
)"""


@register(
    "ngram_jaccard_neardup",
    tags=("DD-ngram",),
    oracle=_pairs_oracle(" WHERE doc_id % 5 = 0", "0.5"),
)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard near-dup detection on the perturbed
    corpus subset — the oracle-checked baseline the LSH methods approximate."""
    corpus = perturbed_corpus(spark, sf_dir, modulo=5)
    return ngram_jaccard_pairs(
        corpus, n=3, threshold=0.5, hsh=perturbed_hsh(spark, sf_dir)
    )


@register(
    "minhash_lsh_neardup",
    headline=True,  # bench: the shuffle-heavy LSH band-join dedup path
    tags=("DD-minhash",),
    # Exact-Jaccard twin (round-5: the registry's last rows-only query put
    # under the hash gate). Sound because the pipeline's emitted pairs are
    # (LSH candidate) AND (exact Jaccard >= 0.6), and on the fixture corpora
    # the two sides cannot disagree:
    #   * false candidates are removed by the exact verify on BOTH sides
    #     (the oracle applies the same >= 0.6 predicate);
    #   * a missed candidate needs a qualifying pair to collide in NONE of
    #     the 16 bands — qualifying fixture pairs sit at J >= 0.85 (planted
    #     raw pairs >= 0.9, perturbation twins ~0.98, their cross pairs
    #     >= ~0.88 — measured, see stream_neardup_drain's gap notes), where
    #     per-band agreement is >= 0.85^4 = 0.52 and an all-16-miss is a
    #     ~1e-6 deterministic-hash event, pre-flight-verified absent at
    #     sf0.001/sf0.01 (the gate scales);
    #   * the jaccard VALUE is size(intersect)/size(union) of the same
    #     distinct-shingle sets (64-bit hashed on the Spark side — a
    #     collision is a 2^-64/pair event), both engines divide the same
    #     exact integers in IEEE double and round to 4, so values are
    #     bit-identical.
    oracle=_pairs_oracle("", "0.6") + "ORDER BY id_a, id_b\n",
)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64 perms) + LSH(16 bands × 4 rows) near-dup pipeline over the
    full perturbed corpus: candidates from band-bucket joins, verified with
    exact Jaccard ≥ 0.6. The scale path: shuffle carries only
    (band_hash, doc_id), never text — and the tokenize+hash scan runs ONCE
    per corpus snapshot (materialized signature table, corpora.perturbed_hsh
    discipline); the steady-state query replays permutation minima over the
    stored hashes. Bit-identical to the text path (same hash kernel), so
    minhash_lsh_recall's floors pin this plan too. The oracle is the exact
    all-pairs answer (soundness argument at the registration site); the
    quadratic form is DELIBERATELY oracle-only — the Spark side never does
    all-pairs work."""
    from topk_spark.ops.fuzzy_dedup import minhash_neardup_pairs_from_hsh
    from topk_spark.workload.corpora import perturbed_hsh

    hsh = perturbed_hsh(spark, sf_dir, modulo=None)
    return minhash_neardup_pairs_from_hsh(
        hsh, threshold=0.6, num_perm=64, bands=16
    ).orderBy("id_a", "id_b")


@register(
    "neardup_cluster_dedup",
    tags=("DD-cluster",),
    oracle=f"""{_REACH_SQL}
SELECT id, CAST(min(r) AS BIGINT) AS component,
       (id = min(r)) AS keep
FROM reach
GROUP BY id
""",
)
def neardup_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup canonicalization: near-dup pairs (exact 3-gram Jaccard ≥
    0.5, same corpus as ngram_jaccard_neardup) → connected components by
    iterative min-label propagation → keep = component minimum. The step
    that turns pair detection into an actual deduplicated corpus; oracled
    end-to-end by a DuckDB recursive CTE computing the same closure."""
    from topk_spark.ops.fuzzy_dedup import connected_components

    corpus = perturbed_corpus(spark, sf_dir, modulo=5)
    pairs = ngram_jaccard_pairs(
        corpus, n=3, threshold=0.5, hsh=perturbed_hsh(spark, sf_dir)
    )
    comp = connected_components(pairs)
    return comp.withColumn("keep", F.col("id") == F.col("component"))


_GOLDEN_ORACLE = f"""{_REACH_SQL},
comp AS (
  SELECT id, min(r) AS component FROM reach GROUP BY id
),
wt AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS w FROM corpus
),
ranked AS (
  SELECT comp.id, comp.component, wt.w,
         row_number() OVER (PARTITION BY comp.component
                            ORDER BY wt.w DESC, comp.id ASC) AS rn
  FROM comp JOIN wt ON wt.doc_id = comp.id
)
SELECT r.id, CAST(r.component AS BIGINT) AS component,
       CAST(e.id AS BIGINT) AS elected,
       (r.id = e.id) AS keep
FROM ranked r
JOIN (SELECT component, id FROM ranked WHERE rn = 1) e USING (component)
ORDER BY r.id
"""


@register("golden_record_election", tags=("er", "DD-canonical"), oracle=_GOLDEN_ORACLE)
def golden_record_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship after near-dup clustering: within each connected
    component, elect the RICHEST record (most tokens, ties to the lowest
    id) as the golden copy — the merge rule an entity-resolution pipeline
    applies after matching, upgraded from neardup_cluster_dedup's min-id
    convention to a quality-based election.

    100 TB posture: the election is a single partial+final `max_by(id,
    (w, -id))` aggregate per component — no window over rows, no sort;
    component labels come from the same iterative min-label propagation
    as neardup_cluster_dedup (lineage-truncated per round)."""
    from topk_spark.ops.fuzzy_dedup import connected_components, tokenize

    corpus = perturbed_corpus(spark, sf_dir, modulo=5)
    pairs = ngram_jaccard_pairs(
        corpus, n=3, threshold=0.5, hsh=perturbed_hsh(spark, sf_dir)
    )
    comp = connected_components(pairs)
    wt = corpus.select(
        F.col("doc_id").alias("id"), F.size(tokenize(F.col("text"))).alias("w")
    )
    joined = comp.join(wt, "id")
    elected = joined.groupBy("component").agg(
        F.expr("max_by(id, struct(w, -id))").alias("elected")
    )
    return (
        joined.join(elected, "component")
        .select(
            "id",
            F.col("component").cast("long").alias("component"),
            F.col("elected").cast("long").alias("elected"),
            (F.col("id") == F.col("elected")).alias("keep"),
        )
        .orderBy("id")
    )


_WJACC_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
),
{PERTURBED_CORPUS_SQL},
tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
  FROM corpus
),
cnt AS (
  SELECT doc_id, t, count(*)::BIGINT AS c FROM tok GROUP BY doc_id, t
),
joined AS (
  SELECT COALESCE(a.doc_id, b.doc_id - {_PERT_OFFSET}) AS id_a,
         COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
  FROM (SELECT * FROM cnt WHERE doc_id < {_PERT_OFFSET}) a
  FULL OUTER JOIN (SELECT * FROM cnt WHERE doc_id >= {_PERT_OFFSET}) b
    ON b.doc_id = a.doc_id + {_PERT_OFFSET} AND b.t = a.t
)
SELECT id_a, (id_a + {_PERT_OFFSET}) AS id_b,
       CAST(SUM(least(ca, cb)) * 1000000 // SUM(greatest(ca, cb)) AS BIGINT)
         AS wjaccard_ppm
FROM joined
GROUP BY id_a
ORDER BY id_a
"""


@register("weighted_jaccard_pairs", tags=("DD-weighted",), oracle=_WJACC_ORACLE)
def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED Jaccard (multiset: Σ min(aₜ,bₜ) / Σ max(aₜ,bₜ)) between each
    doc and its constructed perturbation — the similarity the set-based
    Jaccard under-reports when near-dups differ in token REPETITION, not
    vocabulary (boilerplate spam looks identical as a set). Exact ppm.

    100 TB posture: token counts are a (doc, token) partial+final count;
    the pair alignment is an equi-join on (doc, token) between the twin
    halves (full outer so one-sided tokens count in the max), then one
    grouped sum per pair — candidates come from the constructed pairing
    here; at scale the same verify runs on LSH candidates."""
    corpus = perturbed_corpus(spark, sf_dir, modulo=5)
    tok = corpus.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("t"),
    )
    cnt = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    a = cnt.filter(F.col("doc_id") < _PERT_OFFSET).select(
        F.col("doc_id").alias("id_a"), "t", F.col("c").alias("ca")
    )
    b = cnt.filter(F.col("doc_id") >= _PERT_OFFSET).select(
        (F.col("doc_id") - _PERT_OFFSET).alias("id_a"),
        "t",
        F.col("c").alias("cb"),
    )
    joined = a.join(b, ["id_a", "t"], "full_outer").select(
        "id_a",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    return (
        joined.groupBy("id_a")
        .agg(
            F.sum(F.least("ca", "cb")).alias("smin"),
            F.sum(F.greatest("ca", "cb")).alias("smax"),
        )
        .select(
            "id_a",
            (F.col("id_a") + _PERT_OFFSET).alias("id_b"),
            F.floor(F.col("smin") * F.lit(1000000) / F.col("smax"))
            .cast("long")
            .alias("wjaccard_ppm"),
        )
        .orderBy("id_a")
    )
