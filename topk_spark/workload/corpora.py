"""Shared test-corpus builders for the dedup/recall workloads.

Lives outside the query modules so importing it does NOT trigger query
registration (registration order is the driver's verification order —
workload/__init__.py:load_all).

The testdata has no literal near-duplicates, so near-dup workloads construct
a deterministic perturbed corpus inline: every selected doc is unioned with a
copy missing its last word (id + PERT_OFFSET). True near-dup pairs are then
known BY CONSTRUCTION — each doc with its perturbation (3-gram Jaccard
≈ 0.98, unrelated docs ≈ 0.0) — which is what lets the recall queries bound
LSH recall without quadratic exact work.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table

PERT_OFFSET = 100_000

# The DuckDB twin of `perturbed_corpus`, as a `corpus` CTE over a `base` CTE
# of (doc_id, text) rows in scope.
PERTURBED_CORPUS_SQL = f"""corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL
  SELECT doc_id + {PERT_OFFSET} AS doc_id,
         array_to_string(l[1:len(l)-1], ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM base)
)"""


def perturbed_corpus(
    spark: SparkSession, sf_dir: str, modulo: int | None = None
) -> DataFrame:
    """docs (optionally doc_id % modulo == 0) ∪ last-word-dropped copies."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if modulo:
        d = d.filter(F.col("doc_id") % modulo == 0)
    toks = F.split(F.trim("text"), r"\s+")
    pert = d.select(
        (F.col("doc_id") + PERT_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )
    # The testdata parquet is one row group → ~2 file splits, which would run
    # the CPU-heavy shingle/minhash maps downstream on 2 of 32 cores. A real
    # corpus arrives with thousands of file splits; give the tiny test corpus
    # the same property explicitly. (Cheap: only (doc_id, text) rows move.)
    return d.unionByName(pert).repartition(
        spark.sparkContext.defaultParallelism
    )


def perturbed_hsh(spark, sf_dir: str, modulo: int = 5):
    """Write-once materialized (id, hashed-shingles) table for the
    perturbed corpus — the per-snapshot signature table the dedup queries
    share. Multiple consumers (prefix probes, posting indexes, verify
    joins, clustering) would otherwise each re-run the tokenize/hash
    kernel scan; materializing once per (sf, modulo) matches the
    production discipline of building signatures once per corpus
    snapshot."""
    from topk_spark.ops.layout import layout_cache_root, materialize_once
    from topk_spark.ops.sig_kernels import SIG_KERNEL_VERSION, hashed_shingles

    corpus = perturbed_corpus(spark, sf_dir, modulo=modulo)
    # Canonical cache key (ops.layout.layout_cache_root): dataset-path
    # fingerprint + version — versioned by the HASH-KERNEL so a kernel
    # change never silently reuses a cache written by old code.
    path = materialize_once(
        layout_cache_root(
            sf_dir, f"pert{modulo}_hsh3", version=SIG_KERNEL_VERSION
        ),
        lambda p: hashed_shingles(corpus, "doc_id", "text", 3)
        .write.mode("overwrite")
        .parquet(p),
    )
    return spark.read.parquet(path)
