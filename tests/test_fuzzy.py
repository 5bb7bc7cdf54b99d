"""Fuzzy-dedup + ANN correctness: LSH methods pinned against their exact
baselines on the perturbed corpus (known near-dup pairs by construction)."""

from __future__ import annotations

import pyspark.sql.functions as F

from topk_spark.ops.fuzzy_dedup import (
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from topk_spark.ops.similarity import as_double_array, brute_force_topk, lsh_ann_topk
from topk_spark.io.sources import load_table
from topk_spark.workload.fuzzy_queries import _PERT_OFFSET, perturbed_corpus


def test_minhash_matches_exact_jaccard(spark, sf_dir):
    corpus = perturbed_corpus(spark, sf_dir, modulo=5)
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(corpus, n=3, threshold=0.6).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(
            corpus, threshold=0.6, shingle_n=3, num_perm=64, bands=16
        ).collect()
    }
    assert exact, "perturbed corpus must contain true near-dup pairs"
    # Verification makes precision exact; LSH recall at j≈0.98 with 16x4
    # bands is ≈1 — equality expected on this corpus.
    assert got == exact
    # every doc pairs with its perturbation
    sample = next(iter(exact))
    assert any(b - a == _PERT_OFFSET for a, b in exact)


def test_simhash_finds_perturbed_pairs(spark, sf_dir):
    corpus = perturbed_corpus(spark, sf_dir, modulo=25)
    n_docs = corpus.count() // 2
    # These word-salad docs (31-word vocab, ~54 tokens) leave several bit
    # votes at 0, so dropping one word flips ~4 bits — hamming ≤ 6 is the
    # realistic near-dup band here; chunk-bucket recall at 6 flips ≈ 0.9.
    pairs = simhash_neardup_pairs(corpus, max_hamming=6).collect()
    self_pairs = {
        (r["id_a"], r["id_b"]) for r in pairs if r["id_b"] - r["id_a"] == _PERT_OFFSET
    }
    assert len(self_pairs) >= int(0.75 * n_docs)
    hams = [r["hamming"] for r in pairs if r["id_b"] - r["id_a"] == _PERT_OFFSET]
    assert max(hams) <= 6


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), as_double_array("embedding").alias("qv")
    )
    exact = brute_force_topk(emb, queries, k=10)
    # H=4/L=16 → theoretical recall ≈0.89 on this corpus's ~72° neighbors
    approx = lsh_ann_topk(emb, queries, k=10, num_planes=4, num_tables=16)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"LSH ANN recall {recall:.2f} too low"
    # scores for overlapping pairs must be identical (exact rerank)
    es = {(r["query_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    as_ = {(r["query_id"], r["vec_id"]): r["score"] for r in approx.collect()}
    for key in e & a:
        assert es[key] == as_[key]


def test_ivf_ann_recall_vs_brute_force(spark, sf_dir):
    from topk_spark.ops.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), as_double_array("embedding").alias("qv")
    )
    exact = brute_force_topk(emb, queries, k=10)
    approx = ivf_topk(emb, queries, k=10, nlist=16, nprobe=4)
    es = {(r["query_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    as_ = {(r["query_id"], r["vec_id"]): r["score"] for r in approx.collect()}
    e, a = set(es), set(as_)
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF ANN recall {recall:.2f} too low"
    # exact rerank: overlapping pairs score identically
    for key in e & a:
        assert es[key] == as_[key]


def test_prefix_filter_equals_allpairs(spark, sf_dir):
    """The registered prefix-filtered n-gram Jaccard path must reproduce the
    quadratic all-pairs answer exactly (losslessness of AllPairs prefix
    filtering at the threshold)."""
    corpus = perturbed_corpus(spark, sf_dir, modulo=5)
    for t in (0.5, 0.6):
        exact = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(
                corpus, n=3, threshold=t, method="allpairs"
            ).collect()
        }
        pref = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(
                corpus, n=3, threshold=t, method="prefix"
            ).collect()
        }
        assert exact, "perturbed corpus must contain true near-dup pairs"
        assert pref == exact


def test_embedding_neardup_bucketed_equals_allpairs(spark, sf_dir):
    """The registered LSH-bucketed embedding near-dup query must reproduce
    the all-pairs per-label pair counts (miss probability ≈ 4e-6 per pair at
    cos ≥ 0.9 with H=4/L=16)."""
    from topk_spark.ops.similarity import as_double_array, dot
    from topk_spark.workload.similarity_queries import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label", as_double_array("embedding").alias("e")).withColumn(
        "nrm", F.sqrt(dot(F.col("e"), F.col("e")))
    )
    a = v.select(
        F.col("vec_id").alias("vid_a"), F.col("label").alias("label_a"),
        F.col("e").alias("ea"), F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("vid_b"), F.col("label").alias("label_b"),
        F.col("e").alias("eb"), F.col("nrm").alias("nb"),
    )
    sim = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    allpairs = (
        a.crossJoin(b)
        .filter(F.col("vid_a") < F.col("vid_b"))
        .filter(sim >= 0.9)
        .groupBy("label_a", "label_b")
        .agg(F.count("*").alias("n_pairs"))
    )
    exact = {tuple(r) for r in allpairs.collect()}
    got = {tuple(r) for r in embedding_neardup_pairs(spark, sf_dir).collect()}
    assert got == exact
