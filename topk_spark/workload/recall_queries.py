"""Hard-signal oracles for the engine's APPROXIMATE operators (VERDICT.md
round-1 gap #2): every sketch/LSH/ANN query that previously ran rows-only
gets a deterministic recall/error companion here.

The pattern: the Spark query computes the approximate result AND its exact
baseline in one plan, reduces them to recall/error metrics, and emits
`(metric, ok)` boolean rows against a fixed floor. Everything is
deterministic (xxhash-derived hashes, seeded k-means, fixed query sets), so
the DuckDB oracle is the bound itself — a constant VALUES table. If an
algorithm regresses below its floor at the driver's scale, the hash check
fails. Floors were measured at sf0.001 / 0.01 / 0.1 and set with margin
below the observed minimum (documented per query).

`multimodal_decode_roundtrip` is the same idea for the decode kernel: the
fixture encodes REAL image byte streams whose dimensions are an arithmetic
function of doc_id, the kernel struct-parses the actual bytes, and the
oracle predicts the output by arithmetic — a true encode→decode round trip
checked end-to-end.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.ops.fuzzy_dedup import (
    hamming64,
    jaccard,
    minhash_neardup_pairs,
    simhash_neardup_pairs,
    tokenize,
    word_shingles,
)
from topk_spark.ops.similarity import (
    as_double_array,
    brute_force_topk,
    ivf_topk,
    lsh_ann_topk,
)
from topk_spark.ops.sketches import exact_distinct, hll_estimate, hll_sketch
from topk_spark.workload import register
from topk_spark.workload.corpora import PERT_OFFSET as _PERT_OFFSET
from topk_spark.workload.corpora import perturbed_corpus
from topk_spark.workload.sketch2_queries import _bounds_oracle, _metric_rows

_N_ANN_QUERIES = 5


def _ann_queries(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < _N_ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), as_double_array("embedding").alias("qv")
    )


def _ann_recall_metrics(
    exact: DataFrame, approx: DataFrame, avg_floor: float, min_floor: float
) -> DataFrame:
    """recall@k per query = |approx ∩ exact| / |exact|, then avg/min floors."""
    ex = exact.select("query_id", "vec_id")
    hits = ex.join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").alias("hits"))
    per_q = (
        ex.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce("hits", F.lit(0)) / F.col("n_exact")).alias("recall"),
        )
    )
    agg = per_q.agg(
        F.count("*").alias("nq"),
        F.avg("recall").alias("avg_r"),
        F.min("recall").alias("min_r"),
    )
    return _metric_rows(
        agg,
        [
            (f"n_queries_eq_{_N_ANN_QUERIES}", F.col("nq") == _N_ANN_QUERIES),
            (f"recall_avg_ge_{avg_floor}", F.col("avg_r") >= avg_floor),
            (f"recall_min_ge_{min_floor}", F.col("min_r") >= min_floor),
        ],
    )


_LSH_METRICS = ["n_queries_eq_5", "recall_avg_ge_0.7", "recall_min_ge_0.5"]


@register("lsh_ann_recall", tags=("ANN-lsh",), oracle=_bounds_oracle(_LSH_METRICS))
def lsh_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of hyperplane-LSH ANN (H=4, L=16) against the exact
    brute-force top-10, per query, floored. Deterministic: hyperplanes are
    xxhash64-derived, so recall at a given sf is a fixed number; theory for
    this corpus's weak neighbor structure (cos≈0.3) predicts ≈0.89 — the
    floor sits below every measured sf."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_queries(emb)
    exact = brute_force_topk(emb, q, k=10)
    ann = lsh_ann_topk(emb, q, k=10, num_planes=4, num_tables=16)
    return _ann_recall_metrics(exact, ann, 0.7, 0.5)


_IVF_METRICS = ["n_queries_eq_5", "recall_avg_ge_0.6", "recall_min_ge_0.4"]


@register("ivf_ann_recall", tags=("ANN-ivf",), oracle=_bounds_oracle(_IVF_METRICS))
def ivf_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of IVF ANN (nlist=16, nprobe=6) against exact brute-force
    top-10. Seeded k-means makes cell assignment reproducible per sf.
    Floors reflect this synthetic corpus's near-uniform vectors (the worst
    case for density-adaptive IVF — true neighbors sit at cos≈0.3 and
    scatter across cells): measured avg/min = 0.78/0.6 at both sf0.01 and
    sf0.1; a real clustered embedding space does far better at lower
    nprobe."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_queries(emb)
    exact = brute_force_topk(emb, q, k=10)
    ann = ivf_topk(emb, q, k=10, nlist=16, nprobe=6)
    return _ann_recall_metrics(exact, ann, 0.6, 0.4)


_MINHASH_METRICS = ["truth_nonempty", "recall_ge_0.95"]


@register(
    "minhash_lsh_recall", tags=("DD-minhash",), oracle=_bounds_oracle(_MINHASH_METRICS)
)
def minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH near-dup pipeline against CONSTRUCTED truth:
    the perturbed corpus pairs each doc with its last-word-dropped copy
    (id, id+offset), so the true near-dup set is known without quadratic
    work — truth = constructed pairs whose exact 3-gram Jaccard ≥ 0.6
    (computed pairwise via equi-join, linear). Precision is structural (the
    pipeline exact-verifies candidates); recall is what LSH banding risks,
    bounded here. P(surface) = 1-(1-j^4)^16 ≈ 1.0 at j≈0.97."""
    corpus = perturbed_corpus(spark, sf_dir)
    sh = corpus.select(
        F.col("doc_id").alias("id"),
        word_shingles(tokenize(F.col("text")), 3).alias("sh"),
    )
    orig = sh.filter(F.col("id") < _PERT_OFFSET).select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a")
    )
    pert = sh.filter(F.col("id") >= _PERT_OFFSET).select(
        (F.col("id") - _PERT_OFFSET).alias("id_a"), F.col("sh").alias("sh_b")
    )
    truth = (
        orig.join(pert, "id_a")
        .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.6)
        .select("id_a", (F.col("id_a") + _PERT_OFFSET).alias("id_b"))
    )
    found = minhash_neardup_pairs(
        corpus, threshold=0.6, shingle_n=3, num_perm=64, bands=16
    ).select("id_a", "id_b")
    agg = truth.join(found, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").alias("n_hit")
    ).crossJoin(truth.agg(F.count("*").alias("n_truth")))
    return _metric_rows(
        agg,
        [
            ("truth_nonempty", F.col("n_truth") > 0),
            ("recall_ge_0.95", F.col("n_hit") / F.col("n_truth") >= 0.95),
        ],
    )


_SIMHASH_METRICS = ["truth_nonempty", "recall_ge_0.8"]


@register(
    "simhash_recall", tags=("DD-simhash",), oracle=_bounds_oracle(_SIMHASH_METRICS)
)
def simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of SimHash 16-bit-chunk bucketing against constructed truth:
    truth = constructed (doc, perturbed-doc) pairs within hamming ≤ 6
    (computed pairwise, linear). The pigeonhole guarantee is exact only for
    hamming ≤ 3; at ≤ 6 a pair can spread flips 2+2+1+1 across all four
    chunks and be missed, hence a floor (~0.9 measured) rather than 1.0."""
    corpus = perturbed_corpus(spark, sf_dir, modulo=5)
    # Truth hamming comes from the SAME signature source the pipeline uses
    # (the kernel), so the recall bound measures bucketing loss, not a
    # hash-family mismatch.
    from topk_spark.ops.sig_kernels import simhash_table

    h = simhash_table(corpus, "doc_id", "text")
    orig = h.filter(F.col("id") < _PERT_OFFSET).select(
        F.col("id").alias("id_a"), F.col("sim").alias("sim_a")
    )
    pert = h.filter(F.col("id") >= _PERT_OFFSET).select(
        (F.col("id") - _PERT_OFFSET).alias("id_a"), F.col("sim").alias("sim_b")
    )
    truth = (
        orig.join(pert, "id_a")
        .filter(hamming64(F.col("sim_a"), F.col("sim_b")) <= 6)
        .select("id_a", (F.col("id_a") + _PERT_OFFSET).alias("id_b"))
    )
    found = simhash_neardup_pairs(corpus, max_hamming=6).select("id_a", "id_b")
    agg = truth.join(found, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").alias("n_hit")
    ).crossJoin(truth.agg(F.count("*").alias("n_truth")))
    return _metric_rows(
        agg,
        [
            ("truth_nonempty", F.col("n_truth") > 0),
            ("recall_ge_0.8", F.col("n_hit") / F.col("n_truth") >= 0.8),
        ],
    )


@register(
    "hll_error_bound",
    tags=("A7", "A8"),
    oracle="SELECT event_type, true AS ok FROM events GROUP BY event_type",
)
def hll_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL estimate vs exact distinct: relative error must stay
    within 5% (lg_k=12 → theoretical σ ≈ 1.04/√4096 ≈ 1.6%, so 5% ≈ 3σ).
    Build-merge path matches distinct_hll (hourly sketches unioned) so the
    bound covers re-aggregated sketches, not just single-pass ones."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        hll_sketch("user_id").alias("sketch")
    )
    est = (
        hourly.groupBy("event_type")
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .select("event_type", hll_estimate("sketch").alias("est"))
    )
    exact = e.groupBy("event_type").agg(exact_distinct("user_id").alias("exact"))
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            (
                F.abs(F.col("est") - F.col("exact")) / F.col("exact") <= F.lit(0.05)
            ).alias("ok"),
        )
    )


@register(
    "multimodal_decode_roundtrip",
    tags=("MM-decode",),
    oracle="""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END
         AS format,
       CAST(16 + doc_id % 32 AS INT) AS width,
       CAST(16 + (doc_id // 3) % 32 AS INT) AS height
FROM documents WHERE doc_id % 11 = 0
""",
)
def multimodal_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image decode check: encode a REAL byte stream per doc
    (valid zlib-compressed PNG / marker-level JPEG / GIF, dims an arithmetic
    function of doc_id — ops/multimodal.py:payload_dims), struct-parse the
    actual bytes back in the Arrow-batched decode kernel, and let the oracle
    predict the result by pure arithmetic. A broken encoder OR parser breaks
    the hash match. Blobs stay map-side (mapInPandas); only typed metadata
    leaves the scan. The fixture payloads are grayscale; the codec also
    does 3-component YCbCr 4:2:0 baseline color (the standard corpus
    layout — ops/multimodal.py:_decode_scan_420, encoded by
    tests/test_properties.py, cycle-pinned by its color laws (luma bound on
    arbitrary content, full-RGB bound on chroma-smooth content)."""
    from topk_spark.ops.multimodal import decode_metadata, make_image_payload

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    meta = decode_metadata(make_image_payload(d))
    return meta.select("doc_id", "format", "width", "height")


_INT8_METRICS = ["n_queries_eq_5", "recall_avg_ge_0.9", "recall_min_ge_0.8"]


@register(
    "int8_quant_recall", tags=("ANN-quant",), oracle=_bounds_oracle(_INT8_METRICS)
)
def int8_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the int8-quantized scorer against exact float cosine.
    Raw integer dot ranks by UNNORMALIZED similarity, so the fair
    comparison applies the per-candidate algebraic correction: with
    q_v = floor(v·127/max|v|), int_dot ≈ (127/max|a|)(127/max|b|)(a·b),
    hence score = int_dot · max|b|/‖b‖ ranks identically to cosine up to
    quantization error (query-side factors are rank-constant). Measured
    recall@10: 1.0 at sf0.01, ≥0.9 at sf0.1; floors 0.9 avg / 0.8 min.
    The correction is one multiply per candidate — the int8 scan stays
    integer in the hot loop."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_queries(emb)
    exact = brute_force_topk(emb, q, k=10).select("query_id", "vec_id")
    quant = emb.select(
        "vec_id",
        "embedding",
        # hoisted once per row: interpreted lambdas re-evaluate any inner
        # array_max per element (see int8_quantized_topk)
        F.expr(
            "array_max(transform(embedding, y -> abs(cast(y as double))))"
        ).alias("mx"),
    ).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double)"
            " * (cast(127.0 as double) / mx)) as bigint))"
        ).alias("q"),
        F.expr(
            "mx / sqrt(aggregate(transform(embedding,"
            " y -> cast(y as double) * cast(y as double)),"
            " cast(0.0 as double), (a, v) -> a + v))"
        ).alias("corr"),
    )
    qs = quant.filter(F.col("vec_id") < _N_ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa")
    )
    scored = (
        quant.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                F.expr(
                    "aggregate(zip_with(qa, q, (x, y) -> x * y),"
                    " cast(0 as bigint), (acc, v) -> acc + v)"
                ).cast("double")
                * F.col("corr")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    approx = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 10)
        .select("query_id", "vec_id")
    )
    return _ann_recall_metrics(exact, approx, 0.9, 0.8)


_IVF_LAYOUT_METRICS = ["n_queries_eq_5", "recall_avg_ge_0.6", "recall_min_ge_0.4"]


@register(
    "ivf_pruned_probe_recall",
    tags=("ANN-ivf", "layout"),
    oracle=_bounds_oracle(_IVF_LAYOUT_METRICS),
)
def ivf_pruned_probe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE-TIME IVF layout, demonstrated: the corpus is materialized
    once PARTITIONED BY CELL (ops/similarity.py:ivf_cell_layout — same
    seeded quantizer as ivf_topk, one file per cell), and the probe is a
    partition-pruned read: `cell IN (probed)` lands in the scan's
    PartitionFilters (pinned in tests/test_round2_ops.py), so Spark lists
    only the probed directories — query-time IO is nprobe/nlist of the
    corpus and the corpus never shuffles at query time. Recall floors are
    ivf_ann_recall's (identical cells ⇒ identical candidate sets)."""
    from topk_spark.ops.layout import materialize_once
    from topk_spark.ops.similarity import (
        ANN_TRAIN_VERSION,
        ivf_cell_layout,
        ivf_probe_cells,
    )
    from topk_spark.workload.layout_queries import _layout_root

    emb = load_table(spark, sf_dir, "embeddings")
    # version = quantizer-training version: the cell layout on disk must
    # have been written by the SAME training code the probe path retrains
    # with, or probes and storage disagree on cell boundaries.
    path = materialize_once(
        _layout_root(sf_dir, "ivf_cells", version=ANN_TRAIN_VERSION),
        lambda p: ivf_cell_layout(emb, p, nlist=16, seed=7),
    )
    stored = spark.read.parquet(path)
    q = _ann_queries(emb)
    probes = ivf_probe_cells(q, emb, nlist=16, nprobe=6, seed=7)
    probed_cells = [
        r["cell"] for r in probes.select("cell").distinct().collect()
    ]
    scored = (
        stored.filter(F.col("cell").isin(probed_cells))  # -> PartitionFilters
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.expr(
                    "aggregate(zip_with(qv, vv, (x, y) -> x * y), cast(0.0 as"
                    " double), (a, v) -> a + v)"
                    " / (sqrt(aggregate(transform(qv, x -> x * x), cast(0.0 as"
                    " double), (a, v) -> a + v))"
                    " * sqrt(aggregate(transform(vv, x -> x * x), cast(0.0 as"
                    " double), (a, v) -> a + v)))"
                ),
                6,
            ).alias("score"),
        )
    )
    from topk_spark.ops.topk import rank_topk

    ann = rank_topk(scored, ["query_id"], [F.desc("score"), F.asc("vec_id")], 10)
    exact = brute_force_topk(emb, _ann_queries(emb), k=10)
    return _ann_recall_metrics(exact, ann, 0.6, 0.4)
