"""Approximate nearest-neighbor search over embedding columns (north-star
similarity-search surface, BASELINE.json:6).

Two tiers:
- `brute_force_topk` — exact cosine top-k: broadcast queries × corpus scan,
  rank per query. Linear, shuffle-free on the corpus; the correctness
  baseline.
- `lsh_ann_topk` — random-hyperplane LSH: 100 TB path. Corpus is bucketed by
  an H-bit signature (sign pattern against H deterministic hyperplanes);
  queries probe their own bucket plus all 1-bit-flip neighbors (multi-probe),
  and only those buckets are scanned + exactly re-ranked. Bucket assignment
  is a map-side expression; the only join is query-signature × bucket.

Hyperplane components are hash-derived (`sig_kernels.hyperplane_signatures`)
— deterministic across runs/executors with no RNG state or broadcast weight
matrix.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from topk_spark.ops.topk import rank_topk


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _corpus(corpus: DataFrame) -> DataFrame:
    """(vec_id, vv): the corpus's ids and double-typed embeddings."""
    return corpus.select("vec_id", as_double_array("embedding").alias("vv"))


def _rank_scored(cand: DataFrame, k: int) -> DataFrame:
    """Exact cosine of each (query, vec) candidate pair, self-matches
    dropped, ranked per query (score DESC, vec_id ASC)."""
    scored = cand.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("qv"), F.col("vv")), 6).alias("score"),
    )
    return rank_topk(scored, ["query_id"], [F.desc("score"), F.asc("vec_id")], k)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k per query: (query_id, vec_id, score, rank)."""
    q = queries.select("query_id", "qv")
    return _rank_scored(_corpus(corpus).crossJoin(F.broadcast(q)), k)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 6,
    num_tables: int = 8,
) -> DataFrame:
    """Approximate cosine top-k: multi-table hyperplane LSH + exact rerank
    inside matched buckets.

    L independent tables of H planes each: a vector lands in one bucket per
    table ((table_id, signature) keys); a query's candidates are the union of
    its L buckets. P(neighbor at cosine-angle θ surfaces) =
    1-(1-(1-θ/π)^H)^L — tune H (bucket size ≈ N/2^H) and L (recall) per
    corpus. Expected candidate fraction ≈ L/2^H of the corpus; the corpus is
    hashed in one Arrow-batched kernel pass (`hyperplane_signatures`, a
    single GEMM against the hash-derived plane matrix — corpus and query
    sides share the kernel, so bucket keys agree by construction),
    candidates are exactly reranked so scores equal the brute-force scores
    wherever they overlap.
    """
    from topk_spark.ops.sig_kernels import hyperplane_signatures

    v = hyperplane_signatures(
        _corpus(corpus),
        "vec_id",
        "vv",
        num_planes,
        num_tables,
        carry_vec=True,
    ).select(F.col("id").alias("vec_id"), "table_id", "sig", F.col("vec").alias("vv"))
    q = hyperplane_signatures(
        queries.select("query_id", "qv"),
        "query_id",
        "qv",
        num_planes,
        num_tables,
        carry_vec=True,
    ).select(
        F.col("id").alias("query_id"),
        "table_id",
        "sig",
        F.col("vec").alias("qv"),
    )
    scored = (
        v.join(F.broadcast(q), ["table_id", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qv"), F.col("vv")), 6).alias("score"),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    return rank_topk(scored, ["query_id"], [F.desc("score"), F.asc("vec_id")], k)


_LLOYD_ITERS = 20


def _lloyd(X: "np.ndarray", k: int, seed: int) -> "np.ndarray":
    """Deterministic k-means on a driver-side sample: k-means++ seeding from
    a seeded RandomState, `_LLOYD_ITERS` Lloyd rounds, empty cells keep
    their old centroid. The sample bound (caller-side) keeps this O(sample·k·d) —
    the quantizer-training cost FAISS-style IVF pays once, off the query
    path."""
    rs = np.random.RandomState(seed)
    n = len(X)
    centers = [X[rs.randint(n)]]
    for _ in range(1, k):
        d2 = np.min(
            [((X - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        p = d2 / d2.sum() if d2.sum() > 0 else None
        centers.append(X[rs.choice(n, p=p)])
    C = np.asarray(centers)
    for _ in range(_LLOYD_ITERS):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C


# Bump whenever quantizer training changes its OUTPUT for the same input
# (sample membership/order, Lloyd seeding/iterations): on-disk cell/code
# layouts key on it, so storage written by older training code is never
# probed with centroids from newer code. v2 = round-3 hash-membership
# sample in canonical id order.
ANN_TRAIN_VERSION = 2

_TRAIN_SAMPLE_N = 65536


def _train_sample(v: DataFrame, seed: int) -> "np.ndarray":
    """Bounded training sample for quantizer fitting that is DETERMINISTIC
    UNDER REPARTITIONING: the `_TRAIN_SAMPLE_N` rows with the smallest
    xxhash64(id, seed) — a seeded uniform draw whose membership depends
    only on ids, never on partition layout. A bare limit(n) takes
    whichever partitions answer first, so the trained centroids (hence
    all ANN output) could change with input partitioning. orderBy+limit
    compiles to TakeOrderedAndProject — per-partition bounded heaps, no
    global sort — so this stays one cheap pass at any corpus size.

    The returned rows are re-sorted by id: _lloyd's k-means++ init indexes
    into the sample array, so the ROW ORDER is part of the trained
    quantizer — canonical id order makes it a pure function of the sample
    SET (and matches the file order of an id-sorted corpus, keeping
    centroids stable vs the earlier limit(n) draw on such corpora)."""
    rows = (
        v.orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)), F.col("vec_id"))
        .limit(_TRAIN_SAMPLE_N)
        .select("vec_id", "vv")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    return np.asarray([r["vv"] for r in rows], dtype=np.float64)


def _assign_cells(v: DataFrame, C: "np.ndarray") -> DataFrame:
    """(vec_id, vv, cell): nearest-centroid assignment in one map-side
    Arrow-batched pass; the (small) centroid matrix ships inside the task
    closure."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("vv", ArrayType(DoubleType()), False),
            StructField("cell", IntegerType(), False),
        ]
    )
    Cm = np.asarray(C, dtype=np.float64)
    c2 = (Cm * Cm).sum(axis=1)

    def run(batches):
        for batch in batches:
            if not len(batch):
                continue
            V = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in batch["vv"]]
            )
            # argmin ||v-c||² = argmin (||c||² - 2 v·c) — one GEMM per batch.
            cell = (c2[None, :] - 2.0 * (V @ Cm.T)).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": batch["vec_id"].to_numpy(dtype=np.int64),
                    "vv": list(V),
                    "cell": cell.astype(np.int32),
                }
            )

    return v.select("vec_id", "vv").mapInPandas(run, schema)


_MAX_BLOCK_ELEMS = 1 << 22


def cluster_cosine_components(df: DataFrame, threshold: float) -> DataFrame:
    """SemDeDup-shaped semantic dedup, resolved per cluster in one pass:
    for each coarse cluster (a k-means cell id / `label`), connect vectors
    with cosine ≥ threshold into components and elect the min id per
    component. Output: (id, cluster, component, keep) — every input row
    appears, singletons as their own component.

    This is the scale shape SemDeDup (Abbas et al., 2023) actually runs:
    similarity is only ever computed WITHIN a coarse cell, so the whole
    problem — pair generation AND transitive closure — is cluster-local.
    One shuffle (groupBy cell), then a vectorized per-cell kernel: a
    float64 GEMM over the cell's normalized matrix plus an in-memory
    union-find. No iterative driver loop, no per-round checkpoint — the
    distributed `connected_components` op remains the tool for edge sets
    that genuinely span clusters.

    Memory: the GEMM runs in row blocks of ⌈_MAX_BLOCK_ELEMS / n⌉ rows so
    scratch stays ~`8·_MAX_BLOCK_ELEMS` bytes regardless of cell size; cell
    population is bounded by the coarse-quantizer design (SemDeDup's own
    contract), not by this kernel.

    Determinism: scores from the blocked GEMM are accepted outright only
    when they clear the threshold by >1e-9; borderline pairs are recomputed
    with the same sequential left-fold the Catalyst/DuckDB oracle expression
    uses, so summation-order ulps can never flip an edge vs the oracle.
    """
    cluster_field = df.schema["label"]
    out_schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("label", cluster_field.dataType, True),
            StructField("component", LongType(), False),
            StructField("keep", BooleanType(), False),
        ]
    )

    def _seq_cosine(a: np.ndarray, b: np.ndarray) -> float:
        def fold(x: np.ndarray, y: np.ndarray) -> float:
            acc = 0.0
            for k in range(len(x)):
                acc += float(x[k]) * float(y[k])
            return acc

        import math

        return fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        n = len(ids)
        if n == 0:
            return pd.DataFrame(
                {c.name: pd.Series(dtype=object) for c in out_schema}
            )
        E = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        nrm = np.sqrt(np.einsum("ij,ij->i", E, E))
        N = E / nrm[:, None]

        parent = np.arange(n)

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        def union(i: int, j: int) -> None:
            ri, rj = find(i), find(j)
            if ri == rj:
                return
            # attach the larger root under the smaller: index order == id
            # order (sorted above), so every final root is its component's
            # min id.
            if ri < rj:
                parent[rj] = ri
            else:
                parent[ri] = rj

        block = max(1, _MAX_BLOCK_ELEMS // n)
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            G = N[lo:hi] @ N.T  # (hi-lo) × n
            bi, bj = np.nonzero(G >= threshold - 1e-9)
            for i, j in zip(bi + lo, bj):
                if i >= j:  # upper triangle only
                    continue
                if abs(G[i - lo, j] - threshold) <= 1e-9 and not (
                    _seq_cosine(E[i], E[j]) >= threshold
                ):
                    continue
                union(int(i), int(j))

        comp = ids[np.fromiter((find(i) for i in range(n)), dtype=np.int64)]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "label": pdf["label"].values,
                "component": comp,
                "keep": comp == ids,
            }
        )

    return (
        df.select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(kernel, out_schema)
    )


# Quantizer-training seeds: IVF cells (`ivf_topk`, and the layout/probe
# pair the cell-partitioned query passes 7 to) and PQ codebooks.
_IVF_SEED = 7
_PQ_SEED = 11


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantization + exact cosine
    rerank inside the `nprobe` nearest cells per query.

    The second 100 TB path, complementary to `lsh_ann_topk`: k-means learns
    the corpus's actual density (better cell balance than data-oblivious
    hyperplanes). The coarse quantizer is trained the way IVF indexes train
    in practice: Lloyd iterations on a BOUNDED SAMPLE on the driver
    (deterministic, seeded — the quantizer needs only the density sketch,
    not the full corpus), then one Arrow-batched kernel pass assigns every
    corpus vector to its nearest centroid. Each query then touches only
    `nprobe/nlist` of the corpus. At scale the assignment is materialized at
    write time with the corpus partitioned/bucketed BY CELL, so a probe is a
    partition-pruned scan — no shuffle of the corpus at query time; the only
    joins are broadcasts of (query × probed-cell) pairs and centroids.
    """
    v = _corpus(corpus)
    C = _lloyd(_train_sample(v, _IVF_SEED), nlist, _IVF_SEED)
    # nprobe nearest cells per query, by euclidean distance to centroid
    # (k-means' own metric); nlist is small so this is a broadcast cross.
    probes = _nearest_cells(queries.select("query_id", "qv"), C, nprobe)
    return _rank_scored(_assign_cells(v, C).join(F.broadcast(probes), "cell"), k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    nbits: int = 4,
    rerank_factor: int = 0,
    max_queries: int = 4096,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., 2011) with asymmetric
    distance computation (ADC) — the third 100 TB path next to LSH and IVF,
    and the one real billion-vector stacks (FAISS IVF-PQ) lean on, because
    it attacks MEMORY BANDWIDTH: each d-dim float vector compresses to m
    sub-codes (here 8 codes x 4 bits = 4 bytes vs 256 bytes float32/64-dim,
    a 64x reduction), so the scan reads codes, not vectors.

    Pipeline, all deterministic (seeded Lloyd per subspace on a bounded
    driver-side sample, mirroring `ivf_topk`'s quantizer-training shape):

    1. L2-normalize vectors (inner product over normalized vectors ==
       cosine, so ADC scores approximate the cosine ranking directly).
    2. Train 2**nbits centroids per subspace on the sample.
    3. Encode: one Arrow-batched map pass -> (vec_id, codes uint8[m]).
       At scale this is the write-time step; codes are the stored column.
    4. ADC scan: per query, the m x 2**nbits dot-product table is computed
       once on the driver (O(m * 2**nbits * d/m) = O(d * 2**nbits) work)
       and shipped in the task closure; each Arrow batch scores candidates
       with numpy table-gathers and emits only its per-query top-k (a
       per-partition bounded heap — the same partial-topk contract
       TakeOrderedAndProject gives the exact operators), then one final
       per-query rank pass merges partials. No corpus shuffle anywhere.
    """
    v = _corpus(corpus)
    sample = _train_sample(v, _PQ_SEED)
    sample = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    d = sample.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    ksub = 1 << nbits
    books = np.stack(
        [
            _lloyd(sample[:, j * sub : (j + 1) * sub], ksub, _PQ_SEED + j)
            for j in range(m)
        ]
    )  # (m, ksub, sub)

    code_schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("codes", ArrayType(IntegerType()), False),
        ]
    )
    b2 = (books * books).sum(axis=2)  # (m, ksub)

    def encode(batches):
        for batch in batches:
            if not len(batch):
                continue
            V = np.asarray([np.asarray(x, dtype=np.float64) for x in batch["vv"]])
            V = V / np.linalg.norm(V, axis=1, keepdims=True)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                Vj = V[:, j * sub : (j + 1) * sub]
                # argmin ||v-c||^2 = argmin (||c||^2 - 2 v.c): one GEMM/subspace
                codes[:, j] = (b2[j][None, :] - 2.0 * (Vj @ books[j].T)).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": batch["vec_id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    encoded = v.mapInPandas(encode, code_schema)

    # ADC is a serving-style operator: the per-query distance tables ship in
    # the task closure, so the query set must be BOUNDED — an unbounded
    # collect here would melt the driver on a corpus-sized query side.
    qrows = (
        queries.select("query_id", "qv")
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"pq_topk: query set exceeds max_queries={max_queries}; "
            "batch the queries or raise the bound explicitly"
        )
    qids = np.asarray([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.asarray([r["qv"] for r in qrows], dtype=np.float64)
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    # ADC tables: dt[q, j, c] = q_sub_j . books[j, c]
    dt = np.einsum("qjs,jcs->qjc", Q.reshape(len(Q), m, sub), books)

    out_schema = StructType(
        [
            StructField("query_id", LongType(), False),
            StructField("vec_id", LongType(), False),
            StructField("score", DoubleType(), False),
        ]
    )

    shortlist = max(k, rerank_factor * k)

    def adc_scan(batches):
        # Partition-layout invariance: the per-batch partial top-k must cut
        # under the SAME total order as the final merge (score DESC, vec_id
        # ASC) — ADC's coarse codes produce many exact score ties, and an
        # argpartition cut picks arbitrary tie members, so the surviving
        # candidate set (hence the answer) would change with partitioning.
        # Columns are pre-sorted by vec_id so a stable argsort on -score
        # breaks ties by ascending id; self-matches are masked to -inf
        # BEFORE the cut so the query's own vector never eats a slot.
        for batch in batches:
            if not len(batch):
                continue
            ids = batch["vec_id"].to_numpy(dtype=np.int64)
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            codes = np.asarray(list(batch["codes"]), dtype=np.int64)[order]
            # scores[q, b] = sum_j dt[q, j, codes[b, j]]
            scores = np.zeros((len(qids), len(ids)))
            for j in range(m):
                scores += dt[:, j, :][:, codes[:, j]]
            scores[ids[None, :] == qids[:, None]] = -np.inf
            kk = min(shortlist, len(ids))
            # O(B) argpartition per query, then order only the boundary
            # tie-group under (score DESC, id ASC): cand from nonzero() is
            # id-ascending, so a stable sort on -score breaks ties by id —
            # same total order as the final rank, without sorting the
            # whole batch (a full argsort is O(B log B) per query and
            # dominates at large batches × many queries).
            top = np.empty((len(qids), kk), dtype=np.int64)
            for qrow in range(len(qids)):
                s = scores[qrow]
                if kk < len(s):
                    part = np.argpartition(-s, kk - 1)[:kk]
                    b = s[part].min()
                else:
                    b = -np.inf
                cand = np.nonzero(s >= b)[0]
                order = cand[np.argsort(-s[cand], kind="stable")]
                top[qrow] = order[:kk]
            qi = np.repeat(qids, kk)
            bi = top.ravel()
            yield pd.DataFrame(
                {
                    "query_id": qi,
                    "vec_id": ids[bi],
                    "score": scores[np.repeat(np.arange(len(qids)), kk), bi],
                }
            )

    partials = encoded.mapInPandas(adc_scan, out_schema).filter(
        F.col("vec_id") != F.col("query_id")
    )
    if not rerank_factor:
        return rank_topk(partials, ["query_id"], [F.desc("score"), F.asc("vec_id")], k)
    # SDC->exact re-rank tier (FAISS's refine step): the ADC scan only
    # nominates `rerank_factor*k` candidates per query; the exact cosine
    # runs on that bounded shortlist against the ORIGINAL vectors (at
    # scale: a pointed fetch of shortlist rows by id, not a corpus scan).
    cand = rank_topk(
        partials, ["query_id"], [F.desc("score"), F.asc("vec_id")], shortlist
    ).select("query_id", "vec_id")
    qdf = queries.select("query_id", F.col("qv").alias("__qv"))
    rer = (
        cand.join(v, "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("__qv"), F.col("vv")), 6).alias("score"),
        )
    )
    return rank_topk(rer, ["query_id"], [F.desc("score"), F.asc("vec_id")], k)


def ivf_cell_layout(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    seed: int = 7,
) -> None:
    """WRITE-TIME half of the IVF story the query-path docstrings promise:
    train the coarse quantizer (same bounded-sample seeded Lloyd as
    `ivf_topk`, so cells are identical), assign every vector, and write the
    corpus PARTITIONED BY CELL. A probe is then a partition-pruned read —
    `cell IN (...)` lands in PartitionFilters and Spark lists only nprobe
    directories, so query-time IO is nprobe/nlist of the corpus with ZERO
    corpus shuffle ever (the shuffle happened once, at write time)."""
    v = _corpus(corpus)
    assigned = _assign_cells(v, _lloyd(_train_sample(v, seed), nlist, seed))
    # one file per cell directory: the probe read should open O(nprobe)
    # files, not O(nprobe * shuffle_partitions)
    assigned.repartition("cell").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(path)


def ivf_probe_cells(
    queries: DataFrame,
    corpus: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 7,
) -> DataFrame:
    """(query_id, qv, cell) probe assignments — retrains the deterministic
    quantizer (bounded sample, seeded: bit-identical centroids to the ones
    the layout was written with) and picks each query's nprobe nearest
    cells. Centroid training is the only corpus touch and is O(sample)."""
    v = _corpus(corpus)
    return _nearest_cells(queries, _lloyd(_train_sample(v, seed), nlist, seed), nprobe)


def _nearest_cells(queries: DataFrame, C: "np.ndarray", nprobe: int) -> DataFrame:
    """(query_id, qv, cell) for each query's `nprobe` nearest centroids of
    `C` by euclidean distance; the centroids broadcast as a small table."""
    cent = queries.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(C)],
        "cell int, cv array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return rank_topk(
        queries.crossJoin(F.broadcast(cent)).select(
            "query_id", "qv", "cell", d2.alias("d2")
        ),
        ["query_id"],
        [F.asc("d2"), F.asc("cell")],
        nprobe,
        rank_col="cell_rank",
    ).select("query_id", "qv", "cell")
