"""Arrow-batched numpy signature kernels for the fuzzy-dedup / ANN stack.

Why kernels and not Catalyst expressions: MinHash (P permutations over a
shingle array), SimHash (64 bit-votes per token), and hyperplane LSH (L×H
projections per vector) are array-heavy inner loops. Spark's higher-order
array functions (`transform`/`aggregate`) evaluate their lambdas on the
INTERPRETED expression path — outside whole-stage codegen — so every
element costs an allocation + virtual dispatch, and a P-permutation minhash
pays it P times per shingle (measured: the expression pipeline spends >10 s
at sf0.1 where these kernels spend <2 s). A vectorized numpy kernel behind
`mapInPandas` is the documented fast path for exactly this shape: map-side
only (no shuffle), Arrow-batched, embarrassingly parallel across file
splits, and the per-row work is a handful of BLAS/ufunc calls.

Tests pin the kernels' recall against constructed truth, and every
downstream VERIFY step (exact Jaccard, exact hamming, exact cosine) still
runs JVM-side on the candidates.

Determinism: all hashing is `blake2b` (a standardized, platform-stable
digest) with fixed salts; permutations are fixed odd-multiplier affine maps
in uint64 (wraparound is exact modular arithmetic — numpy unsigned overflow
is well-defined); hyperplane components are hash-derived uniforms. No RNG
state, no broadcast weight matrices — every executor derives identical
constants from the Python literals in this file.

Scale notes (100 TB): each kernel consumes its input exactly ONCE — the
follow-on pair generation is a bucket groupBy over (key, id) rows, never a
self-join back through the scan (a self-join re-evaluates the whole
signature subtree per side; Catalyst's ReuseExchange cannot dedupe the
branches once per-branch filter pushdown specializes them — measured as 8
parquet scans of the corpus in the round-1 plan). Shuffled rows carry ids
and 8-byte hashes only; document text and embeddings never move.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from hashlib import blake2b

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

# Bump whenever any hash kernel's OUTPUT VALUES change (e.g. the round-2
# blake2b → rolling-polynomial switch): on-disk signature caches key on it,
# so a stale cache written by older kernel code is never silently reused.
SIG_KERNEL_VERSION = 2

_WS = re.compile(r"\s+")


def _tokens(text: str) -> list[str]:
    """Mirror of fuzzy_dedup.tokenize: split(trim(lower(text)), '\\s+').
    Spark's split keeps a single empty token for empty input; callers filter
    empty shingle sets downstream exactly like the expression path."""
    return _WS.split(text.strip().lower()) if text is not None else [""]


def _shingles(tokens: list[str], n: int) -> list[str]:
    """Mirror of fuzzy_dedup.word_shingles: indices 0..max(len-n, 0), slices
    auto-truncated, distinct (first-seen order is irrelevant — sets)."""
    if n == 1:
        return list(dict.fromkeys(tokens))
    hi = max(len(tokens) - n, 0)
    return list(dict.fromkeys(" ".join(tokens[i : i + n]) for i in range(hi + 1)))


def _h64(s: str, salt: bytes = b"sig0") -> int:
    """64-bit blake2b of a string — the kernel-side token/shingle hash."""
    return int.from_bytes(blake2b(s.encode(), digest_size=8, salt=salt.ljust(8, b"\0")).digest(), "big")


def _token_hashes(tokens: list[str], memo: dict[str, int]) -> np.ndarray:
    """Per-token 64-bit hashes with a batch-lifetime memo: corpus
    vocabularies are small relative to token streams, so memoization turns
    ~|tokens| Python-side blake2b calls per doc into ~|new vocab| per
    batch (the former dominated the whole LSH pipeline's runtime)."""
    out = np.empty(len(tokens), dtype=np.uint64)
    get = memo.get
    for j, t in enumerate(tokens):
        h = get(t)
        if h is None:
            h = _h64(t)
            memo[t] = h
        out[j] = h
    return out


_ROLL_K = np.uint64(0x9E3779B97F4A7C15)  # odd ⇒ bijective multiplier mod 2^64


def _shingle_hash_u64(tokens: list[str], n: int, memo: dict[str, int]) -> np.ndarray:
    """DISTINCT 64-bit hashes of the n-token shingles, vectorized: hash
    each token once (memoized), then combine windows with the rolling
    polynomial h = ((t₀·K + t₁)·K + t₂)… in uint64 wraparound — numpy array
    ops over shifted views instead of a Python string-join + blake2b per
    shingle. Same windowing semantics as `_shingles`/word_shingles
    (indices 0..max(len−n,0), short docs collapse to one truncated
    window); hash VALUES differ from the old per-string blake2b, but every
    consumer only relies on set identity (Jaccard, banding, prefix order),
    which any injective-up-to-2⁻⁶⁴ hash provides."""
    th = _token_hashes(tokens, memo)
    if len(tokens) <= n:
        acc = th[:1].copy()
        for j in range(1, len(tokens)):
            acc = acc * _ROLL_K + th[j : j + 1]
        return acc
    w = len(tokens) - n + 1
    acc = th[:w].copy()
    for j in range(1, n):
        acc *= _ROLL_K
        acc += th[j : j + w]
    return np.unique(acc)


def _u64_to_i64(a: np.ndarray) -> np.ndarray:
    return a.astype(np.uint64).view(np.int64)


# Fixed odd multipliers / offsets for the P affine minhash permutations:
# h_p(x) = A_p * x + C_p (mod 2^64). Odd A_p ⇒ bijective on Z_2^64, so each
# p is a true permutation of the hash space. Derived once from blake2b(p).
def _perm_constants(num_perm: int) -> tuple[np.ndarray, np.ndarray]:
    a = np.fromiter(
        (_h64(f"perm_a_{p}", b"prm") | 1 for p in range(num_perm)),
        dtype=np.uint64,
        count=num_perm,
    )
    c = np.fromiter(
        (_h64(f"perm_c_{p}", b"prm") for p in range(num_perm)),
        dtype=np.uint64,
        count=num_perm,
    )
    return a, c


MINHASH_BANDS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("band_id", IntegerType(), False),
        StructField("band_hash", LongType(), False),
    ]
)

HASHED_SHINGLES_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("hsh", ArrayType(LongType()), False),
    ]
)


def sig_band_hashes_batch(
    arrs: list["np.ndarray"],
    A: "np.ndarray",
    C: "np.ndarray",
    bands: int,
    rows_per_band: int,
) -> tuple["np.ndarray", "np.ndarray"]:
    """Permutation minima + band digests for MANY docs at once — THE single
    implementation every MinHash path shares (batch text, batch from-hsh,
    streaming via the per-doc wrapper below). Round-13 (guide §4.2): the
    old per-doc form paid a Python-level numpy dispatch per doc for the
    minima and 16 Python hashlib calls per doc for the band digests —
    measured as the larger half of the banding kernel's runtime. This form
    computes the minima with one `np.minimum.reduceat` per permutation over
    the concatenated shingle hashes (identical uint64 arithmetic → identical
    minima), and the band digest as a vectorized rolling polynomial in
    uint64 over each band's minima (the same `_ROLL_K` family the shingle
    hash uses). The digest VALUES differ from the old blake2b digests, but
    bucket semantics are equality of the underlying minima slices — any
    injective-up-to-2⁻⁶⁴ digest yields the SAME equality classes, so the
    candidate sets (and every downstream verified result) are unchanged;
    nothing on disk persists band hashes, so SIG_KERNEL_VERSION (which keys
    the (id, hsh) signature caches — values untouched here) stays.

    `arrs` must contain only non-empty uint64 arrays (callers drop empty
    shingle sets, as before). Returns (sig: (n_docs, num_perm) uint64 —
    row-major permutation minima; band_hashes: (n_docs, bands) uint64)."""
    n = len(arrs)
    num_perm = len(A)
    # The (n, bands, rows_per_band) reshape below requires exact
    # divisibility; the old byte-slice digest silently tolerated a
    # remainder, so fail loudly for any future non-divisible caller.
    assert num_perm == bands * rows_per_band, (
        f"num_perm ({num_perm}) must equal bands*rows_per_band "
        f"({bands}*{rows_per_band})"
    )
    if n == 0:
        return (
            np.empty((0, num_perm), dtype=np.uint64),
            np.empty((0, bands), dtype=np.uint64),
        )
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
    hc = np.concatenate(arrs)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    sig = np.empty((num_perm, n), dtype=np.uint64)
    for p in range(num_perm):
        sig[p] = np.minimum.reduceat(A[p] * hc + C[p], offs)
    sig_t = np.ascontiguousarray(sig.T)  # (n_docs, num_perm)
    view = sig_t.reshape(n, bands, rows_per_band)
    bh = np.zeros((n, bands), dtype=np.uint64)
    for r in range(rows_per_band):
        bh = bh * _ROLL_K + view[:, :, r]
    return sig_t, bh


def minhash_band_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band_id, band_hash) rows — B per doc — from a SINGLE pass:
    shingle → hash → P affine-permutation minima → rolling-polynomial band
    digest per R-row band (`sig_band_hashes_batch`). Empty shingle sets
    (empty docs) emit nothing, matching the expression path's
    `size(shingles) > 0` filter."""
    rows_per_band = num_perm // bands
    A, C = _perm_constants(num_perm)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}
        for batch in batches:
            ids: list[int] = []
            arrs: list[np.ndarray] = []
            for i, text in zip(batch[id_col], batch[text_col]):
                toks = _tokens(text)
                if toks == [""]:
                    continue
                ids.append(int(i))
                arrs.append(_shingle_hash_u64(toks, shingle_n, memo))
            _, bh = sig_band_hashes_batch(arrs, A, C, bands, rows_per_band)
            yield pd.DataFrame(
                {
                    "id": np.repeat(np.array(ids, dtype=np.int64), bands),
                    "band_id": np.tile(
                        np.arange(bands, dtype=np.int32), len(ids)
                    ),
                    "band_hash": _u64_to_i64(bh.reshape(-1)),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, MINHASH_BANDS_SCHEMA)


def minhash_band_rows_from_hsh(
    hsh: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band_id, band_hash) derived from a PRECOMPUTED hashed-shingles
    table instead of raw text — the signature-table discipline's fast
    path: tokenization+hashing ran once when the (id, hsh) table was
    materialized for the corpus snapshot; this kernel only replays the
    P affine-permutation minima and band digests over the stored hashes.
    Bit-identical to `minhash_band_rows` on the same corpus (same hash
    values, same permutation constants, min over the multiset equals min
    over the distinct set), so thresholds and recall floors transfer.

    Round-14 (guide §4.2): mapInPandas → mapInArrow. The stored list
    column arrives as one contiguous Arrow values buffer + offsets, which
    is EXACTLY the (concatenated hashes, segment offsets) layout the
    reduceat kernel consumes — so the per-doc Python loop (a pandas box +
    `np.asarray` copy per row) is replaced by two zero-copy buffer reads
    per batch. Minima/digest arithmetic is unchanged (same uint64 ops in
    the same order), so band equality classes — and every downstream
    verified result — are bit-identical."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rows_per_band = num_perm // bands
    assert num_perm == bands * rows_per_band
    A, C = _perm_constants(num_perm)
    out_schema = pa.schema(
        [
            pa.field("id", pa.int64(), False),
            pa.field("band_id", pa.int32(), False),
            pa.field("band_hash", pa.int64(), False),
        ]
    )

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        band_ids = np.arange(bands, dtype=np.int32)
        for batch in batches:
            ids = batch.column("id").to_numpy(zero_copy_only=False)
            lst = batch.column("hsh")
            lens = pc.list_value_length(lst).to_numpy(zero_copy_only=False)
            lens = lens.astype(np.int64, copy=False)
            vals = pc.list_flatten(lst).to_numpy(zero_copy_only=False)
            hc = vals.view(np.uint64)
            keep = lens > 0  # empty docs emit nothing (as before)
            if not keep.all():
                ids, lens = ids[keep], lens[keep]
            n = len(ids)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([], pa.int64()),
                        pa.array([], pa.int32()),
                        pa.array([], pa.int64()),
                    ],
                    schema=out_schema,
                )
                continue
            offs = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            sig = np.empty((num_perm, n), dtype=np.uint64)
            for p in range(num_perm):
                sig[p] = np.minimum.reduceat(A[p] * hc + C[p], offs)
            view = np.ascontiguousarray(sig.T).reshape(n, bands, rows_per_band)
            bh = np.zeros((n, bands), dtype=np.uint64)
            for r in range(rows_per_band):
                bh = bh * _ROLL_K + view[:, :, r]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, bands)),
                    pa.array(np.tile(band_ids, n)),
                    pa.array(bh.reshape(-1).view(np.int64)),
                ],
                schema=out_schema,
            )

    return hsh.select("id", "hsh").mapInArrow(run, MINHASH_BANDS_SCHEMA)


def hashed_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, hsh: sorted distinct array<long>) — the compact verify-side
    representation. Jaccard over the hashed sets equals Jaccard over the
    string sets (64-bit collisions are ~2^-64 per pair); the arrays are
    ~8 bytes/shingle, so the verify join moves hashes, never text."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}
        for batch in batches:
            ids: list[int] = []
            arrs: list[np.ndarray] = []
            for i, text in zip(batch[id_col], batch[text_col]):
                toks = _tokens(text)
                if toks == [""]:
                    continue
                ids.append(int(i))
                arrs.append(
                    np.sort(_u64_to_i64(_shingle_hash_u64(toks, shingle_n, memo)))
                )
            yield pd.DataFrame(
                {"id": pd.Series(ids, dtype="int64"), "hsh": arrs}
            )

    return docs.select(id_col, text_col).mapInPandas(run, HASHED_SHINGLES_SCHEMA)


SIMHASH_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("sim", LongType(), False),
    ]
)

_BIT_COLS = np.arange(64, dtype=np.uint64)


def simhash_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sim: 64-bit SimHash as long) in one pass: per-token 64-bit hash,
    ±1 vote per bit position, sign of the vote sets the bit."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}
        for batch in batches:
            ids: list[int] = []
            sims: list[int] = []
            for i, text in zip(batch[id_col], batch[text_col]):
                toks = _tokens(text)
                H = _token_hashes(toks, memo)
                bits = ((H[:, None] >> _BIT_COLS[None, :]) & np.uint64(1)).astype(
                    np.int64
                )
                votes = (2 * bits - 1).sum(axis=0)
                word = np.uint64(0)
                for b in np.nonzero(votes > 0)[0]:
                    word |= np.uint64(1) << np.uint64(b)
                ids.append(int(i))
                sims.append(int(np.int64(word.view(np.int64))))
            yield pd.DataFrame(
                {
                    "id": pd.Series(ids, dtype="int64"),
                    "sim": pd.Series(sims, dtype="int64"),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, SIMHASH_SCHEMA)


HYPERPLANE_SIG_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("table_id", IntegerType(), False),
        StructField("sig", LongType(), False),
    ]
)

HYPERPLANE_SIG_VEC_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("table_id", IntegerType(), False),
        StructField("sig", LongType(), False),
        StructField("vec", ArrayType(DoubleType()), False),
    ]
)


def _plane_matrix(num_planes: int, num_tables: int, dim: int) -> np.ndarray:
    """(L*H) × dim hyperplane components in [-0.5, 0.5), hash-derived —
    every executor rebuilds the identical matrix from literals (no broadcast
    state)."""
    flat = np.fromiter(
        (
            _h64(f"pl_{t}_{h}_{d}", b"hpl") % 100_000
            for t in range(num_tables)
            for h in range(num_planes)
            for d in range(dim)
        ),
        dtype=np.uint64,
        count=num_tables * num_planes * dim,
    )
    return (flat.astype(np.float64) / 100_000.0 - 0.5).reshape(
        num_tables * num_planes, dim
    )


def hyperplane_signatures(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    num_tables: int = 16,
    carry_vec: bool = False,
) -> DataFrame:
    """(id, table_id, sig[, vec]) — L rows per vector — via one batched GEMM
    against the (L·H)×d plane matrix: sign bits pack into an H-bit signature
    per table. The matrix is rebuilt per worker from literals (~L·H·d
    hashes, once per Python worker via closure capture).

    `carry_vec=True` duplicates the float64 vector into each of the L rows —
    for map-side broadcast-join consumers (ANN probe scoring) where the L×
    width costs no shuffle; leave False when pairs are joined back by id."""
    planes_cache: dict[int, np.ndarray] = {}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in batch[vec_col]]
            )
            dim = V.shape[1]
            P = planes_cache.get(dim)
            if P is None:
                P = planes_cache.setdefault(
                    dim, _plane_matrix(num_planes, num_tables, dim)
                )
            signs = (V @ P.T) > 0  # m × (L·H)
            weights = (1 << np.arange(num_planes, dtype=np.int64))
            sigs = (
                signs.reshape(len(V), num_tables, num_planes) * weights
            ).sum(axis=2)
            ids = batch[id_col].to_numpy(dtype=np.int64)
            m, L = sigs.shape
            cols = {
                "id": np.repeat(ids, L),
                "table_id": np.tile(np.arange(L, dtype=np.int32), m),
                "sig": sigs.reshape(-1).astype(np.int64),
            }
            if carry_vec:
                cols["vec"] = [V[i] for i in np.repeat(np.arange(m), L)]
            yield pd.DataFrame(cols)

    schema = HYPERPLANE_SIG_VEC_SCHEMA if carry_vec else HYPERPLANE_SIG_SCHEMA
    return vecs.select(id_col, vec_col).mapInPandas(run, schema)


_MAX_BUCKET = 4096


def bucket_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    payload_col: str | None = None,
) -> DataFrame:
    """Candidate pairs from LSH buckets WITHOUT a self-join: groupBy the
    bucket key, collect the (small) bucket, expand i<j pairs in-place, then
    global pair-dedup. The input subtree is consumed exactly once — a
    self-join would re-evaluate the full signature scan per side (Catalyst
    cannot reuse the exchanges once per-branch pushdown specializes them).

    Buckets larger than `_MAX_BUCKET` are degenerate for NEAR-dup detection
    (thousands of mutually-identical docs — exact dedup's job, upstream of
    near-dup in any real pipeline) and would expand quadratically; they are
    dropped with the bound documented here rather than silently OOMing.
    Output: (id_a, id_b) plus payload_a/payload_b when `payload_col` is set.
    """
    item = (
        F.struct(F.col(id_col).alias("i"), F.col(payload_col).alias("p"))
        if payload_col
        else F.struct(F.col(id_col).alias("i"))
    )
    bucket = keyed.groupBy(*key_cols).agg(
        F.array_sort(F.collect_list(item)).alias("arr")
    )
    sz = F.size("arr")
    pairs = bucket.filter((sz >= 2) & (sz <= _MAX_BUCKET)).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size("arr") - 2),
                    lambda i: F.transform(
                        F.slice(F.col("arr"), i + 2, F.size("arr") - i - 1),
                        lambda x: F.struct(
                            F.element_at(F.col("arr"), i + 1).alias("a"),
                            x.alias("b"),
                        ),
                    ),
                )
            )
        ).alias("pr")
    )
    cols = [
        F.col("pr.a.i").alias("id_a"),
        F.col("pr.b.i").alias("id_b"),
    ]
    if payload_col:
        cols += [
            F.col("pr.a.p").alias(f"{payload_col}_a"),
            F.col("pr.b.p").alias(f"{payload_col}_b"),
        ]
    return pairs.select(*cols).dropDuplicates(["id_a", "id_b"])
