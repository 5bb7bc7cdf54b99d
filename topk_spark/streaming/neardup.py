"""Streaming near-duplicate suppression — MinHash-LSH band buckets as
KEYED STREAMING STATE.

The reference dedups streams EXACTLY (event-id equality,
TopKStreamingJob.kt:87-119); the batch half of this engine dedups corpora
APPROXIMATELY (ops/fuzzy_dedup.py). This operator is their fusion, the
shape a crawl-ingest pipeline needs: suppress near-duplicate documents AT
INGEST TIME, before they are stored or shuffled anywhere, with bounded
per-bucket state.

Dataflow (one streaming query, no joins):

    docs stream ──mapInPandas──▶ (id, band_id, band_hash, sig)   B rows/doc
            ──groupBy(band_id, band_hash)──▶ applyInPandasWithState
            ──▶ (id, dup_of, est_ppm, band_id) match stream

Per (band_id, band_hash) bucket the state holds up to `_MAX_BUCKET`
canonical (id, signature) entries. An arriving doc whose signature agrees
with a stored one on ≥ `est_threshold` of the `num_perm` MinHash
components is emitted as a near-duplicate of that canonical (the MinHash
estimator: P[component equal] = Jaccard); otherwise it becomes a canonical
itself (until the bucket cap). Earlier-batch docs are canonical by
arrival, within a batch the smaller id wins — deterministic under
availableNow drains.

The SAME pair can surface through several bands; the match stream is
therefore at-least-once per pair and consumers take
`dropDuplicates(["id", "dup_of"])` (batch drain) or treat any match as
"suppress". This mirrors the batch pipeline, where band candidates are
uniond then verified once.

Scale posture: the only shuffle keys are (band_id, band_hash) — hashes,
never text. State per bucket is ≤ _MAX_BUCKET × num_perm × 8 bytes
(default 8 × 64 × 8 = 4 KiB) regardless of corpus size; bucket count is
bounded by the hash space actually touched, hash-spread across executors
(RocksDB store in production). Signatures ride the band rows (B copies)
so no second pass or join re-derives them — at B=16/P=64 that is 8 KiB
per document of shuffle, still orders below the text it replaces.

Relation to batch: `ops/fuzzy_dedup.minhash_neardup_pairs` finds all
pairs within a static corpus; this operator enforces first-seen-wins
against an unbounded stream. Same kernels (`ops/sig_kernels`), same
banding math, so thresholds tuned offline transfer directly.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from topk_spark.ops.sig_kernels import (
    _perm_constants,
    _shingle_hash_u64,
    _tokens,
    _u64_to_i64,
    sig_band_hashes_batch,
)

BAND_SIG_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("band_id", IntegerType(), False),
        StructField("band_hash", LongType(), False),
        StructField("sig", BinaryType(), False),  # num_perm big-endian u64s
    ]
)

MATCH_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("dup_of", LongType(), False),
        StructField("est_ppm", LongType(), False),
        StructField("band_id", IntegerType(), False),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType()), True),
        StructField("sigs", BinaryType(), True),  # concatenated signatures
    ]
)

# Canonical docs stored per (band_id, band_hash) bucket.
_MAX_BUCKET = 8

# Per-(bucket, micro-batch) row bound for the deterministic concat-sort:
# _MAX_BUCKET caps STORED canonicals, not arrivals, so a flood of
# near-identical docs into one bucket needs its own cap (see _bucket_update).
_MAX_BUCKET_BATCH = 4096


def band_signature_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band_id, band_hash, sig) rows — B per doc, each carrying the
    full signature so the stateful verify needs no join. Same shingle/
    permutation/banding math as ops.sig_kernels.minhash_band_rows (batch
    thresholds transfer); empty docs emit nothing."""
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
            sig_t, bh = sig_band_hashes_batch(arrs, A, C, bands, rows_per_band)
            sigs = [sig_t[j].astype(">u8").tobytes() for j in range(len(ids))]
            yield pd.DataFrame(
                {
                    "id": np.repeat(np.array(ids, dtype=np.int64), bands),
                    "band_id": np.tile(
                        np.arange(bands, dtype=np.int32), len(ids)
                    ),
                    "band_hash": _u64_to_i64(bh.reshape(-1)),
                    "sig": [s for s in sigs for _ in range(bands)],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(run, BAND_SIG_SCHEMA)


def _bucket_update(num_perm: int, est_threshold: float, max_bucket: int):
    """Build the per-bucket GroupState update function. Split out so the
    state-transition logic is unit-testable without a streaming query."""

    def update(
        group_key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, sig_blob = state.get
            ids = list(ids)
            stored = (
                np.frombuffer(sig_blob, dtype=">u8")
                .reshape(len(ids), num_perm)
                .copy()
                if ids
                else np.empty((0, num_perm), dtype=">u8")
            )
        else:
            ids, stored = [], np.empty((0, num_perm), dtype=">u8")

        out_id: list[int] = []
        out_dup: list[int] = []
        out_ppm: list[int] = []
        out_band: list[int] = []
        dirty = False
        # Concatenate the group's chunks BEFORE sorting: the GroupState
        # iterator hands one bucket's micro-batch rows as multiple Arrow
        # chunks, and per-chunk sorts would elect canonicals in chunk
        # arrival order — nondeterministic under repartitioning and able
        # to emit dup_of > id. The concat holds one bucket's batch rows at
        # once, so the hot-bucket memory is bounded EXPLICITLY below: past
        # _MAX_BUCKET_BATCH rows (smallest ids kept — deterministic), the
        # overflow is ignored for this bucket this batch; those docs still
        # surface through their other B-1 bands, so the cost is a sliver
        # of recall on a pathological flood, never memory.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        batch = pd.concat(chunks).sort_values("id").head(_MAX_BUCKET_BATCH)
        for rid, band_id, sb in zip(batch["id"], batch["band_id"], batch["sig"]):
            sig = np.frombuffer(bytes(sb), dtype=">u8")
            if len(ids):
                eq = (stored == sig[None, :]).sum(axis=1)
                # a re-arrival of a stored canonical must not match
                # ITSELF (at-least-once sources replay): self rows would
                # emit (id, dup_of=id) and a suppress-all consumer would
                # drop the only copy
                for k, cid in enumerate(ids):
                    if cid == int(rid):
                        eq[k] = -1
                j = int(eq.argmax())
                if eq[j] >= est_threshold * num_perm:
                    out_id.append(int(rid))
                    out_dup.append(int(ids[j]))
                    out_ppm.append(int(eq[j]) * 1_000_000 // num_perm)
                    out_band.append(int(band_id))
                    continue  # suppressed: do NOT become a canonical
            if int(rid) not in ids and len(ids) < max_bucket:
                ids.append(int(rid))
                stored = np.vstack([stored, sig[None, :]])
                dirty = True
        if dirty:
            state.update((ids, stored.astype(">u8").tobytes()))
        if out_id:
            yield pd.DataFrame(
                {
                    "id": pd.Series(out_id, dtype="int64"),
                    "dup_of": pd.Series(out_dup, dtype="int64"),
                    "est_ppm": pd.Series(out_ppm, dtype="int64"),
                    "band_id": pd.Series(out_band, dtype="int32"),
                }
            )

    return update


def neardup_match_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    est_threshold: float = 0.6,
) -> DataFrame:
    """Streaming near-dup matches: (id, dup_of, est_ppm, band_id), at
    least once per matching band. Attach any sink; batch-drain consumers
    finish with dropDuplicates(["id", "dup_of"])."""
    rows = band_signature_rows(
        docs, id_col, text_col, shingle_n, num_perm, bands
    )
    return rows.groupBy("band_id", "band_hash").applyInPandasWithState(
        _bucket_update(num_perm, est_threshold, _MAX_BUCKET),
        MATCH_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
