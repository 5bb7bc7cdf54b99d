"""Near-duplicate detection for large text corpora (north-star LLM-pipeline
operators, BASELINE.json:6): MinHash+LSH, SimHash, n-gram Jaccard.

Signatures come from the Arrow-batched kernels in `sig_kernels.py`; pair
generation and every verify step are Catalyst expressions. The 100 TB
shape:

    shingle + minhash P perms + band digests (one map pass) → B band rows
    per doc → shuffle on (band, band_hash) → pairs expanded inside each
    bucket (`bucket_pairs`) → exact-Jaccard verify on candidates only.

The only shuffle carries (band_hash, doc_id) pairs — never documents — and
the candidate join is bounded by bucket size, not corpus size. That is the
standard MinHash-LSH bound: P(pair surfaces) = 1-(1-j^R)^B, with j the true
Jaccard, R rows/band, B bands.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def tokenize(text: Column) -> Column:
    """Lowercased whitespace tokens — the unit for shingling."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct n-word shingles as strings. n=1 → distinct token set."""
    if n == 1:
        return F.array_distinct(tokens)
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)))
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays.

    Round-14 (guide §1.2 per-task work): |A∪B| is derived as
    |A| + |B| − |A∩B| instead of materializing `array_union` — for
    distinct-element inputs (every caller: hashed_shingles arrays,
    word_shingles output) the identity is exact over integers, so the
    double division sees the same two ints and the value stays
    BIT-identical, while the per-pair cost drops from two hash-set builds
    (intersect + union) to one."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter).cast("double")


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash LSH.

    Physical shape (the 100 TB pipeline, one consumption per scan):
    1. `minhash_band_rows` — ONE Arrow-batched kernel pass over the corpus
       emits (id, band_id, band_hash); text never leaves the scan.
    2. `bucket_pairs` — groupBy the band key, expand i<j pairs inside each
       (small) bucket. No self-join: a self-join re-evaluates the signature
       scan per side (Catalyst can't reuse the exchanges once per-branch
       pushdown specializes them — measured 8 corpus scans in the round-1
       plan, 1 here).
    3. Join the candidate PAIRS (volume bounded by bucket collisions, not
       corpus size) back to `hashed_shingles` — 8-byte hashes per shingle,
       never text — for the exact verify.

    Returns (id_a, id_b, shingles_a, shingles_b) with id_a < id_b, distinct;
    the shingle columns are the sorted hashed-shingle arrays. Verify with
    `jaccard(shingles_a, shingles_b)` — identical to string-set Jaccard up
    to 64-bit hash collisions (~2^-64 per pair).
    """
    from topk_spark.ops.sig_kernels import (
        bucket_pairs,
        hashed_shingles,
        minhash_band_rows,
    )

    banded = minhash_band_rows(docs, id_col, text_col, shingle_n, num_perm, bands)
    id_pairs = bucket_pairs(banded, ["band_id", "band_hash"])
    hsh = hashed_shingles(docs, id_col, text_col, shingle_n)
    # Round-14 (guide §3.1): build BOTH verify joins on the candidate-pair
    # side. Unhinted, the planner broadcast the pairs on the first join but
    # the FULL signature table on the second — a corpus-scale broadcast
    # (executor/driver OOM at 100 TB, same hazard class as q21's removed
    # lineitem broadcast). Pairs are bounded by bucket collisions, not
    # corpus size, so they are the only side that is safe to build.
    return (
        F.broadcast(
            F.broadcast(id_pairs).join(
                hsh.select(
                    F.col("id").alias("id_a"), F.col("hsh").alias("shingles_a")
                ),
                "id_a",
            )
        )
        .join(
            hsh.select(F.col("id").alias("id_b"), F.col("hsh").alias("shingles_b")),
            "id_b",
        )
        .select("id_a", "id_b", "shingles_a", "shingles_b")
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    shingle_n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates → exact-Jaccard verify.
    Output: (id_a, id_b, jaccard) for pairs ≥ threshold. The verify is
    JVM-side set arithmetic over hashed-shingle arrays (see
    minhash_lsh_candidates)."""
    cand = minhash_lsh_candidates(docs, "doc_id", "text", shingle_n, num_perm, bands)
    return (
        cand.withColumn("jaccard", jaccard(F.col("shingles_a"), F.col("shingles_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_neardup_pairs_from_hsh(
    hsh: DataFrame,
    threshold: float = 0.6,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """`minhash_neardup_pairs` over a PRECOMPUTED (id, hsh) signature
    table — the steady-state production path: the tokenize+hash scan ran
    once when the corpus snapshot's signature table was materialized
    (workload/corpora.perturbed_hsh discipline); every subsequent dedup
    pass (this one, containment, clustering) reads the compact columnar
    table instead of re-tokenizing text. Values are bit-identical to the
    text path (same hash kernel feeds both), so thresholds and the
    recall floors pinned by `minhash_lsh_recall` transfer unchanged."""
    from topk_spark.ops.sig_kernels import (
        bucket_pairs,
        minhash_band_rows_from_hsh,
    )

    banded = minhash_band_rows_from_hsh(hsh, num_perm, bands)
    id_pairs = bucket_pairs(banded, ["band_id", "band_hash"])
    # Pairs-side build on both verify joins — see minhash_lsh_candidates:
    # the unhinted plan broadcast the whole signature table on the second
    # join (corpus-scale broadcast = 100 TB OOM hazard); the candidate-pair
    # side is the bounded one.
    return (
        F.broadcast(
            F.broadcast(id_pairs).join(
                hsh.select(
                    F.col("id").alias("id_a"), F.col("hsh").alias("shingles_a")
                ),
                "id_a",
            )
        )
        .join(
            hsh.select(F.col("id").alias("id_b"), F.col("hsh").alias("shingles_b")),
            "id_b",
        )
        .withColumn("jaccard", jaccard(F.col("shingles_a"), F.col("shingles_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit longs (popcount of xor)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("long")


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: bucket on 16-bit chunks (a pair within hamming
    ≤ 3 of 64 bits must agree on ≥1 of 4 chunks — pigeonhole), then exact
    hamming verify per bucket. Output (id_a, id_b, hamming).

    One kernel pass computes signatures (`simhash_table`); chunk keys are
    cheap JVM bit-ops on the 64-bit value; `bucket_pairs` expands candidates
    inside buckets carrying the signature as payload, so the verify
    (bit_count of xor) runs with zero join-back and the corpus is scanned
    exactly once."""
    from topk_spark.ops.sig_kernels import bucket_pairs, simhash_table

    h = simhash_table(docs, "doc_id", "text")
    chunked = h.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned(F.col("sim"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF).cast("long"))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("id", "sim", "ch.chunk_id", "ch.chunk_val")
    return (
        bucket_pairs(chunked, ["chunk_id", "chunk_val"], payload_col="sim")
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sim_a"), F.col("sim_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 1,
    threshold: float = 0.5,
    method: str = "prefix",
    hsh: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs ≥ threshold — identical output from two
    physical strategies:

    - ``method="prefix"`` (default, the registered/scale path): AllPairs-style
      prefix filtering (Bayardo et al., WWW'07). Under any fixed total order
      of shingles, J(A,B) ≥ t implies |A∩B| ≥ t·max(|A|,|B|) (since the union
      is at least the larger set), so the intersection cannot fit entirely in
      the last ⌈t·|A|⌉−1 positions of A's ordering: every qualifying pair
      shares at least one shingle within each side's first
      |S| − ⌈t·|S|⌉ + 1 shingles. Indexing only those prefixes and equi-
      joining on the shingle is therefore LOSSLESS for the threshold; the
      join fan-out is bounded by per-shingle posting-list length, not corpus
      size, and only (shingle-hash, id) pairs shuffle. Candidates are then
      exactly verified, so output = the all-pairs answer, guaranteed.

      Physically the prefix path runs entirely in HASH space: one
      `hashed_shingles` kernel pass emits each doc's sorted 64-bit shingle
      hashes (ascending int64 = the fixed total order, which decorrelates
      prefix membership from shingle frequency exactly like the old
      hash-then-sort-strings order); prefix tokens feed `bucket_pairs`
      (groupBy a posting list, expand in place — no self-join, so the scan
      runs once); candidate pairs join the hash arrays back for the exact
      verify. Jaccard over the hashed sets equals string-set Jaccard up to
      64-bit collisions (~2^-64 per pair). Shuffle volume per doc: prefix
      (tok, id) rows ≈ (1−t)·|S|·16 B plus two hash-array sides on the
      candidate join — never shingle text.
    - ``method="allpairs"``: the quadratic cross join over STRING shingles —
      kept ONLY as the test-side oracle for the prefix path
      (tests/test_fuzzy.py); never registered as a driver query.

    Output (id_a, id_b, jaccard).
    """
    if method == "allpairs":
        sh = docs.select(
            F.col("doc_id").alias("id"),
            word_shingles(tokenize(F.col("text")), n).alias("sh"),
        )
        a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        return (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        )
    if method != "prefix":
        raise ValueError(f"unknown method {method!r}")
    from topk_spark.ops.sig_kernels import bucket_pairs, hashed_shingles

    if hsh is None:
        # callers with several shingle consumers pass a materialized table
        # (workload/corpora.py:perturbed_hsh) so the kernel scan runs once
        hsh = hashed_shingles(docs, "doc_id", "text", n)
    # prefix length |S| - ceil(t*|S|) + 1 (≥1 shared prefix shingle is
    # necessary for J >= t — see docstring). The 1e-9 guards float noise
    # pushing an exact-integer t*|S| up a step, which would silently shorten
    # the prefix below the lossless bound.
    plen = (
        F.size("hsh")
        - F.ceil(F.size("hsh") * F.lit(float(threshold)) - F.lit(1e-9))
        + 1
    )
    indexed = hsh.select(
        "id", F.explode(F.slice("hsh", 1, plen.cast("int"))).alias("tok")
    )
    cand = (
        bucket_pairs(indexed, ["tok"])
        .join(
            hsh.select(F.col("id").alias("id_a"), F.col("hsh").alias("sh_a")),
            "id_a",
        )
        .join(
            hsh.select(F.col("id").alias("id_b"), F.col("hsh").alias("sh_b")),
            "id_b",
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


_CC_MAX_ITERATIONS = 20


def connected_components(
    edges: DataFrame,
    check_every: int = 2,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    (id, component) where component = the smallest id reachable from `id`.

    This is the canonicalization step of fuzzy dedup — near-dup PAIRS become
    KEEP/DROP decisions by electing each component's minimum id. Each
    iteration is (a) one join + min-aggregate pulling each node's smallest
    neighbor label, then (b) one POINTER-HALVING join (comp ← comp[comp], the
    Hash-to-Min / path-compression move): labels hop two steps per round, so
    convergence is O(log diameter) rounds, not O(diameter). That matters
    beyond speed — threshold graphs over real corpora contain long chains
    (measured: >20-hop chains in the sf0.1 embedding graph, where plain
    propagation did NOT converge within the round budget).

    Iteration hygiene at scale (VERDICT round-1 item 7):
    - lineage is truncated every round via checkpointing so plan size stays
      constant. Default is `localCheckpoint` (executor-memory-backed, fast);
      set `reliable_checkpoint=True` on long 100 TB runs to write rounds to
      the SparkContext checkpoint dir (`spark.sparkContext.setCheckpointDir`)
      and survive executor loss — `localCheckpoint`ed rounds die with their
      executors.
    - the convergence check is a driver-side `count()` (a control-flow
      scalar, not data movement), and runs only every `check_every` rounds:
      at worst we run `check_every - 1` extra cheap rounds in exchange for
      halving the number of extra actions per round.
    """
    def _ckpt(df: DataFrame) -> DataFrame:
        if reliable_checkpoint:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # Materialize the edge set ONCE: `sym` is probed by every round's join,
    # and without a checkpoint each round would re-execute the full upstream
    # pipeline that produced the pairs (e.g. the whole MinHash-LSH candidate
    # generation — measured as the dominant cost of cluster dedup, not the
    # propagation itself).
    sym = _ckpt(
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).union(
            edges.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
        )
    )

    labels = _ckpt(
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    for it in range(1, _CC_MAX_ITERATIONS + 1):
        nbr_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr_min, labels.id == nbr_min.a, "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias(
                "comp"
            ),
        )
        # Pointer halving: comp ← comp[comp]. comp values are always node
        # ids (they start as own-id and only ever move to another node's
        # id), so the self-join matches every non-root row; roots
        # (comp == id) pass through via coalesce. Labels now hop two steps
        # per round → O(log diameter) total rounds.
        ptr = stepped.select(
            F.col("id").alias("cid"), F.col("comp").alias("ccomp")
        )
        new_labels = _ckpt(
            stepped.join(ptr, stepped.comp == ptr.cid, "left").select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("ccomp", F.col("comp"))
                ).alias("comp"),
            )
        )
        if it % check_every == 0 or it == _CC_MAX_ITERATIONS:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            if changed == 0:
                labels = new_labels
                break
        labels = new_labels
    return labels.select("id", F.col("comp").alias("component"))
