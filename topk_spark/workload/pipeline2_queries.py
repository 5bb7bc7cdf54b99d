"""Training-pipeline part 2 + sliding windows: deterministic corpus
shuffle-sharding, sequence packing (chunked with SQL oracle, greedy via
applyInPandas rows-only), and the hopping/sliding-window rollup the tumbling
suite (`rollup_1m`) doesn't cover.

Scale rules embodied here:
- a reproducible global shuffle is hash-rank + shard-local sort — never a
  global ORDER BY rand() (nondeterministic under task retry AND a full-data
  range exchange);
- sliding windows amplify rows map-side inside the window expression; the
  shuffle moves only per-(window,key) partials;
- greedy packing is sequential per shard, so shards — not rows — are the
  parallelism unit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from topk_spark.io.sources import load_table
from topk_spark.ops.packing import pack_chunked, pack_greedy, shuffle_shards
from topk_spark.ops.rollup import windowed_rollup
from topk_spark.workload import register
from topk_spark.workload.events_queries import order_stream
from topk_spark.workload.sketch2_queries import _bounds_oracle, _metric_rows

_ES = """
es AS (
  SELECT event_id, ts, user_id, event_type,
         CAST(json_extract(props, '$.k') AS INT) AS quantity,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
         CAST(CAST(json_extract(props, '$.k') AS INT) AS BIGINT)
           * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS revenue_cents
  FROM events
)
"""

# Affine-hash constants — keep in sync with topk_spark.ops.packing
# (key reduced mod 2^31 first so the multiply never overflows int64;
# DuckDB would raise on overflow where Spark wraps).
def _hash_over(col: str) -> str:
    """ops.packing.shuffle_rank as DuckDB SQL over an arbitrary integer
    column expression."""
    return (
        f"(((({col} % 2147483648) + 2147483648) % 2147483648"
        f" * 1103515245 + 12345) % 2147483648)"
    )


_HASH_SQL = _hash_over("doc_id")


# Shared by rollup_sliding_5m_1m (direct amplify form) and
# rollup_sliding_from_slices (two-level slice-sharing form): the two are
# result-identical by construction, so they face the same oracle verbatim.
_SLIDING_5M_1M_ORACLE = f"""
WITH {_ES},
slid AS (
  SELECT e.event_type, e.revenue_cents,
         epoch_ms(date_trunc('minute', e.ts)) - k.k * 60000 AS ws
  FROM es e CROSS JOIN (SELECT unnest(range(5)) AS k) k
)
SELECT event_type, CAST(ws AS BIGINT) AS window_start,
       CAST(ws + 300000 AS BIGINT) AS window_end,
       CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents,
       count(*) AS order_count
FROM slid
GROUP BY event_type, ws
"""


@register(
    "rollup_sliding_5m_1m",
    tags=("T3", "A1", "A5"),
    oracle=_SLIDING_5M_1M_ORACLE,
)
def rollup_sliding_5m_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup: 5-minute windows sliding every 1 minute (each
    event contributes to 5 windows). The Flink analog is
    SlidingEventTimeWindows — the reference runs tumbling only
    (TopKStreamingJob.kt:313), this is the standard generalization. The
    DuckDB oracle materializes the 5-fold amplification explicitly; Spark's
    `window(ts, '5 minutes', '1 minute')` does the same inside the window
    expression, map-side."""
    es = order_stream(spark, sf_dir)
    return windowed_rollup(
        es,
        "ts",
        ["event_type"],
        [
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.count("*").alias("order_count"),
        ],
        "5 minutes",
        slide="1 minute",
    ).select("event_type", "window_start", "window_end", "revenue_cents", "order_count")


@register(
    "rollup_sliding_from_slices",
    tags=("T3", "A1", "A5", "A9"),
    oracle=_SLIDING_5M_1M_ORACLE,
)
def rollup_sliding_from_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SLICE-SHARING form of `rollup_sliding_5m_1m`, result-identical
    under the same oracle: aggregate per 1-minute slice once (tumbling —
    each event touches exactly one slice), then re-aggregate the 5 slices
    tiling each hop window (ops/rollup.py sliding_rollup_from_slices).
    Exists because the direct form's map-side amplification multiplies
    shuffle rows AND aggregation state by window/slide — measured ~5× at
    this 5m/1m ratio (tests/test_observability.py), but 60× at a
    dashboard-common 1h/1m; the two-level form keeps the event-volume
    shuffle at 1× and amplifies only per-slice PARTIALS (the retired bench
    harness's sliding_ratio60 section measured the crossover). Same partial-reuse
    idea as the reference's merge-rollup ladder
    (orders_1m_rollup_table.json:72-84), applied to overlapping windows."""
    from topk_spark.ops.rollup import sliding_rollup_from_slices

    es = order_stream(spark, sf_dir)
    return sliding_rollup_from_slices(
        es,
        "ts",
        ["event_type"],
        [
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.count("*").alias("order_count"),
        ],
        ["revenue_cents", "order_count"],
        window_ms=300_000,
        slide_ms=60_000,
    ).select(
        "event_type", "window_start", "window_end", "revenue_cents", "order_count"
    )


@register(
    "corpus_shuffle_shards",
    tags=("PIPE-shuffle", "PIPE-split"),
    oracle=f"""
WITH h AS (
  SELECT doc_id, n_chars, {_HASH_SQL} AS shuffle_key,
         CAST({_HASH_SQL} % 16 AS INT) AS shard
  FROM documents
)
SELECT doc_id, n_chars, shuffle_key, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
FROM h
""",
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle of the document corpus into 16 shards:
    affine-hash rank (map-side), hash-mod shard, partition-local position.
    Identical output on every engine and every re-run — the property
    `ORDER BY rand()` cannot give — with one shard-key shuffle and zero
    global sorts at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return shuffle_shards(docs, "doc_id", 16).select(
        "doc_id", "n_chars", "shuffle_key", "shard", "pos"
    )


@register(
    "pack_sequences_chunked",
    tags=("PIPE-pack",),
    oracle=f"""
WITH h AS (
  SELECT doc_id, n_chars, {_HASH_SQL} AS shuffle_key,
         CAST({_HASH_SQL} % 16 AS INT) AS shard
  FROM documents
)
SELECT doc_id, shard,
       CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY shard
                                      ORDER BY shuffle_key, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_chars)
                  / 8192.0) AS BIGINT) AS pack_id
FROM h
""",
)
def pack_sequences_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: documents in shuffle order are cut
    into ~8192-char training packs (a document counts into the pack where it
    starts). Prefix-sum + floor-div window arithmetic — fully declarative."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_chunked(docs, "doc_id", "n_chars", 8192, 16).select(
        "doc_id", "shard", "pack_id"
    )


_PACK_VALIDITY_METRICS = [
    "docs_packed_exactly_once",
    "no_pack_overflow",
    "pack_ids_contiguous",
    "first_fit_bin_bound",
]


@register(
    "pack_greedy_validity",
    tags=("PIPE-pack",),
    oracle=_bounds_oracle(_PACK_VALIDITY_METRICS),
)
def pack_greedy_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-signal contract for the greedy sequence packer (ops/packing.py,
    whose sequential state is not SQL-expressible): the packing's DEFINING invariants,
    checked distributedly and emitted as (metric, ok) rows against a
    constant-true oracle — the same bound-style contract as the ANN recall
    queries. Violating any invariant (a doc dropped/duplicated, a pack
    over budget with >1 doc, a pack_id gap, or more bins than first-fit's
    2·⌈total/budget⌉+1 guarantee) flips a row and fails the driver hash."""
    budget = 8192
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n_docs = docs.count()
    packed = pack_greedy(docs, "doc_id", "n_chars", budget, 16)
    per_pack = packed.groupBy("shard", "pack_id").agg(
        F.sum("n_chars").alias("total"), F.count("*").alias("n_in_pack")
    )
    w = Window.partitionBy("shard").orderBy("pos")
    steps = packed.select(
        "shard",
        "pos",
        (F.col("pack_id") - F.lag("pack_id", 1, 0).over(w)).alias("step"),
    )
    per_shard = per_pack.groupBy("shard").agg(
        F.countDistinct("pack_id").alias("bins"),
        F.sum("total").alias("total_chars"),
    )
    checks = (
        packed.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .crossJoin(
            per_pack.agg(
                F.max(
                    F.when(
                        (F.col("total") > budget) & (F.col("n_in_pack") > 1), 1
                    ).otherwise(0)
                ).alias("overflow")
            )
        )
        .crossJoin(
            steps.agg(
                F.max(F.when(~F.col("step").isin(0, 1), 1).otherwise(0)).alias(
                    "gap"
                )
            )
        )
        .crossJoin(
            per_shard.agg(
                F.max(
                    F.when(
                        F.col("bins")
                        > 2 * F.ceil(F.col("total_chars") / budget) + 1,
                        1,
                    ).otherwise(0)
                ).alias("too_many_bins")
            )
        )
    )
    rows = [
        (
            "docs_packed_exactly_once",
            (F.col("n_rows") == n_docs) & (F.col("n_docs") == n_docs),
        ),
        ("no_pack_overflow", F.col("overflow") == 0),
        ("pack_ids_contiguous", F.col("gap") == 0),
        ("first_fit_bin_bound", F.col("too_many_bins") == 0),
    ]
    return _metric_rows(checks, rows)


_RATE_SQL = """CASE
  WHEN source IN ('src0','src1','src2','src3') THEN 100
  WHEN source IN ('src4','src5','src6','src7') THEN 50
  WHEN source IN ('src8','src9','src10','src11') THEN 25
  ELSE 10
END"""


@register(
    "mixture_sample",
    tags=("PIPE-mixture",),
    oracle=f"""
SELECT doc_id, source, CAST({_RATE_SQL} AS INT) AS rate_pct
FROM documents
WHERE {_HASH_SQL} % 100 < {_RATE_SQL}
""",
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture re-weighting: sample each source at its own rate (the
    knob pretraining pipelines turn to up/down-weight domains) by thresholding
    a deterministic affine hash of doc_id — reproducible across engines,
    re-runs, and task retries, unlike `rand()`-based sampling. Pure map over
    the scan: no shuffle, no state, identical plan at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 100)
        .when(F.col("source").isin("src4", "src5", "src6", "src7"), 50)
        .when(F.col("source").isin("src8", "src9", "src10", "src11"), 25)
        .otherwise(10)
    )
    from topk_spark.ops.packing import shuffle_rank

    h = shuffle_rank(F.col("doc_id"))
    return (
        docs.withColumn("rate_pct", rate.cast("int"))
        .filter((h % 100) < F.col("rate_pct"))
        .select("doc_id", "source", "rate_pct")
    )


# Per-source epoch targets in integer PERMILLE (2300 = 2.3 epochs): high-
# quality sources repeat fractionally, the tail is DOWN-sampled below one
# epoch — both directions of the data-constrained training knob.
_EPOCH_PM_SQL = """CASE
  WHEN source IN ('src0','src1','src2','src3') THEN 2300
  WHEN source IN ('src4','src5','src6','src7') THEN 1000
  WHEN source IN ('src8','src9','src10','src11') THEN 1500
  ELSE 700
END"""


@register(
    "epoch_upsample",
    tags=("PIPE-mixture", "PIPE-epoch"),
    oracle=f"""
WITH d AS (
  SELECT doc_id, source,
         CAST({_EPOCH_PM_SQL} AS BIGINT) AS pm,
         {_HASH_SQL} AS h
  FROM documents
),
c AS (
  SELECT doc_id, source, pm,
         pm // 1000
           + CASE WHEN h % 1000 < pm % 1000 THEN 1 ELSE 0 END AS n_copies
  FROM d
)
SELECT doc_id, source,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy,
       CAST(n_copies AS BIGINT) AS n_copies
FROM c WHERE n_copies >= 1
""",
)
def epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-EPOCH replication for data-constrained training: each
    source repeats at its own target epoch count (2.3 epochs = every doc
    twice, plus a deterministic 30% of docs a third time; targets below
    1.0 epoch DOWN-sample the tail the same way). The fractional part is
    decided by thresholding the same affine doc_id hash as
    `mixture_sample` — reproducible across engines, re-runs, and task
    retries, and integer permille arithmetic keeps the threshold exact
    (no float rate). Emits one row per (doc, copy) with the copy index —
    downstream shuffle-sharding (`corpus_shuffle_shards`) then spreads
    repeats across shards. Pure map + generator over the scan: no
    shuffle, no state; at 100 TB the output is a factor-of-epochs row
    amplification that never materializes on the driver."""
    from topk_spark.ops.packing import shuffle_rank

    docs = load_table(spark, sf_dir, "documents")
    pm = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 2300)
        .when(F.col("source").isin("src4", "src5", "src6", "src7"), 1000)
        .when(F.col("source").isin("src8", "src9", "src10", "src11"), 1500)
        .otherwise(700)
        .cast("long")
    )
    h = shuffle_rank(F.col("doc_id"))
    out = (
        docs.withColumn("pm", pm)
        .withColumn(
            "n_copies",
            F.expr("pm div 1000")
            + ((h % 1000) < (F.col("pm") % 1000)).cast("long"),
        )
        .where(F.col("n_copies") >= 1)
        .withColumn("copy", F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))))
    )
    return out.select("doc_id", "source", "copy", "n_copies")


@register(
    "pipeline_upsample_shard_pack",
    tags=("PIPE-epoch", "PIPE-shuffle", "PIPE-pack", "chain"),
    oracle=f"""
WITH d AS (
  SELECT doc_id, n_chars,
         CAST({_EPOCH_PM_SQL} AS BIGINT) AS pm,
         {_HASH_SQL} AS h
  FROM documents
),
c AS (
  SELECT doc_id, n_chars,
         pm // 1000
           + CASE WHEN h % 1000 < pm % 1000 THEN 1 ELSE 0 END AS n_copies
  FROM d
),
u AS (
  SELECT doc_id, n_chars,
         CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy
  FROM c WHERE n_copies >= 1
),
k AS (
  SELECT doc_id, copy, n_chars, doc_id * 4 + copy AS ukey FROM u
),
s AS (
  SELECT doc_id, copy, n_chars, ukey,
         {_hash_over("ukey")} AS shuffle_key,
         CAST({_hash_over("ukey")} % 16 AS INT) AS shard
  FROM k
)
SELECT doc_id, copy, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY shuffle_key, ukey) AS BIGINT) AS pos,
       CAST(FLOOR((SUM(n_chars) OVER (PARTITION BY shard
                                      ORDER BY shuffle_key, ukey
                                      ROWS UNBOUNDED PRECEDING) - n_chars)
                  / 8192.0) AS BIGINT) AS pack_id
FROM s
""",
)
def pipeline_upsample_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data PIPELINE CHAIN as one hash-gated query: fractional-
    epoch upsampling (`epoch_upsample`) → deterministic shuffle-sharding
    (`corpus_shuffle_shards`) → concat-then-chunk packing
    (`pack_sequences_chunked`), composed end to end so the INTERACTIONS the
    three separately-green gates cannot see are pinned: every (doc, copy)
    repeat gets its own shuffle key (ukey = doc_id·4 + copy — distinct
    int64 per copy, n_copies <= 3 by the permille table), so repeats spread
    across shards instead of packing adjacently, and the packer sees the
    AMPLIFIED corpus (pack boundaries shift wherever a repeat lands). The
    streaming analog of the r8 dedup→join→rollup chain drain, for the
    batch mixture pipeline. At 100 TB: upsample is a map-side generator,
    sharding is map-side hash, packing is one shuffle on shard + a
    partition-local sort — the chain adds NO exchange beyond the single
    pack shuffle, which Catalyst shares with the position window (same
    partitioning + ordering)."""
    from topk_spark.ops.packing import pack_chunked, shuffle_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    pm = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 2300)
        .when(F.col("source").isin("src4", "src5", "src6", "src7"), 1000)
        .when(F.col("source").isin("src8", "src9", "src10", "src11"), 1500)
        .otherwise(700)
        .cast("long")
    )
    h = shuffle_rank(F.col("doc_id"))
    up = (
        docs.withColumn("pm", pm)
        .withColumn(
            "n_copies",
            F.expr("pm div 1000")
            + ((h % 1000) < (F.col("pm") % 1000)).cast("long"),
        )
        .where(F.col("n_copies") >= 1)
        .withColumn(
            "copy",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))),
        )
        .withColumn(
            "ukey", (F.col("doc_id") * F.lit(4) + F.col("copy")).cast("long")
        )
    )
    packed = pack_chunked(up, "ukey", "n_chars", 8192, 16)
    return packed.select("doc_id", "copy", "shard", "pos", "pack_id")


@register(
    "robust_outlier_filter",
    tags=("PIPE-outlier",),
    oracle="""
WITH stats AS (
  SELECT event_type,
         quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type,
         s.med,
         quantile_cont(abs(e.value - s.med), 0.5) AS mad
  FROM events e JOIN stats s USING (event_type)
  GROUP BY e.event_type, s.med
)
SELECT e.event_id, e.event_type, e.value,
       round(m.med, 6) AS med, round(m.mad, 6) AS mad
FROM events e JOIN mad m USING (event_type)
WHERE abs(e.value - m.med) > 3 * 1.4826 * m.mad
""",
)
def robust_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection (median/MAD, the data-cleaning gate
    that survives the skew that mean/stddev gates don't): two grouped exact
    medians, then a map-side filter of the fact against the tiny per-group
    stats (broadcast join). At 100 TB the exact medians become
    `approx_percentile` with the same dataflow; exact is kept here so the
    DuckDB oracle matches value-for-value."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        e.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    return (
        e.join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
    )


@register(
    "stratified_exact_split",
    tags=("pipeline", "sampling"),
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
)
SELECT doc_id, lang FROM ranked
WHERE rn <= CAST(ceil(0.2 * n_lang) AS BIGINT)
""",
)
def stratified_exact_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-fraction stratified sample: exactly ceil(20% × n) docs per
    language, membership decided by rank in md5-hash order within the
    stratum — deterministic, engine-portable (md5 hex collates
    identically everywhere), and unbiased w.r.t. any natural ordering of
    the corpus. Complements `mixture_sample` (hash-threshold, shuffle-free
    but only EXPECTED fractions): when the contract is "exactly 20% of
    every language", you pay one shuffle on the stratum key and a
    window rank; both window functions share the same partitioning (one
    sort). At extreme per-stratum cardinality, swap row_number for a
    pre-computed hash-rank percentile cutoff to avoid the single-stratum
    sort tail."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    wc = Window.partitionBy("lang")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("n_lang"),
        )
        .filter(F.col("rn") <= F.ceil(0.2 * F.col("n_lang")).cast("long"))
        .select("doc_id", "lang")
    )


def _sliding_top3_sql(n_slices: int) -> str:
    """Oracle tail over an `es` CTE: every event amplified into the
    `n_slices` one-minute-sliding windows that contain it, revenue summed per
    (window, type), and the top 3 types per window (revenue desc, type asc)."""
    return f"""slid AS (
  SELECT e.event_type, e.revenue_cents,
         epoch_ms(date_trunc('minute', e.ts)) - k.k * 60000 AS ws
  FROM es e CROSS JOIN (SELECT unnest(range({n_slices})) AS k) k
),
agg AS (
  SELECT ws, event_type,
         CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents
  FROM slid GROUP BY ws, event_type
),
r AS (
  SELECT ws, event_type, revenue_cents,
         CAST(row_number() OVER (PARTITION BY ws
              ORDER BY revenue_cents DESC, event_type ASC) AS INT) AS rank
  FROM agg
)
SELECT CAST(ws AS BIGINT) AS window_start, event_type, revenue_cents, rank
FROM r WHERE rank <= 3
"""


def _top3_per_window(agg: DataFrame) -> DataFrame:
    """The Spark side of `_sliding_top3_sql`'s ranking: top 3 event types
    by revenue per window_start, same tie-break."""
    w = Window.partitionBy("window_start").orderBy(
        F.col("revenue_cents").desc(), F.col("event_type").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("window_start", "event_type", "revenue_cents", "rank")
    )


@register(
    "topk_per_sliding_window",
    tags=("K1", "K4", "T3", "A1"),
    oracle=f"""
WITH es AS (
  SELECT event_type,
         CAST(CAST(json_extract(props, '$.k') AS INT) AS BIGINT)
           * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS revenue_cents,
         ts
  FROM events
),
{_sliding_top3_sql(5)}""",
)
def topk_per_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending leaderboard per HOP: top-3 event types by revenue inside
    every 5-minute window sliding each minute — the reference's per-window
    ranked read (its serving tables store one ranked row set per tumbling
    window) generalized to overlapping windows, the query a "trending now"
    tile refreshes every minute. Composition is rollup_sliding_5m_1m's
    map-side window amplification feeding a rank-within-window
    row_number — the per-window partition is tiny (≤ one row per event
    type), so the rank never sees a global sort; deterministic tie-break
    (revenue desc, event_type asc) in both engines. At 100 TB the hop
    windows amplify map-side BEFORE partial aggregation, so the shuffle
    carries per-(window, type) partials, never raw events."""
    es = order_stream(spark, sf_dir)
    agg = windowed_rollup(
        es,
        "ts",
        ["event_type"],
        [F.sum("revenue_cents").cast("long").alias("revenue_cents")],
        "5 minutes",
        slide="1 minute",
    ).select("window_start", "event_type", "revenue_cents")
    return _top3_per_window(agg)


@register(
    "trending_1h_1m_from_slices",
    tags=("T3", "K2", "A5", "PIPE-epoch"),
    oracle=f"""
WITH {_ES},
{_sliding_top3_sql(60)}""",
)
def trending_1h_1m_from_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard-standard trending read — top-3 event types per 1-HOUR
    window hopping every minute (ratio 60) — built on the SLICE-SHARING
    form, because at this ratio the direct amplify form is exactly the
    scale cliff PLANS.md's round-10 rule forbids: 60× map-side event
    copies vs one tumbling slice pass + re-aggregation of per-slice
    partials (slice count bounded by keys × minutes, independent of event
    volume). Rank is per hop window (≤ one row per event type — no global
    sort); the oracle materializes the 60-fold amplification explicitly,
    so the hash also re-proves the two-level rewrite at this ratio."""
    from topk_spark.ops.rollup import sliding_rollup_from_slices

    es = order_stream(spark, sf_dir)
    agg = sliding_rollup_from_slices(
        es,
        "ts",
        ["event_type"],
        [F.sum("revenue_cents").cast("long").alias("revenue_cents")],
        ["revenue_cents"],
        window_ms=3_600_000,
        slide_ms=60_000,
    ).select("window_start", "event_type", "revenue_cents")
    return _top3_per_window(agg)
