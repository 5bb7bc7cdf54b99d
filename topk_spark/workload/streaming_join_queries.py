"""Stream-stream interval join under the oracle gate — the remaining
stateful-operator CLASS the drain suite didn't cover. The dedup / top-k /
rollup / near-dup drains all exercise keyed AGGREGATION state; a
stream-stream join runs Spark's symmetric hash join state machine
(StreamingSymmetricHashJoinExec): each side buffers its rows in the state
store and probes the other side's buffer as batches arrive, so a pair whose
legs arrive in different micro-batches can only be emitted if the earlier
leg's state survived — which is exactly what the drain pins in the hash.

Topology (reference framing: the ingest pipeline's enrichment step —
TopKStreamingJob.kt keys orders and joins per-key reference state; here both
sides are live streams, the strictly harder shape): views and purchases are
two watermarked file streams; a purchase joins every view by the same user
in the preceding 7 days (`p.ts >= v.ts AND p.ts < v.ts + 7d`).

Drain design (the tiled layout of workload/drain.py):

* The two sources are split into 3 files each by GLOBAL event-time ranges
  (equal-width thirds of the union's [min ts, max ts] — one aggregate plus
  a broadcast, no global-order window; the boundary arithmetic is exact
  integer microseconds, reproduced verbatim in the DuckDB oracle), with
  staggered mtimes so each FileStreamSource (latestFirst=false,
  maxFilesPerTrigger=1) replays oldest-first: micro-batch i sees exactly
  tercile i of BOTH sides.
* Arrival order == ts order makes emission predictable: an inner symmetric
  hash join emits a pair in the batch where its LATER leg arrives, i.e.
  `emit_batch = greatest(tile_view, tile_purchase)` — and since the
  condition forces view.ts <= purchase.ts, that is the purchase's tercile.
  The sink's micro-batch id rides into the hashed output as `emit_batch`;
  the oracle derives it as greatest(tile, tile) from first principles. A
  join whose state reset per batch would drop every cross-tercile pair
  (~26% of pairs at sf0.01) and hash-mismatch.
* Watermarks are declared on both sides (the production state-cleanup
  path) with a delay wider than the fixture span, so no row is late and no
  state is evicted mid-drain — eviction policy is pinned separately by
  stream_rollup_drain; THIS drain pins cross-batch join-state continuity.

At 100 TB: state is bounded by the watermark delay x per-user rate (the
range condition lets Spark drop view-state older than
watermark - 7 days); both sides shuffle-partition on user_id, so the join
is co-partitioned and the probe is local to each state-store partition.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.workload import register
from topk_spark.workload.drain import drain, range_tile, under_rocksdb


def _view_purchase_tiles(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The shared drain fixture: view and purchase event streams carrying
    their GLOBAL event-time tercile (`_tile`) — the micro-batch each row
    will arrive in under the ordered replay."""

    e = range_tile(
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("event_id", "ts", "user_id", "event_type"),
        "ts",
        3,
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        "user_id",
        "_tile",
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("p_user_id"),
        "_tile",
    )
    return views, purchases


def _view_purchase_join(
    v: DataFrame, p: DataFrame, delay: str | None, how: str = "inner", **salt
) -> DataFrame:
    """The 7-day view→purchase interval join on user_id (the reusable
    operator of streaming/interval_join.py) that every join drain here runs;
    `how="left_anti"` is `interval_anti_join`, `salt` the salting options."""
    from topk_spark.streaming.interval_join import interval_anti_join, interval_join

    kw = dict(
        left_key="user_id",
        right_key="p_user_id",
        left_time="view_ts",
        right_time="purchase_ts",
        window="7 DAYS",
        watermark_delay=delay,
        **salt,
    )
    if how == "left_anti":
        return interval_anti_join(v, p, **kw)
    return interval_join(v, p, how=how, **kw)


def _build_join(
    how: str, delay: str, **salt
) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Two-source build() for `drain`: `_view_purchase_join` projected to
    the drains' hashed output columns. For the right/full outer drains
    `user_id` is coalesced across sides (it is the equality key, so both
    sides agree whenever both are present); a left semi or anti join
    projects left columns only."""

    def build(v: DataFrame, p: DataFrame) -> DataFrame:
        joined = _view_purchase_join(v, p, delay, how, **salt)
        if how in ("left_semi", "left_anti"):
            return joined.select("user_id", "view_id")
        return joined.select(
            F.coalesce("user_id", "p_user_id").alias("user_id"),
            "view_id",
            "purchase_id",
            (F.unix_millis("purchase_ts") - F.unix_millis("view_ts"))
            .cast("long")
            .alias("gap_ms"),
        )

    return build


def _drain_pairs(
    spark: SparkSession,
    sources: tuple[DataFrame, DataFrame],
    build: Callable[[DataFrame, DataFrame], DataFrame],
    restart_after: int | None = None,
) -> DataFrame:
    """`build` over the view and purchase streams, drained in append mode
    through their three ordered tiles; the sink batch id stays as `_bid`."""
    return drain(
        spark,
        sources,
        build,
        output_mode="append",
        tiles=3,
        keep_bid=True,
        restart_after=restart_after,
    )


def _with_emit_batch(drained: DataFrame) -> DataFrame:
    return drained.withColumn("emit_batch", F.col("_bid").cast("int")).drop("_bid")


# The tiled view/purchase CTEs every emission-schedule oracle below starts
# from: `tile` is the event-time tercile (`range_tile`), i.e. the
# micro-batch a row arrives in.
_TILED_VIEWS_PURCHASES = """
WITH e AS (
  SELECT event_id, ts, user_id, event_type FROM events
  WHERE event_type IN ('view', 'purchase')
),
b AS (SELECT epoch_us(min(ts)) AS tmin, epoch_us(max(ts)) AS tmax FROM e),
t AS (SELECT e.*, CAST(least(2, (epoch_us(ts) - b.tmin) * 3 // (b.tmax - b.tmin + 1)) AS INT) AS tile FROM e CROSS JOIN b),
v AS (SELECT event_id AS view_id, ts AS view_ts, user_id, tile FROM t
      WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, ts AS purchase_ts, user_id, tile FROM t
      WHERE event_type = 'purchase')"""

# The in-effect watermark of each batch `b` and the inner pairs with their
# emit batch, shared by the outer and anti oracles (the derivation is in
# _LEFTOUTER_JOIN_ORACLE's comment).
_WM_CTE = """wm AS (SELECT tile + 1 AS b,
              CASE WHEN vmax IS NULL OR pmax IS NULL THEN NULL
                   ELSE CAST(least(vmax, pmax) - 86400000 AS BIGINT) END AS w_ms
       FROM (SELECT tile,
                    max(max(CASE WHEN event_type = 'view'
                                 THEN epoch_ms(ts) END))
                      OVER (ORDER BY tile) AS vmax,
                    max(max(CASE WHEN event_type = 'purchase'
                                 THEN epoch_ms(ts) END))
                      OVER (ORDER BY tile) AS pmax
             FROM t GROUP BY tile) cum)"""

_MATCHED_CTE = """matched AS (
  SELECT v.user_id, v.view_id, p.purchase_id,
         CAST(epoch_ms(p.purchase_ts) - epoch_ms(v.view_ts) AS BIGINT) AS gap_ms,
         CAST(greatest(v.tile, p.tile) AS INT) AS emit_batch
  FROM v JOIN p
    ON v.user_id = p.user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts < v.view_ts + INTERVAL 7 DAY)"""

# Shared by the plain and the pre-salted inner-join drains: salting is a
# physical re-partitioning lever (streaming/interval_join.py docstring), so
# BOTH must hash-match the same relational derivation — same pairs, same
# emit batches.
_INNER_JOIN_ORACLE = f"""{_TILED_VIEWS_PURCHASES}
SELECT v.user_id, v.view_id, p.purchase_id,
       CAST(epoch_ms(p.purchase_ts) - epoch_ms(v.view_ts) AS BIGINT) AS gap_ms,
       CAST(greatest(v.tile, p.tile) AS INT) AS emit_batch
FROM v JOIN p
  ON v.user_id = p.user_id
 AND p.purchase_ts >= v.view_ts
 AND p.purchase_ts < v.view_ts + INTERVAL 7 DAY
"""


@register(
    "stream_interval_join_drain",
    tags=("T1", "T8", "joins", "streaming"),
    oracle=_INNER_JOIN_ORACLE,
)
def stream_interval_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join, drained through THREE
    event-time-ordered micro-batches per side. Every row is a (view,
    purchase) pair; `emit_batch` is the sink micro-batch that emitted it,
    hash-checked against the oracle's greatest-tercile derivation — the
    cross-tercile pairs exist only if view-state from earlier batches
    survived into later ones (T8 for JOIN state; the aggregation-state twin
    is stream_dedup_multibatch_drain)."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(_drain_pairs(spark, vp, _build_join("inner", "90 days")))


@register(
    "stream_interval_join_salted_drain",
    tags=("T1", "T8", "joins", "streaming", "skew"),
    oracle=_INNER_JOIN_ORACLE,
)
def stream_interval_join_salted_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRE-SALTED stream-stream interval join (salt_buckets=8 — the
    documented hot-key lever, streaming/interval_join.py) under the same
    oracle as the unsalted drain: the left side carries a deterministic salt,
    the right side replicates once per salt value, and the join key widens to
    (user_id, salt), spreading a hot key's probe + emission over 8 state
    partitions. Identical hash REQUIRED: same pairs (each left row holds one
    salt, so exactly one right replica matches), same emit batches (a
    replica arrives in its original row's micro-batch, so the later-leg
    emission rule is untouched). The retired bench harness's
    streaming_join_skew section measured the per-pair cost story; THIS pins
    that the optimization cannot change results."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(
        _drain_pairs(spark, vp, _build_join("inner", "90 days", salt_buckets=8))
    )


@register(
    "stream_interval_join_restart_drain",
    tags=("T1", "T8", "joins", "streaming", "restart"),
    oracle=_INNER_JOIN_ORACLE,
)
def stream_interval_join_restart_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT-RESTART continuity under the driver hash gate (pytest
    pins it per-operator in tests/test_restart_continuity.py; this makes it
    oracle-checked): the same interval join and fixture as
    `stream_interval_join_drain`, but the drain STOPS after the first two
    event-time terciles and a freshly-built query — new readStream lineage,
    nothing shared but the checkpoint — processes the third. Every pair
    whose view arrived before the stop and whose purchase arrived after it
    (~26 % of pairs at sf0.01) exists in the output ONLY if the restored
    generation recovered the buffered view-side join state, the per-side
    watermarks, and the source's processed-files log from the checkpoint; a
    restart that lost state would drop those rows and fail both the row
    count and the hash.

    The oracle is the unsalted inner drain's SQL verbatim — a restart must
    be INVISIBLE in the results, emission schedule included. `emit_batch`
    is normalized to the rank of the emitting micro-batch among batches
    that emitted rows (engine batch ids are an internal counter: the
    trailing no-data flush batch of generation 1 consumes an id without
    emitting, so generation 2's data batch lands at id 3; the observable —
    which arrival wave emitted each pair — is rank 2, exactly the
    greatest-tercile schedule the oracle derives)."""
    from pyspark.sql import Window

    vp = _view_purchase_tiles(spark, sf_dir)
    drained = _drain_pairs(spark, vp, _build_join("inner", "90 days"), restart_after=2)
    # Unpartitioned window over the DISTINCT batch ids only — a frame of
    # ≤ n_batches+1 rows regardless of data scale (the drained rows
    # themselves never pass through it; they pick the rank up via the
    # broadcast join below).
    rank = (
        drained.select("_bid")
        .distinct()
        .withColumn(
            "emit_batch",
            (F.dense_rank().over(Window.orderBy("_bid")) - 1).cast("int"),
        )
    )
    return (
        drained.join(F.broadcast(rank), "_bid")
        .select("user_id", "view_id", "purchase_id", "gap_ms", "emit_batch")
    )


@register(
    "stream_interval_join_restart_rocksdb_drain",
    tags=("T1", "T8", "joins", "streaming", "restart", "rocksdb"),
    oracle=_INNER_JOIN_ORACLE,
)
def stream_interval_join_restart_rocksdb_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The interval-join restart drain under the ROCKSDB state-store
    provider — join-buffer recovery on the store the 100 TB deployment
    names, which at scale is the single most consequential state class: a
    symmetric hash join's buffers dwarf sketch/dedup state (every in-window
    row on both sides), and RocksDB restores them by SST + changelog replay
    rather than the default store's delta-file reload. Same fixture, same
    stop-after-two-terciles topology, same verbatim inner-join oracle as
    `stream_interval_join_restart_drain`: cross-restart pairs exist only if
    generation 2 recovered the RocksDB-persisted view buffers. Provider
    flip + restore via `under_rocksdb` (driver session untouched)."""

    return under_rocksdb(
        spark, lambda: stream_interval_join_restart_drain(spark, sf_dir)
    )


@register(
    "stream_static_enrich_drain",
    tags=("S8", "joins", "streaming"),
    oracle="""
WITH b AS (SELECT epoch_us(min(ts)) AS tmin, epoch_us(max(ts)) AS tmax
           FROM events),
t AS (SELECT event_id, user_id,
             CAST(least(2, (epoch_us(ts) - b.tmin) * 3
                  // (b.tmax - b.tmin + 1)) AS INT) AS tile
      FROM events CROSS JOIN b)
SELECT t.event_id, t.user_id, c.c_mktsegment, CAST(c.c_nationkey AS INT) AS nationkey,
       CAST(t.tile AS INT) AS emit_batch
FROM t JOIN customer c ON t.user_id = c.c_custkey
""",
)
def stream_static_enrich_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC broadcast enrichment — the third join execution class
    after the stream-stream inner/left-outer drains, and the production
    enrichment topology (reference: the ingest transform that decorates
    events before rollup, TopKStreamingJob.kt's keyed pipeline stage): a
    3-batch event stream joined per micro-batch against the broadcast
    `customer` dimension. Stateless by design — each event must be enriched
    and emitted exactly once, in its arrival batch (`emit_batch` == the
    row's event-time tercile, inside the hash), with no state carried and
    no dedup/eviction applied. At 100 TB the dimension broadcast happens
    once per executor, not per batch-row; the stream side never shuffles."""

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id")
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        "c_mktsegment",
        F.col("c_nationkey").cast("int").alias("nationkey"),
    )
    drained = drain(
        spark,
        range_tile(ev, "ts", 3),
        lambda s: s.join(
            F.broadcast(dim), s.user_id == dim.c_custkey, "inner"
        ).select("event_id", "user_id", "c_mktsegment", "nationkey"),
        output_mode="append",
        tiles=3,
        keep_bid=True,
    )
    return drained.withColumn("emit_batch", F.col("_bid").cast("int")).drop("_bid")


# Shared by the plain and the pre-salted LEFT OUTER drains — the null-
# emission schedule (which micro-batch each never-matched view's null row
# emits in, under the min-of-both-sides watermark policy) is the subtle half
# of the salting invariance argument, so the salted variant must hash-match
# this same derivation, not merely the same pair set.
_LEFTOUTER_JOIN_ORACLE = f"""{_TILED_VIEWS_PURCHASES},
-- watermark in effect during batch b (and the final flush batch b = 3).
-- Spark's default multipleWatermarkPolicy = 'min': each side's watermark
-- operator tracks ITS OWN max event time (ms floor), and the global
-- watermark is the minimum across operators minus the (equal) 1-day delay
-- — NOT the max over the union of both streams. vmax/pmax are the
-- cumulative per-side maxima through batch b-1; a NULL (side not yet seen)
-- models Spark's unset-watermark operator: global wm stays at its initial
-- value and nothing is evicted, which the NULL-propagating predicate below
-- reproduces. Units: state comparisons happen at microsecond precision
-- against the millisecond watermark, so the predicate scales w_ms to us.
-- The deadline comparison is NON-strict (<=): a view whose eviction
-- deadline equals the watermark exactly is already dead, because a future
-- purchase arrives at event time >= wm and the STRICT window bound
-- p < v + window then cannot hold (measured at sub-ms precision:
-- tests/test_streaming_joins.py::test_outer_eviction_boundary).
{_WM_CTE},
{_MATCHED_CTE},
unmatched AS (
  SELECT * FROM v
  WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.view_id = v.view_id)),
nulls AS (
  SELECT u.user_id, u.view_id, CAST(NULL AS BIGINT) AS purchase_id,
         CAST(NULL AS BIGINT) AS gap_ms, CAST(min(wm.b) AS INT) AS emit_batch
  FROM unmatched u JOIN wm
    ON epoch_us(u.view_ts) + 604800000000 <= wm.w_ms * 1000
  GROUP BY u.user_id, u.view_id)
SELECT * FROM matched UNION ALL SELECT * FROM nulls
"""

# The RESTART variant's oracle derives the PHYSICAL emission schedule of the
# two-generation topology (restart_after=2) from the same relational model,
# keyed on one engine fact measured in tests/test_streaming_joins.py: an
# availableNow generation ends with a trailing no-data flush batch that
# consumes a sink batch id and emits only watermark-due state. Physical
# batches: 0,1 = generation-1 data; 2 = generation-1 flush (in-effect
# watermark advances to f(tiles 0-1)); 3 = generation-2 data (same restored
# watermark); 4 = generation-2 flush (f(tiles 0-2)). Hence logical → raw id:
# matched pairs of tercile 2 emit in the gen-2 DATA batch (2 → 3), while
# null rows due at the f(tiles 0-1) watermark emit in the gen-1 FLUSH batch
# (logical b=2 stays 2) and the final nulls in the gen-2 flush (b=3 → 4) —
# data-driven emissions move with the data, watermark-driven emissions fire
# at the first watermark advance, generation boundary notwithstanding.
_LEFTOUTER_RESTART_ORACLE = _LEFTOUTER_JOIN_ORACLE.replace(
    "CAST(greatest(v.tile, p.tile) AS INT) AS emit_batch",
    "CAST(greatest(v.tile, p.tile) + CASE WHEN greatest(v.tile, p.tile) = 2 "
    "THEN 1 ELSE 0 END AS INT) AS emit_batch",
).replace(
    "CAST(min(wm.b) AS INT) AS emit_batch",
    "CAST(CASE WHEN min(wm.b) >= 3 THEN min(wm.b) + 1 "
    "ELSE min(wm.b) END AS INT) AS emit_batch",
)
if _LEFTOUTER_RESTART_ORACLE.count("CASE WHEN greatest") != 1 or (
    "CASE WHEN min(wm.b)" not in _LEFTOUTER_RESTART_ORACLE
):
    raise AssertionError(
        "left-outer restart oracle derivation no longer matches the base "
        "oracle's emit_batch expressions — update the .replace targets"
    )


@register(
    "stream_leftouter_join_drain",
    tags=("T1", "T7", "T8", "joins", "streaming"),
    oracle=_LEFTOUTER_JOIN_ORACLE,
)
def stream_leftouter_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join with a live (1-day) watermark:
    pins the outer-emission policy itself, the subtlest piece of Spark's
    join-state machine. A never-matched view emits its null-joined row only
    when its state can no longer match — i.e. in the FIRST micro-batch whose
    in-effect watermark exceeds view_ts + 7 days at microsecond precision —
    including the trailing no-data flush batch availableNow runs to cash
    out watermark-dependent state (T7's event-time-timer analog). The
    in-effect watermark follows Spark's default multipleWatermarkPolicy
    'min': min over the two sides' per-operator max event time through the
    previous batch (each floored to ms), minus the delay — the oracle's wm
    CTE models the per-side cumulative maxima explicitly rather than the
    (coincidentally close) max over the union. Views still inside the join window at end-of-stream are
    correctly ABSENT. The oracle derives the full watermark schedule and
    eviction predicate relationally; matched pairs must equal the inner
    join exactly (ordered replay means no match can be lost to eviction —
    a purchase's tercile always precedes its view's eviction batch)."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(_drain_pairs(spark, vp, _build_join("left_outer", "1 day")))


@register(
    "stream_leftouter_join_salted_drain",
    tags=("T1", "T7", "T8", "joins", "streaming", "skew"),
    oracle=_LEFTOUTER_JOIN_ORACLE,
)
def stream_leftouter_join_salted_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRE-SALTED left-outer interval join (salt_buckets=8) under the
    SAME oracle as the unsalted left-outer drain — completing the salting
    invariance argument under the hash gate. The inner-join salted drain
    (round 7) pins that salting keeps the matched-pair set and its emit
    batches; what it cannot see is the NULL-EMISSION schedule, the watermark-
    driven half of the state machine: a never-matched view's null row must
    still emit in the first micro-batch whose min-of-both-sides watermark
    passes view_ts + 7 days, including the trailing flush batch. Salting
    must leave that schedule untouched because (a) the left row keeps its
    arrival batch (only a salt column is added), (b) each right replica
    arrives in its original row's batch so per-side max event time — hence
    the watermark schedule — is unchanged, and (c) a left row is unmatched
    under (key, salt) iff it was unmatched under key alone (its one salt's
    replica set contains exactly the rows the unsalted join would probe).
    A hash match against the unsalted derivation is therefore REQUIRED;
    divergence would mean the skew lever changes outer-join results."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(
        _drain_pairs(spark, vp, _build_join("left_outer", "1 day", salt_buckets=8))
    )


@register(
    "stream_leftouter_join_restart_drain",
    tags=("T1", "T7", "T8", "joins", "streaming", "restart"),
    oracle=_LEFTOUTER_RESTART_ORACLE,
)
def stream_leftouter_join_restart_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join across a checkpoint restart, with the
    oracle deriving the restarted topology's PHYSICAL emission schedule
    from first principles (_LEFTOUTER_RESTART_ORACLE's derivation comment)
    — the sharpest restart pin in the suite, because outer emission is
    driven by the watermark rather than by data arrival. What the hash
    asserts, per row and with RAW sink batch ids: (a) matched pairs whose
    view predates the stop and purchase postdates it emit from restored
    join-buffer state in generation 2's data batch; (b) null rows whose
    deadline passes at the f(tiles 0-1) watermark emit in generation 1's
    TRAILING FLUSH batch — before the restart — while nulls due only at
    end-of-stream emit in generation 2's flush, i.e. the restored
    generation recovered BOTH sides' per-operator watermarks exactly
    (min-policy included; a watermark reset to -inf would defer the former
    nulls into generation 2 and change their batch id); (c) views still
    inside their window at end-of-stream stay buffered across BOTH
    generations and emit nothing. No bid normalization: the oracle predicts
    the engine's actual batch-id allocation, trailing-flush slots and all."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(
        _drain_pairs(spark, vp, _build_join("left_outer", "1 day"), restart_after=2)
    )


# ---------------------------------------------------------------------------
# Right / full outer + left semi: the rest of the stream-stream join family.
#
# The right-outer null schedule is the mirror image of the left-outer one
# with a DIFFERENT deadline: a never-matched purchase is due as soon as the
# in-effect watermark passes its OWN timestamp (matchable views satisfy
# view_ts <= purchase_ts, and new arrivals carry event time >= the
# watermark, so once wm > purchase_ts nothing can reach it) — there is no
# "+ window" term, because the window bounds the PAST side of the
# condition, not the future one.
#
# Deadline precision is MEASURED, not assumed, and the two sides differ
# (tests/test_streaming_joins.py::test_outer_eviction_boundary, sub-ms
# probes): the left deadline is non-strict at microsecond precision
# (view_us + window_us <= wm_us — forced by the STRICT upper bound
# `p < v + window`: a future purchase at event time == wm matches only
# views with deadline > wm), while the right deadline lags the watermark by
# one full millisecond (purchase_us + 1000 <= wm_us — the NON-strict lower
# bound `p >= v` keeps a purchase at wm alive, and the engine's eviction
# threshold advances in watermark ticks, i.e. whole ms). All prior CTEs are
# shared verbatim so the three outer oracles cannot drift apart.
_OUTER_FAMILY_PREFIX = f"""{_TILED_VIEWS_PURCHASES},
{_WM_CTE},
{_MATCHED_CTE},
r_nulls AS (
  SELECT u.user_id, CAST(NULL AS BIGINT) AS view_id, u.purchase_id,
         CAST(NULL AS BIGINT) AS gap_ms, CAST(min(wm.b) AS INT) AS emit_batch
  FROM (SELECT * FROM p WHERE NOT EXISTS
          (SELECT 1 FROM matched m WHERE m.purchase_id = p.purchase_id)) u
  JOIN wm ON epoch_us(u.purchase_ts) + 1000 <= wm.w_ms * 1000
  GROUP BY u.user_id, u.purchase_id),
l_nulls AS (
  SELECT u.user_id, u.view_id, CAST(NULL AS BIGINT) AS purchase_id,
         CAST(NULL AS BIGINT) AS gap_ms, CAST(min(wm.b) AS INT) AS emit_batch
  FROM (SELECT * FROM v WHERE NOT EXISTS
          (SELECT 1 FROM matched m WHERE m.view_id = v.view_id)) u
  JOIN wm ON epoch_us(u.view_ts) + 604800000000 <= wm.w_ms * 1000
  GROUP BY u.user_id, u.view_id)
"""

# Shared by the plain and the pre-salted (salt_side='right') variants — the
# mirror image of the inner/left-outer sharing above.
_RIGHTOUTER_JOIN_ORACLE = (
    _OUTER_FAMILY_PREFIX
    + "SELECT * FROM matched UNION ALL SELECT * FROM r_nulls"
)

_FULLOUTER_JOIN_ORACLE = (
    _OUTER_FAMILY_PREFIX
    + "SELECT * FROM matched UNION ALL SELECT * FROM l_nulls\n"
    + "UNION ALL SELECT * FROM r_nulls"
)


@register(
    "stream_rightouter_join_drain",
    tags=("T1", "T7", "T8", "joins", "streaming"),
    oracle=_RIGHTOUTER_JOIN_ORACLE,
)
def stream_rightouter_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER stream-stream interval join with a live (1-day)
    watermark — the mirror of stream_leftouter_join_drain with a
    structurally DIFFERENT null deadline: an unmatched purchase's null row
    emits in the first micro-batch whose min-of-both-sides watermark passes
    the purchase's own timestamp (no '+ window' term — the interval bounds
    the past, not the future, of the right side), including availableNow's
    trailing flush batch. Matched pairs must equal the inner join exactly.
    The oracle derives both the pair set and the right-null watermark
    schedule relationally from the same shared CTEs as the other outer
    drains."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(
        _drain_pairs(spark, vp, _build_join("right_outer", "1 day"))
    )


@register(
    "stream_rightouter_join_salted_drain",
    tags=("T1", "T7", "T8", "joins", "streaming", "skew"),
    oracle=_RIGHTOUTER_JOIN_ORACLE,
)
def stream_rightouter_join_salted_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The pre-salted right-outer interval join with the salt on the RIGHT
    side (salt_side='right', salt_buckets=8) under the unsalted right-outer
    oracle verbatim — the mirror-image completion of the salting invariance
    argument. Here the LEFT side is replicated once per salt value and each
    purchase carries one deterministic salt, so: (a) every (view, purchase)
    pair still joins exactly once (only the replica matching the purchase's
    salt satisfies the condition); (b) a purchase is unmatched under
    (key, salt) iff unmatched under key alone, and being the SALTED side it
    anchors exactly ONE null row; (c) replicas arrive in their original
    row's micro-batch, so per-side max event times — hence the watermark
    schedule driving null emission — are unchanged. A hash match is
    REQUIRED; divergence would mean the hot-key lever corrupts right-outer
    results. The refusal table (interval_join._SAFE_SALT_SIDES) blocks the
    unsafe orientation where the replicated side is the outer one."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(
        _drain_pairs(
            spark,
            vp,
            _build_join("right_outer", "1 day", salt_buckets=8, salt_side="right"),
        )
    )


@register(
    "stream_fullouter_join_drain",
    tags=("T1", "T7", "T8", "joins", "streaming"),
    oracle=_FULLOUTER_JOIN_ORACLE,
)
def stream_fullouter_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join: BOTH null schedules live in
    one query — never-matched views null-emit when the watermark passes
    view_ts + 7 days, never-matched purchases when it passes purchase_ts,
    each side evicted on its own deadline while matched pairs still follow
    the later-leg rule. This is the strictest single pin on the symmetric
    join state machine (two eviction clocks + pair emission, one hash); the
    oracle is the shared outer-family prefix with both null CTEs unioned
    in. Rows still inside their horizon at end-of-stream stay buffered on
    BOTH sides and must be absent."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(_drain_pairs(spark, vp, _build_join("full_outer", "1 day")))


# Left semi: first-match emission. greatest(v.tile, p.tile) is the batch
# where a given candidate pair meets; the FIRST such batch over a view's
# matches is when the semi join emits the view — afterwards the left row is
# marked matched and emits nothing more. The condition forces
# purchase_ts >= view_ts, and the ordered replay makes tiles monotone in
# ts, so min(greatest(...)) == min matching purchase tile.
_SEMIJOIN_ORACLE = f"""{_TILED_VIEWS_PURCHASES}
SELECT v.user_id, v.view_id,
       CAST(min(greatest(v.tile, p.tile)) AS INT) AS emit_batch
FROM v JOIN p
  ON v.user_id = p.user_id
 AND p.purchase_ts >= v.view_ts
 AND p.purchase_ts < v.view_ts + INTERVAL 7 DAY
GROUP BY v.user_id, v.view_id
"""


@register(
    "stream_semijoin_drain",
    tags=("T1", "T8", "joins", "streaming"),
    oracle=_SEMIJOIN_ORACLE,
)
def stream_semijoin_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI stream-stream interval join — existence, not enrichment:
    each view with at least one purchase in its 7-day window emits ONCE
    (left columns only), in the micro-batch where its FIRST matching
    purchase arrives. That pins two state behaviors the outer drains
    cannot: the matched-flag (a second matching purchase in a later batch
    must NOT re-emit the view — the state machine remembers emission, not
    just buffering) and first-match timing (emit_batch == the earliest
    matching purchase's tercile, which the oracle derives as
    min(greatest(tiles)) under the ts-ordered replay). Wide watermark so
    no view is evicted before a potential match — the EXISTS set must be
    exact. At 100 TB a semi join is the cheap side of this family: output
    is bounded by the left input, and a matched left row's state can be
    dropped at emission rather than held for the window."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(
        _drain_pairs(spark, vp, _build_join("left_semi", "90 days"))
    )


@register(
    "stream_semijoin_salted_drain",
    tags=("T1", "T8", "joins", "streaming", "skew"),
    oracle=_SEMIJOIN_ORACLE,
)
def stream_semijoin_salted_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-salted left-semi interval join (salt_side='left',
    salt_buckets=8) under the unsalted semi oracle verbatim. The semi-
    specific half of the invariance argument: a view carries ONE salt, so
    its candidate set under (key, salt) is exactly its unsalted candidate
    set (every purchase is replicated into the view's bucket), the first
    match arrives in the same micro-batch as unsalted (replicas ride their
    original row's batch), and one view still emits at most one row —
    replication happens on the NON-anchoring side. Hash match required."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(
        _drain_pairs(spark, vp, _build_join("left_semi", "90 days", salt_buckets=8))
    )


# ---------------------------------------------------------------------------
# Chained stateful operators: interval join → tumbling windowed aggregation
# in ONE streaming query (Spark's multiple-stateful-operator support).
#
# The 100 TB story this pins: without operator chaining, a pipeline that
# wants "daily rollups of attributed pairs" needs TWO jobs with a durable
# topic between them (join job → Kafka → rollup job) — double the
# infrastructure, double the end-to-end latency, and an extra at-least-once
# boundary to reconcile. Chaining runs both state machines in one
# checkpointed topology.
#
# The oracle encodes the one non-obvious semantic: WATERMARK PROPAGATION
# through the join. The join's output watermark is held back by the
# biggest event-time delay the join can introduce — a buffered view can be
# up to `window` (7 days) older than the global watermark, and Spark
# publishes ONE output watermark covering every event-time column — so the
# downstream aggregation closes a window only when
#     window_end <= min(vmax, pmax) - watermark_delay - join_window
# (measured: at sf0.001 exactly the 20 of 29 candidate daily windows below
# this cutoff emit; a cutoff without the join-window term would claim 27).
# Same `<=` close convention the driver-green stream_rollup_drain pinned.
# The untiled view/purchase CTEs of the chained-topology oracles, with `fw`:
# the join's propagated output watermark at end-of-stream (derivation above).
_VIEWS_PURCHASES_FINAL_WM = """
WITH e AS (
  SELECT event_id, ts, user_id, event_type FROM events
  WHERE event_type IN ('view', 'purchase')
),
v AS (SELECT event_id AS view_id, ts AS view_ts, user_id FROM e
      WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_id, ts AS purchase_ts, user_id FROM e
      WHERE event_type = 'purchase'),
fw AS (SELECT least((SELECT CAST(floor(epoch_ms(max(view_ts))) AS BIGINT) FROM v),
                    (SELECT CAST(floor(epoch_ms(max(purchase_ts))) AS BIGINT) FROM p))
              - 86400000 - 604800000 AS w)"""

_JOIN_ROLLUP_ORACLE = _VIEWS_PURCHASES_FINAL_WM + """,
pairs AS (
  SELECT CAST(epoch_ms(p.purchase_ts) // 86400000 * 86400000 AS BIGINT)
           AS window_start_ms,
         epoch_ms(p.purchase_ts) - epoch_ms(v.view_ts) AS gap
  FROM v JOIN p
    ON v.user_id = p.user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts < v.view_ts + INTERVAL 7 DAY)
SELECT window_start_ms, count(*) AS pair_count,
       CAST(sum(gap) AS BIGINT) AS gap_ms_sum
FROM pairs, fw
WHERE window_start_ms + 86400000 <= fw.w
GROUP BY window_start_ms
"""


def _build_join_rollup_chain(
    v: DataFrame, p: DataFrame, delay: str | None = "1 day"
) -> DataFrame:
    """The chained topology the chain drains run: interval join (inner,
    7-day window, `delay` watermark) feeding a 1-day tumbling windowed
    aggregation of the attributed pairs — two state machines, one query."""
    j = _view_purchase_join(v, p, delay)
    return (
        j.groupBy(F.window("purchase_ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("pair_count"),
            F.sum(
                F.unix_millis("purchase_ts") - F.unix_millis("view_ts")
            ).alias("gap_ms_sum"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "pair_count",
            "gap_ms_sum",
        )
    )


@register(
    "stream_join_rollup_chain_drain",
    tags=("T1", "T3", "T8", "joins", "streaming", "chained"),
    oracle=_JOIN_ROLLUP_ORACLE,
)
def stream_join_rollup_chain_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful operators chained in one streaming query: the 7-day
    view→purchase interval join feeding a 1-day tumbling windowed
    aggregation of the attributed pairs (pair count + summed view→purchase
    gap per day), append mode, one checkpoint. Pins three things at once:
    (a) join-buffer continuity — cross-tercile pairs must reach the
    aggregation, so a per-batch state reset shows up as wrong counts;
    (b) aggregation-state continuity — a day's pairs arrive across
    micro-batches and must accumulate; (c) the WATERMARK PROPAGATION rule
    between chained stateful operators — the aggregation's close schedule
    runs on the join's output watermark, which lags the global watermark by
    the join window (oracle comment derives the cutoff; at sf0.001 the
    no-lag model over-emits 27 windows vs the correct 20). Windows past the
    propagated watermark at end-of-stream stay open and must be absent."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _drain_pairs(spark, vp, _build_join_rollup_chain).drop("_bid")


@register(
    "stream_join_rollup_chain_restart_drain",
    tags=("T1", "T3", "T8", "joins", "streaming", "chained", "restart"),
    oracle=_JOIN_ROLLUP_ORACLE,
)
def stream_join_rollup_chain_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The chained join→rollup topology across a CHECKPOINT RESTART: stop
    after two event-time terciles, resume as a freshly-built query on the
    same checkpoint. One restart now has to restore BOTH state machines at
    once — the symmetric join's buffers AND the windowed aggregation's
    partial sums — plus the per-side watermarks and the join's PROPAGATED
    output watermark that drives the aggregation's close schedule. The
    oracle is the non-restart chain drain's SQL verbatim: a restart must be
    invisible in the aggregated output. Failure modes it catches: lost join
    buffers (cross-restart pairs missing from day counts), lost agg state
    (day windows spanning the stop under-count), and a propagated-watermark
    reset (windows close on the wrong schedule → wrong emitted-window
    set)."""
    vp = _view_purchase_tiles(spark, sf_dir)
    drained = _drain_pairs(spark, vp, _build_join_rollup_chain, restart_after=2)
    return drained.drop("_bid")


# Anti join: the l_nulls derivation alone — absence within the horizon,
# decidable only at the left-outer null deadline. Shared verbatim between
# the plain and salted (salt_side='left') variants.
_ANTIJOIN_ORACLE = f"""{_TILED_VIEWS_PURCHASES},
{_WM_CTE}
SELECT u.user_id, u.view_id, CAST(min(wm.b) AS INT) AS emit_batch
FROM (SELECT * FROM v WHERE NOT EXISTS
        (SELECT 1 FROM p
         WHERE p.user_id = v.user_id
           AND p.purchase_ts >= v.view_ts
           AND p.purchase_ts < v.view_ts + INTERVAL 7 DAY)) u
JOIN wm ON epoch_us(u.view_ts) + 604800000000 <= wm.w_ms * 1000
GROUP BY u.user_id, u.view_id
"""


@register(
    "stream_antijoin_drain",
    tags=("T1", "T7", "T8", "joins", "streaming"),
    oracle=_ANTIJOIN_ORACLE,
)
def stream_antijoin_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANTI join (NOT EXISTS within the 7-day horizon): views
    with no purchase by the same user in window, emitted exactly once at
    the left-outer null deadline — the only point where absence becomes
    decidable under a watermark. Spark has no native streaming left_anti
    (analysis-time refusal, message quoted at the operator); the engine
    ships the standard derivation as a first-class operator
    (`interval_anti_join`: left_outer + unmatched filter + left-only
    projection), and this drain pins that the derivation inherits the
    outer join's watermark schedule exactly — emit_batch per row, matched
    and still-live views absent."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(_drain_pairs(spark, vp, _build_join("left_anti", "1 day")))


@register(
    "stream_antijoin_salted_drain",
    tags=("T1", "T7", "T8", "joins", "streaming", "skew"),
    oracle=_ANTIJOIN_ORACLE,
)
def stream_antijoin_salted_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anti join through the salted left_outer (salt_buckets=8,
    salt_side='left') under the same oracle verbatim: anti output rows are
    anchored by unreplicated left rows, a view is unmatched under
    (key, salt) iff unmatched under key, and the null deadline schedule is
    watermark-driven and salt-invariant — so the hot-key lever must not
    change which views are absent-matched nor when they emit."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _with_emit_batch(
        _drain_pairs(spark, vp, _build_join("left_anti", "1 day", salt_buckets=8))
    )


@register(
    "stream_dedup_join_rollup_chain_drain",
    tags=("D1", "T1", "T3", "T8", "joins", "streaming", "chained"),
    oracle=_JOIN_ROLLUP_ORACLE,
)
def stream_dedup_join_rollup_chain_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THREE stateful operators in one streaming query — the complete
    reference pipeline shape (dedup → keyed enrichment → windowed rollup,
    TopKStreamingJob.kt's full topology) with zero intermediate topics:
    per-side `dropDuplicatesWithinWatermark` feeding the 7-day interval
    join feeding the 1-day tumbling rollup, one watermark declared at the
    top of each side (Spark disallows redefining watermarks downstream of
    a stateful stage — `interval_join(watermark_delay=None)` is the
    chained-topology form), one checkpoint.

    The DEDUP stage is load-bearing, not decorative: every 5th view and
    every 5th purchase is injected as an exact duplicate (same id, same
    event time, same arrival tile), and the oracle is the CLEAN chain
    drain's SQL verbatim over the original table — so the hash matches
    only if the first stage suppressed every duplicate before it could
    inflate the join (a duplicated view would double its pairs; a
    duplicated purchase would double pair counts AND day sums). Dedup
    state, join buffers, and window partials all recover/evict under the
    same propagated-watermark schedule the two-operator chain pinned."""
    views, purchases = _view_purchase_tiles(spark, sf_dir)
    vdup = views.filter(F.col("view_id") % 5 == 0)
    pdup = purchases.filter(F.col("purchase_id") % 5 == 0)
    vp = (views.unionByName(vdup), purchases.unionByName(pdup))
    return _drain_pairs(spark, vp, _build_dedup_join_rollup_chain).drop("_bid")


def _build_dedup_join_rollup_chain(v: DataFrame, p: DataFrame) -> DataFrame:
    """dedup → 7-day interval join → 1-day rollup, one query (shared by the
    3-op chain drain and its restart twin): the 2-op chain over deduplicated
    sides, watermarked once at the top."""
    v = v.withWatermark("view_ts", "1 day").dropDuplicatesWithinWatermark(
        ["view_id"]
    )
    p = p.withWatermark(
        "purchase_ts", "1 day"
    ).dropDuplicatesWithinWatermark(["purchase_id"])
    return _build_join_rollup_chain(v, p, delay=None)


@register(
    "stream_dedup_join_rollup_chain_restart_drain",
    tags=("D1", "T1", "T3", "T8", "joins", "streaming", "chained", "restart"),
    oracle=_JOIN_ROLLUP_ORACLE,
)
def stream_dedup_join_rollup_chain_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full THREE-stateful-operator pipeline across a CHECKPOINT
    RESTART: stop after two event-time terciles, resume as a freshly-built
    query on the same checkpoint. One restart now restores all three state
    machines — dedup first-seen keys, symmetric join buffers, and window
    partials — plus the per-side and propagated watermarks.

    Two duplicate populations make each stage's recovery observable. The
    forward drain's SAME-TILE duplicates (every 5th row) check the stage
    is live at all. The restart-specific population is CROSS-RESTART
    replays: rows from the last day of generation 1's range, duplicated
    into tile 2 — processed by the restarted query. Their event times sit
    at or above the recovered watermark (threshold = min-side gen-1 max
    minus the 1-day dedup delay), so their first-seen state is still
    retained, not expired: suppression therefore requires the RESTORED
    state — a fresh-state generation 2 would re-admit them, each re-paired
    against tile-2 arrivals on the other side, inflating pair counts and
    day sums past the shared CLEAN oracle. Join-buffer loss, agg-partial
    loss, and a propagated-watermark reset fail the same hash as in the
    two-operator restart twin."""
    views, purchases = _view_purchase_tiles(spark, sf_dir)
    vdup = views.filter(F.col("view_id") % 5 == 0)
    pdup = purchases.filter(F.col("purchase_id") % 5 == 0)
    # threshold: rows at/above min-side(gen-1 max) − dedup delay are
    # neither late nor state-expired at generation-2 start
    b = (
        views.where(F.col("_tile") <= 1)
        .agg(F.max("view_ts").alias("_mv"))
        .crossJoin(
            purchases.where(F.col("_tile") <= 1).agg(
                F.max("purchase_ts").alias("_mp")
            )
        )
        .select(
            (F.least(F.col("_mv"), F.col("_mp")) - F.expr("INTERVAL 1 DAY"))
            .alias("_thr")
        )
    )
    vlate = (
        views.where(F.col("_tile") == 1)
        .crossJoin(F.broadcast(b))
        .where(F.col("view_ts") >= F.col("_thr"))
        .drop("_thr")
        .withColumn("_tile", F.lit(2))
    )
    plate = (
        purchases.where(F.col("_tile") == 1)
        .crossJoin(F.broadcast(b))
        .where(F.col("purchase_ts") >= F.col("_thr"))
        .drop("_thr")
        .withColumn("_tile", F.lit(2))
    )
    vp = (
        views.unionByName(vdup).unionByName(vlate),
        purchases.unionByName(pdup).unionByName(plate),
    )
    drained = _drain_pairs(spark, vp, _build_dedup_join_rollup_chain, restart_after=2)
    return drained.drop("_bid")


# ---------------------------------------------------------------------------
# Streaming AS-OF join: each purchase → the latest view at-or-before it
# (batch twin: joins_queries.asof_view_attribution, unbounded lookback; the
# streaming form bounds the lookback at the join horizon — state cannot be
# unbounded under a watermark)
# ---------------------------------------------------------------------------

# Every candidate (view, purchase) pair, and per purchase the latest
# candidate view by the same struct order as `max(struct(view_ts, view_id))`.
_ASOF_CANDIDATES = _VIEWS_PURCHASES_FINAL_WM + """,
pairs AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ts, v.view_ts, v.view_id
  FROM v JOIN p
    ON v.user_id = p.user_id
   AND p.purchase_ts >= v.view_ts
   AND p.purchase_ts < v.view_ts + INTERVAL 7 DAY),
af AS (
  SELECT purchase_id,
         min(user_id) AS user_id,
         min(purchase_ts) AS pts,
         max(struct_pack(ts := view_ts, id := view_id)) AS m,
         count(*) AS n_candidate_views
  FROM pairs GROUP BY purchase_id)"""

_ASOF_JOIN_ORACLE = _ASOF_CANDIDATES + """
SELECT purchase_id, user_id,
       (m).id AS asof_view_id,
       CAST(epoch_ms(pts) - epoch_ms((m).ts) AS BIGINT) AS asof_gap_ms,
       n_candidate_views
FROM af, fw
WHERE CAST(epoch_ms(pts) // 86400000 * 86400000 AS BIGINT) + 86400000 <= fw.w
"""


def _asof_rows(j: DataFrame, user_id: Column, n_views: Column) -> DataFrame:
    """Per (1-day window of purchase_ts, purchase): the latest candidate
    view by `max(struct(view_ts, view_id))`, its gap, and `n_views`."""
    return (
        j.groupBy(F.window("purchase_ts", "1 day").alias("w"), "purchase_id")
        .agg(
            F.min(user_id).alias("user_id"),
            F.min("purchase_ts").alias("pts"),
            F.max(F.struct("view_ts", "view_id")).alias("m"),
            n_views.alias("n_candidate_views"),
        )
        .select(
            "purchase_id",
            "user_id",
            F.col("m.view_id").alias("asof_view_id"),
            (F.unix_millis("pts") - F.unix_millis(F.col("m.view_ts")))
            .cast("long")
            .alias("asof_gap_ms"),
            "n_candidate_views",
        )
    )


def _build_asof_join(v: DataFrame, p: DataFrame) -> DataFrame:
    """Streaming as-of join as a chained topology: the 7-day interval join
    (candidate views at-or-before each purchase) feeding a per-purchase
    max-of-struct reduction — `max(struct(view_ts, view_id))` picks the
    LATEST candidate with a deterministic view_id tie-break, the same
    lexicographic struct order DuckDB's max(struct_pack(...)) computes.
    The reduction is keyed by (1-day window of purchase_ts, purchase_id):
    a purchase's as-of row can only be finalized once its whole candidate
    horizon is closed, so append mode emits it when the join's PROPAGATED
    output watermark passes the purchase's day window — the same close
    schedule the join→rollup chain pinned."""
    j = _view_purchase_join(v, p, "1 day")
    return _asof_rows(j, F.col("user_id"), F.count(F.lit(1)))


@register(
    "stream_asof_join_drain",
    tags=("J-asof", "T1", "T8", "joins", "streaming", "chained"),
    oracle=_ASOF_JOIN_ORACLE,
)
def stream_asof_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING as-of join: each purchase attributed to the same user's
    most recent view at-or-before it, within a 7-day horizon — the live
    form of the r1 batch `asof_view_attribution` (which Spark lacks
    natively in either mode). Composition: interval join buffers candidate
    views per user; a per-purchase `max(struct(view_ts, view_id))`
    reduction keeps only the latest (ties → highest view_id, matching the
    batch operator's ORDER BY). Two state machines, one query, one
    checkpoint. Horizon note: the batch twin looks back unboundedly; a
    stream cannot (state would never evict), so the 7-day horizon is the
    deliberate streaming semantic — purchases whose nearest view is older
    than 7 days are absent here, present in the batch form. The oracle
    re-derives candidates relationally, reduces with the identical struct
    order, and applies the propagated-watermark close schedule the chain
    drains measured (join output watermark lags by the join window)."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _drain_pairs(spark, vp, _build_asof_join).drop("_bid")


@register(
    "stream_asof_join_restart_drain",
    tags=("J-asof", "T1", "T8", "joins", "streaming", "chained", "restart"),
    oracle=_ASOF_JOIN_ORACLE,
)
def stream_asof_join_restart_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of topology across a CHECKPOINT RESTART (stop after two
    event-time terciles, resume fresh on the same checkpoint). Beyond the
    join buffers and watermarks the chain twins already pin, the restart
    must restore the per-purchase MAX-STRUCT partials: a purchase in an
    open day window may have already reduced over tile-0/1 candidate views
    when the stop lands — losing that partial re-attributes it to a LATER
    view that arrives after the restart (or drops it), shifting
    asof_view_id / asof_gap_ms / n_candidate_views under the shared
    oracle's value hash."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _drain_pairs(spark, vp, _build_asof_join, restart_after=2).drop("_bid")


_ASOF_LEFTOUTER_ORACLE = _ASOF_CANDIDATES + """,
attributed AS (
  SELECT purchase_id, user_id, pts,
         (m).id AS asof_view_id,
         CAST(epoch_ms(pts) - epoch_ms((m).ts) AS BIGINT) AS asof_gap_ms,
         n_candidate_views
  FROM af),
organic AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ts AS pts,
         CAST(NULL AS BIGINT) AS asof_view_id,
         CAST(NULL AS BIGINT) AS asof_gap_ms,
         CAST(0 AS BIGINT) AS n_candidate_views
  FROM p
  WHERE NOT EXISTS (SELECT 1 FROM pairs q
                    WHERE q.purchase_id = p.purchase_id))
SELECT purchase_id, user_id, asof_view_id, asof_gap_ms, n_candidate_views
FROM (SELECT * FROM attributed UNION ALL SELECT * FROM organic) u, fw
WHERE CAST(epoch_ms(pts) // 86400000 * 86400000 AS BIGINT) + 86400000 <= fw.w
"""


@register(
    "stream_asof_leftouter_drain",
    tags=("J-asof", "T1", "T7", "T8", "joins", "streaming", "chained"),
    oracle=_ASOF_LEFTOUTER_ORACLE,
)
def stream_asof_leftouter_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER streaming as-of join: every purchase appears exactly once —
    attributed to its latest in-horizon view, or as an ORGANIC conversion
    (null attribution, zero candidates) when no same-user view exists in
    the 7-day lookback. The unmatched row can only exist because the
    underlying right-outer interval join emitted the purchase with nulls at
    its eviction deadline (the watermark point where absence of a matching
    view becomes decidable — the µs-measured boundary from
    test_outer_eviction_boundary), and the downstream per-purchase
    max-struct reduction admitted it: the null row's event time always
    sits above the aggregation's late-events watermark because the
    propagated watermark lags the deadline by the join window. Day windows
    still open at end-of-stream are withheld on both sides — including
    organic rows whose deadline never arrived, which fail the same window
    predicate on the oracle side."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _drain_pairs(spark, vp, _build_asof_leftouter).drop("_bid")


def _build_asof_leftouter(v: DataFrame, p: DataFrame) -> DataFrame:
    j = _view_purchase_join(v, p, "1 day", "right_outer")
    return _asof_rows(j, F.coalesce("user_id", "p_user_id"), F.count("view_id"))


@register(
    "stream_asof_leftouter_restart_drain",
    tags=("J-asof", "T1", "T7", "T8", "joins", "streaming", "chained", "restart"),
    oracle=_ASOF_LEFTOUTER_ORACLE,
)
def stream_asof_leftouter_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The OUTER as-of topology across a CHECKPOINT RESTART — the heaviest
    single recovery in the repo: one checkpoint must restore the symmetric
    join buffers AND the right-outer null-emission deadline schedule AND
    the per-purchase max-struct/count partials, plus per-side and
    propagated watermarks. Restart-specific failure modes beyond the inner
    as-of twin: a deadline-schedule reset either re-emits null rows for
    purchases already attributed (double rows per purchase under the
    oracle's one-row-per-purchase shape) or never emits the organic rows
    whose deadline elapsed during the stop; a lost match partial
    re-attributes a straddling purchase as organic. The oracle is the
    forward drain's closure predicate verbatim — day windows closed under
    the propagated final watermark, one row per purchase, matched or
    organic — so any of those divergences is a hash mismatch, not just a
    row-count drift."""
    vp = _view_purchase_tiles(spark, sf_dir)
    return _drain_pairs(spark, vp, _build_asof_leftouter, restart_after=2).drop("_bid")


# ---------------------------------------------------------------------------
# Multi-source GLOBAL watermark (multipleWatermarkPolicy=min) under the gate:
# two watermarked sources, one stateful operator — the slowest source governs
# every window close (round-10; behavioral min-vs-max pin in
# tests/test_streaming.py::test_multiple_watermark_policy_min_vs_max)
# ---------------------------------------------------------------------------

_UNION_MINWM_ORACLE = """
WITH es AS (
  SELECT event_id, ts, user_id, event_type,
         CAST(CAST(json_extract(props, '$.k') AS INT) AS BIGINT)
           * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS revenue_cents
  FROM events
),
bnd AS (SELECT epoch_us(min(ts)) AS tmin, epoch_us(max(ts)) AS tmax FROM es),
a AS (SELECT * FROM es WHERE user_id % 2 = 0),
b AS (
  SELECT es.* FROM es, bnd
  WHERE user_id % 2 = 1
    AND epoch_us(ts) <= bnd.tmin + (bnd.tmax - bnd.tmin) * 2 // 3
),
-- min-policy global watermark: the SLOWEST source's (max ts - delay)
wm AS (
  SELECT least(
    (SELECT CAST(floor(epoch_ms(max(ts))) AS BIGINT) FROM a),
    (SELECT CAST(floor(epoch_ms(max(ts))) AS BIGINT) FROM b)
  ) - 10000 AS w
),
u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
agg AS (
  SELECT event_type,
         CAST(floor(epoch_ms(ts) / 300000) * 300000 AS BIGINT) AS ws,
         CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents,
         count(*) AS order_count
  FROM u GROUP BY event_type, 2
)
SELECT event_type, ws AS window_start,
       CAST(ws + 300000 AS BIGINT) AS window_end,
       revenue_cents, order_count
FROM agg, wm
WHERE ws + 300000 <= wm.w
"""


def _union_minwm_sources(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Two event streams with deliberately UNEQUAL reach: source A = even
    users over the full span; source B = odd users truncated at 2/3 of the
    global span (exact integer-µs cutoff from one broadcast bounds
    aggregate, mirrored verbatim in the oracle). B's lag is what makes the
    min policy observable: A alone would close ~1/3 more windows."""
    from topk_spark.workload.events_queries import order_stream

    es = order_stream(spark, sf_dir).select(
        "ts", "user_id", "event_type", "revenue_cents"
    )
    bnd = es.agg(
        F.expr("unix_micros(min(ts))").alias("_tmin"),
        F.expr("unix_micros(max(ts))").alias("_tmax"),
    )
    esb = es.crossJoin(F.broadcast(bnd))
    a = esb.where(F.col("user_id") % 2 == 0)
    b = esb.where(
        (F.col("user_id") % 2 == 1)
        & (
            F.expr("unix_micros(ts)")
            <= F.col("_tmin") + F.expr("(_tmax - _tmin) * 2 div 3")
        )
    )
    cols = ["ts", "user_id", "event_type", "revenue_cents"]
    return (
        range_tile(a.select(*cols), "ts", 3),
        range_tile(b.select(*cols), "ts", 3),
    )


def _build_union_rollup(l: DataFrame, r: DataFrame) -> DataFrame:
    from topk_spark.ops.rollup import windowed_rollup

    u = l.withWatermark("ts", "10 seconds").unionByName(
        r.withWatermark("ts", "10 seconds")
    )
    return windowed_rollup(
        u,
        "ts",
        ["event_type"],
        [
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.count("*").alias("order_count"),
        ],
        "5 minutes",
    ).select(
        "event_type", "window_start", "window_end", "revenue_cents", "order_count"
    )


@register(
    "stream_union_minwm_rollup_drain",
    tags=("T1", "T3", "T5", "streaming", "multi-source"),
    oracle=_UNION_MINWM_ORACLE,
)
def stream_union_minwm_rollup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO watermarked sources feeding ONE windowed aggregation — the
    multi-topic production topology (a reference deployment consuming
    orders from several Kafka topics into one rollup), gated on Spark's
    default multi-watermark policy: the GLOBAL watermark is the MIN of the
    per-source watermarks, so the lagging source (B stops at 2/3 of the
    span) governs every window close and the fast source's last-third
    windows are withheld as still-open. The oracle derives that governing
    watermark as least(max_a, max_b) − 10 s from first principles — an
    engine that closed on the fast source's clock (the 'max' policy, or a
    per-source-watermark bug) emits ~1/3 more windows and hash-mismatches;
    one that dropped B's rows as late under A's watermark under-counts
    shared windows. Both sources replay as event-time-ordered terciles of
    their OWN ranges, so neither source's rows are ever late relative to
    the combined watermark (derivation at the behavioral twin,
    tests/test_streaming.py::test_multiple_watermark_policy_min_vs_max)."""
    a, b = _union_minwm_sources(spark, sf_dir)
    return drain(
        spark, (a, b), _build_union_rollup, output_mode="append", tiles=3
    )


@register(
    "stream_union_minwm_rollup_restart_drain",
    tags=("T1", "T3", "T8", "streaming", "multi-source", "restart"),
    oracle=_UNION_MINWM_ORACLE,
)
def stream_union_minwm_rollup_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint-restart twin: generation 1 drains only the first tercile
    of EACH source; the restarted query must recover TWO per-source
    watermarks plus the windowed-aggregation state from one checkpoint.
    Losing either source's watermark re-derives the global min wrongly
    (re-emitting or mis-closing windows under the exactly-once append
    hash); losing the agg state under-counts windows straddling the
    stop."""
    a, b = _union_minwm_sources(spark, sf_dir)
    return drain(
        spark,
        (a, b),
        _build_union_rollup,
        output_mode="append",
        tiles=3,
        restart_after=1,
    )
