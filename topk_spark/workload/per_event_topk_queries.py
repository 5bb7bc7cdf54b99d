"""Per-event continuous top-K under the driver hash gate.

The reference's signature operator (ProcessFunctions.kt:62-134) emits an
updated ranked list after EVERY element. `stream_topk_drain` pins our
micro-batch-granular equivalent (the scale-sane default); THIS drain pins
the full-granularity parity operator
(`streaming/continuous_topk_tws.py::continuous_topk_per_event`): one
ranked snapshot per input event, tagged with the triggering event id and a
per-key sequence number that must stay monotone across micro-batch
boundaries. The drain runs the applyInPandasWithState path.

Oracle expressibility: the operator's k-truncation (the reference's lossy
bounded-state design) is NOT relational — once an item falls off the list
its count resets, a fold no SQL window expresses. The main drain therefore
runs in the operator's EXACT regime: the item domain is user_id % 8 (8
items per restaurant key) with k=10 > 8, so truncation never fires and
every snapshot equals the exact prefix ranking, which IS relational (a
triangular self-join on per-key sequence numbers). emit_k=3 keeps the
hashed output at 3 rows per event.

TRUNCATION itself went under the gate in round 9
(`stream_per_event_topk_trunc_drain`): non-relational is not
non-SQL-expressible — DuckDB's RECURSIVE CTE replays the lossy fold
sequentially, one event per key per iteration, carrying the bounded item
list as a LIST<STRUCT(neg, item)> whose natural struct ordering (neg =
-count asc, item asc) IS the rank order, so upsert + list_sort + slice-k
reproduces the eviction semantics bit-for-bit (evicted items restart from
zero). The fixture (~1% of events, 17-item domain, k=3) makes eviction
fire on most steps — 143 eviction events at the sf0.01 gate scale —
closing the regime gap the round-8 registration documented. Exact-value
pins remain in tests/test_per_event_topk.py.

What the hash proves: per-event granularity (10k snapshots at sf0.01,
one per event — a batch-granular emitter would collapse each key-batch to
one snapshot and fail on row count alone), deterministic replay order
(ts, event_id), cross-batch count/sequence continuity (a state reset
zeroes counts mid-sequence), and the rank tiebreak.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.workload import register

_PER_EVENT_TOPK_ORACLE = """
WITH ev AS (
  SELECT event_type AS restaurant_id,
         CAST(user_id % 8 AS VARCHAR) AS menu_item_id,
         CAST(event_id AS BIGINT) AS event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS seq
  FROM events
),
pref AS (
  SELECT a.restaurant_id, a.event_id AS snap_event_id,
         CAST(a.seq AS BIGINT) AS snap_seq,
         b.menu_item_id, CAST(count(*) AS BIGINT) AS order_count
  FROM ev a JOIN ev b
    ON b.restaurant_id = a.restaurant_id AND b.seq <= a.seq
  GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY restaurant_id, snap_seq
                               ORDER BY order_count DESC, menu_item_id ASC)
              AS rnk
  FROM pref
)
SELECT restaurant_id, snap_event_id, snap_seq, menu_item_id, order_count,
       CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= 3
"""


@register(
    "stream_per_event_topk_drain",
    tags=("K1", "T8", "streaming"),
    oracle=_PER_EVENT_TOPK_ORACLE,
)
def stream_per_event_topk_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ranked top-3 snapshot per EVENT from the per-event stateful
    operator, three event-time-ordered micro-batches. The oracle recomputes
    every snapshot as an exact prefix ranking over (ts, event_id) order;
    snapshot counts in batches 2-3 embed batch-1 history, so state resets,
    a lost sequence counter, or batch-granular emission all break the
    hash (10k snapshots at sf0.01 — a per-BATCH emitter produces ~6 rows
    per key-batch and fails on row count alone)."""
    from topk_spark.streaming.continuous_topk_tws import continuous_topk_per_event
    from topk_spark.workload.streaming_drain_queries import _drain

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("restaurant_id"),
        (F.col("user_id") % 8).cast("string").alias("menu_item_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("ts_us"),
        "ts",
    )
    return _drain(
        spark,
        ev,
        lambda s: continuous_topk_per_event(s.drop("ts"), k=10, emit_k=3),
        output_mode="append",
        max_files_per_trigger=3,
        ordered_split=("ts", 3),
    )


@register(
    "stream_per_event_topk_restart_drain",
    tags=("K1", "T8", "streaming", "restart"),
    oracle=_PER_EVENT_TOPK_ORACLE,
)
def stream_per_event_topk_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The per-event top-K across a CHECKPOINT RESTART — the sixth stateful
    class under a restart pin (after join buffers, dedup keys, MG/HLL/GK
    sketch state, near-dup buckets, and the chained join→rollup): stop
    after two event-time terciles, resume as a freshly-built query on the
    same checkpoint, oracle shared verbatim with the non-restart drain. The
    per-key SEQUENCE COUNTER makes recovery unusually visible: generation
    2's first snapshot for a key must continue at seq N+1 with the exact
    pre-restart counts (a state loss restarts both at 1/zero and shifts
    every subsequent snapshot's seq AND counts — there is no partial
    credit)."""
    from topk_spark.streaming.continuous_topk_tws import continuous_topk_per_event
    from topk_spark.workload.streaming_drain_queries import _drain

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("restaurant_id"),
        (F.col("user_id") % 8).cast("string").alias("menu_item_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("ts_us"),
        "ts",
    )
    return _drain(
        spark,
        ev,
        lambda s: continuous_topk_per_event(s.drop("ts"), k=10, emit_k=3),
        output_mode="append",
        max_files_per_trigger=3,
        ordered_split=("ts", 3),
        restart_after=2,
    )


# Truncation-regime fixture knobs, shared by the drain, its oracle, and the
# non-vacuity pin in tests/test_per_event_topk.py: ~1/53rd of events, item
# domain 17 per key, state bound k=3 (so eviction fires on most steps),
# emit_k=2.
_TRUNC_MOD = 53
_TRUNC_DOM = 17
_TRUNC_K = 3
_TRUNC_EMIT_K = 2

# The lossy sequential fold as SQL: a recursive CTE advances every key one
# event per iteration; `items` is the operator's bounded state, ordered by
# struct comparison (neg = -count asc, then item asc) == rank order, so
# slice [1:k] IS the reference's truncation (ProcessFunctions.kt:103-116 —
# an evicted item's count is GONE; if it returns it restarts at 1).
_PER_EVENT_TOPK_TRUNC_ORACLE = f"""
WITH RECURSIVE ev AS (
  SELECT event_type AS restaurant_id,
         CAST(user_id % {_TRUNC_DOM} AS VARCHAR) AS menu_item_id,
         CAST(event_id AS BIGINT) AS event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS seq
  FROM events WHERE event_id % {_TRUNC_MOD} = 0
),
state AS (
  SELECT restaurant_id, CAST(0 AS BIGINT) AS seq,
         CAST(NULL AS BIGINT) AS snap_event_id,
         CAST([] AS STRUCT(neg BIGINT, item VARCHAR)[]) AS items
  FROM (SELECT DISTINCT restaurant_id FROM ev)
  UNION ALL
  SELECT s.restaurant_id, e.seq, e.event_id,
         list_sort(
           CASE WHEN len(list_filter(s.items, x -> x.item = e.menu_item_id)) > 0
                THEN list_transform(s.items, x ->
                       CASE WHEN x.item = e.menu_item_id
                            THEN {{'neg': x.neg - 1, 'item': x.item}}
                            ELSE x END)
                ELSE list_append(s.items,
                       {{'neg': CAST(-1 AS BIGINT), 'item': e.menu_item_id}})
           END
         )[1:{_TRUNC_K}] AS items
  FROM state s JOIN ev e
    ON e.restaurant_id = s.restaurant_id AND e.seq = s.seq + 1
)
SELECT restaurant_id, snap_event_id, seq AS snap_seq,
       unnest(list_transform(items[1:{_TRUNC_EMIT_K}], x -> x.item))
         AS menu_item_id,
       unnest(list_transform(items[1:{_TRUNC_EMIT_K}], x -> -x.neg))
         AS order_count,
       CAST(unnest(range(1, len(items[1:{_TRUNC_EMIT_K}]) + 1)) AS INT)
         AS rank
FROM state WHERE seq >= 1
"""


@register(
    "stream_per_event_topk_trunc_drain",
    tags=("K1", "T8", "streaming"),
    oracle=_PER_EVENT_TOPK_TRUNC_ORACLE,
)
def stream_per_event_topk_trunc_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The per-event top-K in the regime the round-8 drains deliberately
    avoided: k (3) far below the item domain (17), so the reference's LOSSY
    truncation fires on most events (143 evictions at the sf0.01 gate
    scale — measured, pinned non-vacuous in tests/test_per_event_topk.py)
    and evicted items provably restart from zero. The oracle replays the
    fold sequentially via a DuckDB recursive CTE (one event per key per
    iteration, bounded-list state) — the exact-prefix-ranking SQL of the
    no-truncation drains would claim monotone counts and fail here. Three
    event-time-ordered micro-batches keep cross-batch state continuity
    under the same hash."""
    from topk_spark.streaming.continuous_topk_tws import continuous_topk_per_event
    from topk_spark.workload.streaming_drain_queries import _drain

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % _TRUNC_MOD == 0)
        .select(
            F.col("event_type").alias("restaurant_id"),
            (F.col("user_id") % _TRUNC_DOM).cast("string").alias("menu_item_id"),
            F.col("event_id").cast("long").alias("event_id"),
            F.unix_micros("ts").alias("ts_us"),
            "ts",
        )
    )
    return _drain(
        spark,
        ev,
        lambda s: continuous_topk_per_event(
            s.drop("ts"), k=_TRUNC_K, emit_k=_TRUNC_EMIT_K
        ),
        output_mode="append",
        max_files_per_trigger=3,
        ordered_split=("ts", 3),
    )


@register(
    "stream_per_event_topk_trunc_restart_drain",
    tags=("K1", "T8", "streaming", "restart"),
    oracle=_PER_EVENT_TOPK_TRUNC_ORACLE,
)
def stream_per_event_topk_trunc_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The truncation-regime drain across a CHECKPOINT RESTART (stop after
    two event-time terciles, fresh query on the same checkpoint), oracle
    shared verbatim. Recovery in the LOSSY regime is harsher than the
    exact-regime restart twin: the bounded item list holds the survivors of
    ~100 prior evictions, so a reset doesn't just zero counts — it forgets
    WHICH items currently occupy the k slots, and generation 2's first
    snapshot would rank a freshly-seeded list that diverges immediately
    (plus the seq counter restarting at 1 shifts every remaining snapshot).
    A green hash therefore proves the truncated state round-tripped the
    checkpoint exactly."""
    from topk_spark.streaming.continuous_topk_tws import continuous_topk_per_event
    from topk_spark.workload.streaming_drain_queries import _drain

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % _TRUNC_MOD == 0)
        .select(
            F.col("event_type").alias("restaurant_id"),
            (F.col("user_id") % _TRUNC_DOM).cast("string").alias("menu_item_id"),
            F.col("event_id").cast("long").alias("event_id"),
            F.unix_micros("ts").alias("ts_us"),
            "ts",
        )
    )
    return _drain(
        spark,
        ev,
        lambda s: continuous_topk_per_event(
            s.drop("ts"), k=_TRUNC_K, emit_k=_TRUNC_EMIT_K
        ),
        output_mode="append",
        max_files_per_trigger=3,
        ordered_split=("ts", 3),
        restart_after=2,
    )
