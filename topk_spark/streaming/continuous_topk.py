"""Continuous per-key top-K as a true stateful streaming operator (K1).

The reference's `TopKProcessFunction` (ProcessFunctions.kt:62-134) keeps a
`MapState<menu_item_id, MenuItemMetric>` per restaurant: on each event it
upserts the item's running metrics, sorts the state's values descending by
order count, truncates the state back to K entries, and emits the full
ranked top-K list. This module re-expresses that with
`applyInPandasWithState` — Spark's arbitrary-stateful-operator API — so the
ranked list is re-emitted on every micro-batch that touches a restaurant,
which is the micro-batch-granular analog of Flink's per-event emission;
`continuous_topk_per_event` (below) emits after every event.

Semantics matched deliberately:
- state is TRUNCATED to the top `k` items (ProcessFunctions.kt:103-116): an
  item that falls off the list loses its accumulated counts and restarts if
  seen again.  This is the reference's own lossy design (bounded state per
  key); we document rather than "fix" it.
- rank is 1-based, ordered desc by order_count with `menu_item_id` asc as a
  deterministic tiebreak (the reference's JVM stable sort is
  encounter-order-dependent — SURVEY §7 risk 5).
- emitted rows carry the key (`restaurant_id`), matching
  `TopKResult` (Models.kt:39-49) minus window bounds (the continuous
  operator is windowless by design).

Scale: state per restaurant is O(k) — a few hundred bytes — hash-spread
across executors by the groupBy; each micro-batch pre-aggregates its rows
vectorized in pandas before touching state, so per-batch work per key is
O(batch items + k log k).  At 100 TB/day the bound is the number of DISTINCT
keys, not traffic volume.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

TOPK_OUTPUT = StructType(
    [
        StructField("restaurant_id", StringType(), False),
        StructField("menu_item_id", StringType(), False),
        StructField("menu_item_name", StringType(), True),
        StructField("order_count", LongType(), False),
        StructField("total_quantity", LongType(), False),
        StructField("total_revenue_cents", LongType(), False),
        StructField("rank", IntegerType(), False),
    ]
)

# State = the serialized top-k item map (bounded at k entries, see module doc).
_STATE_SCHEMA = StructType([StructField("items_json", StringType(), True)])


def _make_update_fn(k: int, pre_reduced: bool = False):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (restaurant_id,) = key
        items: dict[str, dict] = (
            json.loads(state.get[0]) if state.exists else {}
        )
        for pdf in pdfs:
            # Vectorized partial aggregate of the micro-batch before the
            # state upsert — the map-side combine of A1, in pandas. A
            # pre-reduced input (see `prereduce_orders`) already carries
            # partial counts per item; merge by summing them instead of
            # counting rows.
            if pre_reduced:
                agg = pdf.groupby("menu_item_id", sort=False).agg(
                    menu_item_name=("menu_item_name", "last"),
                    order_count=("order_count", "sum"),
                    total_quantity=("total_quantity", "sum"),
                    total_revenue_cents=("total_revenue_cents", "sum"),
                )
            else:
                agg = pdf.groupby("menu_item_id", sort=False).agg(
                    menu_item_name=("menu_item_name", "last"),
                    order_count=("menu_item_id", "size"),
                    total_quantity=("quantity", "sum"),
                    total_revenue_cents=("revenue_cents", "sum"),
                )
            for item_id, row in agg.iterrows():
                cur = items.get(item_id)
                if cur is None:
                    cur = {
                        "name": row["menu_item_name"],
                        "oc": 0,
                        "tq": 0,
                        "tr": 0,
                    }
                    items[item_id] = cur
                cur["name"] = row["menu_item_name"]
                cur["oc"] += int(row["order_count"])
                cur["tq"] += int(row["total_quantity"])
                cur["tr"] += int(row["total_revenue_cents"])
        # Sort desc by order_count, tiebreak asc by item id; truncate state
        # to k (ProcessFunctions.kt:103-116).
        ranked = sorted(items.items(), key=lambda kv: (-kv[1]["oc"], kv[0]))[:k]
        items = dict(ranked)
        state.update((json.dumps(items),))
        yield pd.DataFrame(
            {
                "restaurant_id": [restaurant_id] * len(ranked),
                "menu_item_id": [i for i, _ in ranked],
                "menu_item_name": [m["name"] for _, m in ranked],
                "order_count": [m["oc"] for _, m in ranked],
                "total_quantity": [m["tq"] for _, m in ranked],
                "total_revenue_cents": [m["tr"] for _, m in ranked],
                "rank": list(range(1, len(ranked) + 1)),
            }
        )

    return update


def continuous_topk(
    orders: DataFrame, k: int = 10, pre_reduced: bool = False
) -> DataFrame:
    """Streaming DF of order events (restaurant_id, menu_item_id,
    menu_item_name, quantity, revenue_cents) → continuously re-emitted ranked
    top-k per restaurant.  Use with `outputMode("update")`.
    `pre_reduced=True` treats the input rows as partial per-item aggregates
    (columns order_count/total_quantity/total_revenue_cents) and merges by
    summing."""
    return orders.groupBy("restaurant_id").applyInPandasWithState(
        _make_update_fn(k, pre_reduced=pre_reduced),
        outputStructType=TOPK_OUTPUT,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Partial-aggregate row shape produced by `prereduce_orders` (also the input
# shape `continuous_topk(pre_reduced=True)` consumes).
PREREDUCED_SCHEMA = StructType(
    [
        StructField("restaurant_id", StringType(), False),
        StructField("menu_item_id", StringType(), False),
        StructField("menu_item_name", StringType(), True),
        StructField("order_count", LongType(), False),
        StructField("total_quantity", LongType(), False),
        StructField("total_revenue_cents", LongType(), False),
    ]
)


def prereduce_orders(orders: DataFrame) -> DataFrame:
    """MAP-SIDE pre-reduce for the global-top-k funnel (G4 fix, VERDICT.md
    round-1 item 4): collapse each partition's micro-batch rows to one
    partial row per (restaurant_id, menu_item_id) via mapInPandas — no
    shuffle, no state. Row volume entering the downstream single-key
    stateful operator drops from O(events) to O(partitions × distinct
    items), which is what makes the sentinel-key funnel survivable at scale
    (the reference funnels raw events into its one 'global' key —
    TopKStreamingJob.kt:543-548 — and bottlenecks there)."""

    def combine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            agg = (
                pdf.groupby(["restaurant_id", "menu_item_id"], sort=False)
                .agg(
                    menu_item_name=("menu_item_name", "last"),
                    order_count=("menu_item_id", "size"),
                    total_quantity=("quantity", "sum"),
                    total_revenue_cents=("revenue_cents", "sum"),
                )
                .reset_index()
            )
            yield agg[
                [
                    "restaurant_id",
                    "menu_item_id",
                    "menu_item_name",
                    "order_count",
                    "total_quantity",
                    "total_revenue_cents",
                ]
            ]

    return orders.select(
        "restaurant_id",
        "menu_item_id",
        "menu_item_name",
        "quantity",
        "revenue_cents",
    ).mapInPandas(combine, PREREDUCED_SCHEMA)


def continuous_global_topk(orders: DataFrame, k: int = 10) -> DataFrame:
    """Continuous GLOBAL top-k (K3/G4): all traffic keyed to the 'ALL'
    sentinel — the same single-key shape as the reference's
    `keyBy { "global" }` (TopKStreamingJob.kt:543-548) and the consumer
    job's global list (KafkaConsumerTopKJob.kt:274-291), emitting a ranked
    global list per micro-batch.

    Unlike the reference, the single key does NOT see raw traffic: a
    map-side `prereduce_orders` pass collapses each partition's batch to
    one partial row per item first, so the sentinel key's state update is
    O(partitions × items), not O(events) — the pre-reduce the reference's
    design is missing. Equality with the unreduced path is pinned by
    tests/test_streaming.py."""
    import pyspark.sql.functions as F

    from topk_spark.schemas import GLOBAL_SENTINEL

    partial = prereduce_orders(orders).withColumn(
        "restaurant_id", F.lit(GLOBAL_SENTINEL)
    )
    return continuous_topk(partial, k, pre_reduced=True)


# ---------------------------------------------------------------------------
# Per-EVENT emission — the reference's TopKProcessFunction at full
# granularity. `continuous_topk` above re-emits once per micro-batch that
# touches a key (output O(batches × k), the scale default); Flink's
# KeyedProcessFunction re-ranks and re-emits after every single event. The
# per-event operator restores that: each input event, replayed in
# deterministic (event-time, event_id) order, produces one ranked snapshot
# tagged with the triggering event's id and a per-key monotone sequence
# number — "after the N-th event ever seen for this key, the top-k was
# exactly this", across micro-batch and restart boundaries. Same truncation
# and tiebreak semantics as above; `emit_k` (≤ k) caps the ranks each
# snapshot carries while the state keeps k. Output is O(events × emit_k) —
# a low-latency leaderboard contract, not a 100 TB batch posture; state
# stays O(keys × k).
# ---------------------------------------------------------------------------

PER_EVENT_TOPK_OUTPUT = StructType(
    [
        StructField("restaurant_id", StringType(), False),
        StructField("snap_event_id", LongType(), False),
        StructField("snap_seq", LongType(), False),
        StructField("menu_item_id", StringType(), False),
        StructField("order_count", LongType(), False),
        StructField("rank", IntegerType(), False),
    ]
)

# State: the bounded item→count map plus the per-key event sequence counter
# (monotone across batches AND restarts — it rides the state store).
_PER_EVENT_STATE_SCHEMA = StructType(
    [
        StructField("items_json", StringType(), True),
        StructField("seq", LongType(), True),
    ]
)


def _fold_events(
    restaurant_id: str,
    items: dict[str, int],
    seq: int,
    pdfs: list[pd.DataFrame],
    k: int,
    emit_k: int,
) -> tuple[dict[str, int], int, pd.DataFrame]:
    """The per-event fold: replay the micro-batch
    in (ts_us, event_id) order, upsert + truncate-to-k after every event
    (reference semantics), emit one ranked snapshot per event. Returns the
    new state and the batch's output frame."""
    out: dict[str, list] = {
        "restaurant_id": [],
        "snap_event_id": [],
        "snap_seq": [],
        "menu_item_id": [],
        "order_count": [],
        "rank": [],
    }
    pdf = pd.concat(pdfs, ignore_index=True)
    # Arrival order within a micro-batch is partition-nondeterministic; the
    # per-event contract needs a total order, so replay the batch in
    # (event time, event id) order — the same order the oracle uses.
    pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
    for event_id, item in zip(pdf["event_id"], pdf["menu_item_id"]):
        seq += 1
        items[item] = items.get(item, 0) + 1
        ranked = sorted(items.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        items = dict(ranked)
        n = min(emit_k, len(ranked))
        out["restaurant_id"].extend([restaurant_id] * n)
        out["snap_event_id"].extend([int(event_id)] * n)
        out["snap_seq"].extend([seq] * n)
        out["menu_item_id"].extend([i for i, _ in ranked[:n]])
        out["order_count"].extend([c for _, c in ranked[:n]])
        out["rank"].extend(range(1, n + 1))
    return items, seq, pd.DataFrame(out)


def continuous_topk_per_event(
    events: DataFrame, k: int = 10, emit_k: int | None = None
) -> DataFrame:
    """Streaming DF with columns (restaurant_id string, menu_item_id string,
    event_id long, ts_us long) → one ranked snapshot of the running top-k
    per EVENT, in (ts_us, event_id) replay order. `k` bounds the state
    (reference truncation semantics); `emit_k` (default k) caps emitted
    ranks per snapshot. Append output mode; any state-store provider."""
    ek = emit_k if emit_k is not None else k
    if ek > k:
        raise ValueError(f"emit_k ({ek}) must be <= k ({k})")

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (restaurant_id,) = key
        if state.exists:
            items_json, seq = state.get
            items: dict[str, int] = json.loads(items_json)
        else:
            items, seq = {}, 0
        items, seq, out = _fold_events(
            restaurant_id, items, seq, list(pdfs), k, ek
        )
        state.update((json.dumps(items), seq))
        yield out

    return events.groupBy("restaurant_id").applyInPandasWithState(
        update,
        outputStructType=PER_EVENT_TOPK_OUTPUT,
        stateStructType=_PER_EVENT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

