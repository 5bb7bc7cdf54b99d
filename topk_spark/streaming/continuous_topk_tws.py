"""Continuous per-key top-K with TRUE PER-EVENT emission — the reference's
`TopKProcessFunction` semantics (ProcessFunctions.kt:62-134) at full
granularity.

`streaming/continuous_topk.py` re-emits the ranked list once per
micro-batch that touches a key — the right scale default (output volume
O(batches × k), not O(events × k)). What it deliberately coarsens is the
reference's per-ELEMENT behavior: Flink's KeyedProcessFunction re-ranks and
re-emits after every single event. This module restores that exact
granularity: each input event, replayed in deterministic
(event-time, event_id) order, produces one ranked snapshot tagged with the
triggering event's id and a per-key monotone sequence number — so an
output row says "after the N-th event ever seen for this key, the top-k
was exactly this", across micro-batch and restart boundaries.

The fold runs on `applyInPandasWithState` (GroupState): Arrow-batched,
works on every state-store provider, no extra Python dependencies. This is
what the driver-gated drains run. (The module name predates the removal of
a `transformWithStateInPandas` twin, whose Python worker protocol needs
`google.protobuf` and so never ran here.)

Semantics matched to the reference:
- state truncation to `k` items (ProcessFunctions.kt:103-116): an item
  that falls off the list loses its accumulated counts and restarts if
  seen again — the reference's own lossy bounded-state design. `emit_k`
  (≤ k) separately caps how many ranks each snapshot carries, so callers
  can keep the full-fidelity state while emitting compact snapshots.
- rank 1-based, desc by order_count, menu_item_id asc tiebreak (the
  deterministic replacement for the reference's encounter-order JVM sort —
  SURVEY §7 risk 5).

Scale: per-event emission is O(events × emit_k) OUTPUT — that is the
reference's design point for low-latency leaderboards, not a 100 TB batch
posture; state itself stays O(keys × k). At pipeline scale prefer the
micro-batch variant and let serving re-rank; this operator exists for
parity where per-event freshness is the contract.
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
_STATE_SCHEMA = StructType(
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
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

