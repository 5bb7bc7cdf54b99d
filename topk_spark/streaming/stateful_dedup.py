"""Keyed first-seen dedup with processing-time state TTL — the closest
structural mirror of the reference's signature operator (SURVEY.md §2 D1/T6).

The reference keys the stream by `event_id` and keeps a per-key
`ValueState<Boolean>` with `StateTtlConfig`: 1h TTL, set on state creation,
`NeverReturnExpired` (TopKStreamingJob.kt:87-119). This module re-expresses
that with `applyInPandasWithState`: per-key state holds the processing-time
instant the key was first seen (`seen_at`), and a duplicate is suppressed
only while `now - seen_at <= ttl`. After the TTL a late duplicate is
re-admitted — in BOTH systems; that is the deliberate bounded-state
trade-off, not a bug. Comparing against the stored instant reproduces
`NeverReturnExpired` exactly: expired state is *treated as absent* the
moment it expires, independent of when the store physically frees it.

Physical eviction is a separate, opt-in concern (`register_eviction_timers`):
registering a `ProcessingTimeTimeout` per key lets the state store drop idle
keys after the TTL, which is what a long-running continuous-trigger
deployment wants. It is off by default because Spark's
`FlatMapGroupsWithStateExec.shouldRunAnotherBatch` returns true
unconditionally under ProcessingTimeTimeout, so a `trigger(availableNow)`
drain — the shape every test and backfill uses — would never terminate: the
query keeps scheduling empty micro-batches to poll timers. Correctness does
not depend on eviction; only state size does.

The engine's default pipeline (streaming/job.py) uses the fully-declarative
`dropDuplicatesWithinWatermark` instead (event-time horizon — SURVEY §7 risk
2 documents the clock difference). This operator exists for workloads that
need the reference's processing-time TTL clock, and as the template for
custom per-key state on top of dedup. (Spark 4's
`transformWithStateInPandas` offers the same semantics as a first-class
`getValueState(ttlDurationMs=...)`; it requires the protobuf runtime, absent
in this build, so the GroupState form is the portable one.)

Scale: state is one long per key, hash-spread across executors (RocksDB
state store in production); per-batch work per key is O(rows in batch for
that key). The groupBy shuffle on the dedup key is the same G1 hash-exchange
the reference's `keyBy` does.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


_STATE_SCHEMA = "seen_at long"


def dedup_stateful(
    stream: DataFrame,
    key: str | list[str] = "event_id",
    ttl_ms: int | None = None,
    order_col: str | None = "timestamp",
    register_eviction_timers: bool = False,
) -> DataFrame:
    """First-seen dedup on `key` (a column name or a list for composite
    keys — pass the tuple itself rather than a string concatenation, which
    can collide distinct tuples when a separator appears in a value),
    optionally with a processing-time state TTL.

    `order_col` makes the within-batch winner deterministic (the reference's
    "first" is Kafka arrival order, which a shuffled distributed batch does
    not preserve).

    `ttl_ms=None` suppresses duplicates for the query's lifetime (use the
    watermarked `dropDuplicatesWithinWatermark` pipeline when you need
    bounded state with an event-time clock). With a TTL set, duplicates are
    re-admitted once the TTL has elapsed since the key was first seen; set
    `register_eviction_timers=True` on continuous-trigger deployments so the
    state store also frees the key (see module docstring for why that flag
    must stay off under `availableNow` drains).
    """

    use_timers = register_eviction_timers and ttl_ms is not None

    def _dedup(
        group_key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if use_timers and state.hasTimedOut:
            state.remove()  # TTL expiry: forget the key, re-admit later dups
            return
        first: pd.DataFrame | None = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = (
                pdf.sort_values(order_col).head(1) if order_col else pdf.head(1)
            )
            if first is None:
                first = cand
            elif order_col is not None and (
                cand[order_col].iloc[0] < first[order_col].iloc[0]
            ):
                first = cand
        if first is None:
            return
        now_ms = int(time.time() * 1000)
        if state.exists:
            (seen_at,) = state.get
            if ttl_ms is None or now_ms - seen_at <= ttl_ms:
                if use_timers:
                    # Spark clears a key's registered timeout on EVERY
                    # invocation of this function for the key, so returning
                    # without re-arming would permanently cancel eviction
                    # for hot (frequently duplicated) keys and let their
                    # state live forever. Re-arm with the REMAINING
                    # lifetime so the eviction clock stays anchored to the
                    # original first-seen instant (OnCreateAndWrite), not
                    # to the duplicate's arrival.
                    state.setTimeoutDuration(max(1, ttl_ms - (now_ms - seen_at)))
                return  # live state: duplicate, emit nothing
            # Expired state == absent state (NeverReturnExpired): fall
            # through and re-admit, refreshing seen_at (OnCreateAndWrite —
            # this write IS a re-creation, not a duplicate's touch).
        state.update((now_ms,))
        if use_timers:
            state.setTimeoutDuration(ttl_ms)
        yield first

    # "update" because a key emits at most one row per TTL horizon; pair
    # with outputMode("update") + a foreachBatch sink (append-mode
    # flatMapGroupsWithState requires a watermark this operator does not
    # impose — the TTL, not event time, bounds its state).
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if use_timers
        else GroupStateTimeout.NoTimeout
    )
    key_cols = [key] if isinstance(key, str) else list(key)
    return stream.groupBy(*key_cols).applyInPandasWithState(
        _dedup,
        outputStructType=stream.schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout_conf,
    )
