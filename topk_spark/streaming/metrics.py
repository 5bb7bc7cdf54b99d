"""Streaming ops metrics (SURVEY.md §2 T10): the reference runs a 30 s
metrics reporter thread that logs consumer lag / processed counts
(KafkaConsumerTopKJob.kt:305-344). Spark's native analog is a
`StreamingQueryListener` — progress events already carry rows/s, batch
durations, watermark, and state-store sizes, so the listener only collects
and exposes them; no custom instrumentation thread, no driver polling of
executors.

The rollup window closer (streaming/job.py `WindowCloser`) has no state
operator, so its progress carries no state or late-row numbers; its own
per-batch counters are read with `closer_counters`.

Scale: listener callbacks run on the driver's listener bus with one event
per micro-batch per query — O(1) per batch regardless of data volume. The
snapshots deque is bounded, so a long-running deployment cannot leak.
"""

from __future__ import annotations

import json
import threading
from collections import deque
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class ProgressSnapshot:
    query_id: str
    batch_id: int
    timestamp: str
    num_input_rows: int
    input_rows_per_second: float
    processed_rows_per_second: float
    batch_duration_ms: int
    watermark: str | None
    state_rows_total: int
    state_memory_bytes: int


class _QueryStats:
    def __init__(self) -> None:
        self.batches = 0
        self.rows = 0
        self.last: ProgressSnapshot | None = None


_MAX_SNAPSHOTS = 256


class TopKMetricsListener(StreamingQueryListener):
    """Collects per-batch progress for every streaming query on the session.

    Register with ``spark.streams.addListener(listener)``; read
    ``listener.snapshots`` (bounded deque of `ProgressSnapshot`) or
    ``listener.summary()`` (per-query totals + last watermark/state size —
    the same numbers the reference's reporter logs every 30 s).
    """

    def __init__(self) -> None:
        super().__init__()
        self.snapshots: deque[ProgressSnapshot] = deque(maxlen=_MAX_SNAPSHOTS)
        self._stats: dict[str, _QueryStats] = {}
        self._lock = threading.Lock()

    # -- StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        with self._lock:
            self._stats.setdefault(str(event.id), _QueryStats())

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        # The pyspark event object exposes typed fields; fall back to the
        # JSON form for optional ones so listener never throws on the bus.
        try:
            d = json.loads(p.json)
        except Exception:
            d = {}
        state = d.get("stateOperators") or []
        snap = ProgressSnapshot(
            query_id=str(p.id),
            batch_id=p.batchId,
            timestamp=p.timestamp,
            num_input_rows=p.numInputRows,
            input_rows_per_second=p.inputRowsPerSecond or 0.0,
            processed_rows_per_second=p.processedRowsPerSecond or 0.0,
            batch_duration_ms=p.batchDuration,
            watermark=(d.get("eventTime") or {}).get("watermark"),
            state_rows_total=sum(s.get("numRowsTotal", 0) for s in state),
            state_memory_bytes=sum(s.get("memoryUsedBytes", 0) for s in state),
        )
        with self._lock:
            self.snapshots.append(snap)
            st = self._stats.setdefault(snap.query_id, _QueryStats())
            st.batches += 1
            st.rows += snap.num_input_rows
            st.last = snap

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- reporting --------------------------------------------------------
    def summary(self) -> dict[str, dict]:
        """Per-query totals — the reference reporter's log line as data:
        {query_id: {batches, rows, last_rows_per_sec, watermark,
        state_rows, state_memory_bytes}}."""
        with self._lock:
            out = {}
            for qid, st in self._stats.items():
                last = st.last
                out[qid] = {
                    "batches": st.batches,
                    "rows": st.rows,
                    "last_rows_per_sec": (
                        last.processed_rows_per_second if last else 0.0
                    ),
                    "watermark": last.watermark if last else None,
                    "state_rows": last.state_rows_total if last else 0,
                    "state_memory_bytes": last.state_memory_bytes if last else 0,
                }
            return out


def closer_counters(checkpoint: str) -> dict | None:
    """The last committed batch of the window closer checkpointed at
    `checkpoint`: {batch_id, watermark_ms, late_dropped, closed_rows,
    closed_windows, pending_rows, totals: {late_dropped, closed_rows,
    closed_windows}} (totals over every batch of the checkpoint), or None
    before its first batch."""
    from topk_spark.streaming.job import closer_state

    return closer_state(checkpoint)
