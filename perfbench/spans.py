"""Tracing for the benchmark's traced run, kept outside the program: spans
are recorded by the benchmark around its calls into `topk_spark`'s public
functions, and counts are read back from Spark's own bookkeeping (streaming
progress, the SQL status store, the status tracker).
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    """In-memory span recorder: (name, start, end, parent) per span, written
    once when the run ends. A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def _span(self, name: str, attrs: dict):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext({})

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def no_span(name: str, **attrs):
    """Stand-in for `Tracer.span` on untraced operations."""
    return nullcontext({})


# ---------------------------------------------------------------------------
# Spark bookkeeping
# ---------------------------------------------------------------------------

def _jsc(spark):
    return spark.sparkContext._jsc.sc()  # noqa: SLF001


def drain_listeners(spark) -> None:
    """Wait until every listener (SQL status store, status tracker) has seen
    the events of work already finished."""
    _jsc(spark).listenerBus().waitUntilEmpty()


def job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def tasks_of_jobs(spark, jobs) -> int:
    tracker = spark.sparkContext.statusTracker()
    n = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            st = tracker.getStageInfo(s)
            n += st.numTasks if st else 0
    return n


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()  # noqa: SLF001
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def _metric_value(text: str) -> float:
    """A formatted SQL metric ("1,234", "3.8 KiB", "total (...)\\n43 ms
    (...)") as a number in bytes, ms or plain count."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def sql_metrics(spark, after_exec_id: int) -> list[tuple[str, str, float]]:
    """(node name, metric name, value) for every SQL metric of executions
    newer than `after_exec_id`, taken from the final (AQE-updated) plan
    graph the SQL status store keeps."""
    drain_listeners(spark)
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after_exec_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            ms = node.metrics().iterator()
            while ms.hasNext():
                metric = ms.next()
                v = values.get(metric.accumulatorId())
                if v.isDefined():
                    out.append((node.name(), metric.name(), _metric_value(v.get())))
    return out


def metric_sum(rows, metric: str, node_prefix: str = "") -> float:
    return sum(v for n, m, v in rows if m == metric and n.startswith(node_prefix))


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

def progress_totals(query) -> dict:
    """Sums over a finished query's `recentProgress`: batches, rows read,
    the trigger phases, state-store size and commit time, late rows."""
    prog = [json.loads(p.json) for p in query.recentProgress]
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in prog)  # noqa: E731
    ops = [s for p in prog for s in p.get("stateOperators", [])]
    last_ops = prog[-1].get("stateOperators", []) if prog else []
    return {
        "batches": len(prog),
        "rows_in": sum(p["numInputRows"] for p in prog),
        "add_batch_ms": dur("addBatch"),
        "planning_ms": dur("queryPlanning"),
        "wal_commit_ms": dur("walCommit"),
        "list_ms": dur("latestOffset") + dur("getBatch"),
        "state_rows": sum(s["numRowsTotal"] for s in last_ops),
        "state_bytes": sum(s["memoryUsedBytes"] for s in last_ops),
        "state_commit_ms": sum(s["commitTimeMs"] for s in ops),
        "late_dropped": sum(s["numRowsDroppedByWatermark"] for s in ops),
    }
