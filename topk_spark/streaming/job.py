"""The streaming pipeline (SURVEY.md §3.2) — Spark Structured Streaming
re-expression of TopKStreamingJob.kt:

    stage 1: Kafka source (S1) → JSON parse (P1/F5) → first-seen dedup under a
             1h event-time horizon (D1/T6) → raw deduped table (S3 analog)
    stage 2: stream FROM the raw table → window closer: 10s lateness (T1),
             1-minute tumbling rollup keyed by (restaurant, item)
             (G2+T3+A1+A2) → rollup table (S4 analog)

Stage 2 is a `foreachBatch` window closer (`WindowCloser`) with no state
store and no watermark, the way the reference's plain consumer closes its
windows in memory when it flushes (KafkaConsumerTopKJob.kt:145-150,199-241).
Micro-batch N:

1. loads E(N−1), the closer's event-time frontier, and the partial rollup
   rows of the windows still open, from the newest committed per-batch state
   under ``<checkpoint>/closer/`` (E(−1) = 0);
2. drops the rows whose window ends at or before E(N−1) and counts them;
3. sets E(N) = max(E(N−1), max event time of the batch − lateness), the max
   read from the raw files' parquet footers;
4. aggregates the kept rows with `rollup_aggs`, the same aggregation columns
   `build_rollup_stream` uses, and merges them into the open windows' partial
   rows: sums and counts add, `min` takes the minimum, the HLL sketches
   union;
5. writes, in one job, the windows ending at or before E(N) into the
   unchanged ``rollup/window_date=<D>/`` layout and the rest as batch N's
   pending rows.

So a window is emitted in the batch whose max event time closes it, and an
`availableNow` catch-up is one micro-batch. That is the 10s-watermark rollup
Spark runs when every data batch is followed by its no-data batch, which is
what live triggers do. With a backlog, Spark's back-to-back batches close
a window one batch later instead: its late-row rule uses the watermark of
the batch before (tests/test_streaming.py pins both).

A backlog of raw files is one closer batch. Each dedup micro-batch writes
one raw file per shuffle partition, a hash slice of event ids over the
batch's whole time range, so a file-count trigger limit would hand the
closer one slice at a time and every slice after the first would find most
of its windows closed (on a 20k-event log it kept 3,868 of 15,836 orders).
Bounding a backlog would have to count dedup batches, not files.

`build_rollup_stream` stays as the declarative reference of stage 2 (the
`stream_rollup_drain` query and the closer's equivalence test run it).
Each stage keeps its own clock (`DEDUP_HORIZON` 1 h, `LATENESS` 10 s; the
`ROLLUP_WINDOW` is 1 minute) and its own checkpoint: the reference's
topology (dedup job → Kafka topic → downstream consumer/Pinot ingest) with
the topic replaced by a partitioned parquet table.

Semantics vs the reference, pinned by tests/test_streaming.py:
- Dedup horizon 1h on the EVENT-time clock (the reference TTL is
  processing-time — SURVEY §7 risk 2, documented divergence).
- Late data: rows whose window closed before their batch are dropped from
  rollups but retained in raw — matching the Flink path's default drop (T5).
- Sinks are at-least-once; effective exactly-once (D4) comes from the
  watermark dedup in front of the raw sink and the closer's idempotent
  retry — a retried closer batch replaces its own rollup files — the same
  layered design as the reference's at-least-once producer + Pinot
  dedupConfig.

Scale: dedup state is one entry per event_id inside the horizon, hash-spread
across executors; the closer keeps one partial row per (restaurant, item,
open window) as parquet, about a minute of groups. Raw is partitioned by
event_date so retention (S10) is a partition drop
(`io.tier.drop_expired_partitions`) and time-range scans prune. The closer moves files with local file-system calls, like
io/tier.py.
"""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import unquote, urlparse

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

from topk_spark.ops.sketches import hll_sketch
from topk_spark.ops.timeparts import hour_of_day, iso_dayofweek
from topk_spark.schemas import ORDER_EVENT


# The pipeline's clocks, the reference's values (TopKStreamingJob.kt): the
# dedup horizon, the rollup's lateness and its tumbling window.
DEDUP_HORIZON = "1 hour"
LATENESS = "10 seconds"
ROLLUP_WINDOW = "1 minute"
_LATENESS_MS = 10_000
_WINDOW_MS = 60_000


def build_dedup_stream(events: DataFrame) -> DataFrame:
    """Stage 1 dataflow: typed OrderEvent stream → watermarked first-seen
    dedup (D1) + ingest-time revenue column (S8/P5)."""
    typed = events.withColumn("event_ts", F.timestamp_millis(F.col("timestamp")))
    deduped = (
        typed.withWatermark("event_ts", DEDUP_HORIZON)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return deduped.withColumn(
        "revenue_cents",
        F.col("quantity").cast("long") * F.col("price_in_cents").cast("long"),
    )


def rollup_aggs(merge: bool = False) -> list[Column]:
    """The rollup's aggregate columns (TopKStreamingJob.kt:59-72) over order
    rows, or with ``merge=True`` over rollup rows of the same group: sums
    and counts add, `min` takes the minimum, the HLL sketches union."""
    if merge:
        return [
            F.min("menu_item_name").alias("menu_item_name"),
            F.min("category_id").alias("category_id"),
            F.sum("sum_quantity").cast("long").alias("sum_quantity"),
            F.sum("sum_revenue_cents").cast("long").alias("sum_revenue_cents"),
            F.sum("order_count").cast("long").alias("order_count"),
            F.hll_union_agg("unique_customers_hll").alias("unique_customers_hll"),
        ]
    return [
        F.min("menu_item_name").alias("menu_item_name"),
        F.min("category_id").alias("category_id"),
        F.sum("quantity").cast("long").alias("sum_quantity"),
        F.sum("revenue_cents").cast("long").alias("sum_revenue_cents"),
        F.count("*").alias("order_count"),
        hll_sketch("customer_id").alias("unique_customers_hll"),
    ]


# A rollup row's group: its keys and the window columns derived from the
# window start.
_KEYS = ["restaurant_id", "menu_item_id"]
_WINDOW = ["window_start_1m", "window_start_ts", "hour_of_day", "day_of_week"]
_METRICS = ["sum_quantity", "sum_revenue_cents", "order_count", "unique_customers_hll"]
_COLUMNS = [*_KEYS, "menu_item_name", "category_id", *_WINDOW, *_METRICS]


def _rollup_rows(rows: DataFrame) -> DataFrame:
    """One RollupEvent row per (window, restaurant, item) of `rows`."""
    start = F.col("w.start")
    return (
        rows.groupBy(F.window("event_ts", ROLLUP_WINDOW).alias("w"), *_KEYS)
        .agg(*rollup_aggs())
        .select(
            *_KEYS,
            "menu_item_name",
            "category_id",
            F.unix_millis(start).alias("window_start_1m"),
            F.unix_millis(start).alias("window_start_ts"),
            hour_of_day(start).alias("hour_of_day"),
            iso_dayofweek(start).alias("day_of_week"),
            *_METRICS,
        )
    )


def build_rollup_stream(deduped: DataFrame) -> DataFrame:
    """Stage 2 dataflow, declaratively: deduped stream → watermark →
    tumbling-window RollupEvent rows (TopKStreamingJob.kt:59-72) with real
    HLL customer sketches; the reference `WindowCloser` is tested against."""
    return _rollup_rows(deduped.withWatermark("event_ts", LATENESS))


# Schema of the raw table written by stage 1 (stage 2 streams it back in).
RAW_SCHEMA = StructType(
    list(ORDER_EVENT.fields)
    + [
        StructField("event_ts", TimestampType(), True),
        StructField("revenue_cents", LongType(), True),
    ]
)


def _trigger(available_now: bool, seconds: float) -> dict:
    return (
        {"availableNow": True}
        if available_now
        else {"processingTime": f"{int(seconds * 1000)} milliseconds"}
    )


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def start_raw_sink(
    deduped: DataFrame,
    raw_path: str,
    checkpoint: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """Stage 1 sink: deduped events → parquet partitioned by event date.

    The query runs no no-data micro-batches, so an `availableNow` catch-up
    is one batch. Dedup keys past the horizon are evicted at the end of the
    next data batch instead of in an empty batch before it, and a row more
    than the horizon late is judged by the watermark of the data batch
    before, as back-to-back batches always judge it; rows inside the
    horizon are deduplicated the same. Spark reads the setting when the
    query starts, so the session's own value is restored right after."""
    conf = deduped.sparkSession.conf
    before = conf.get(_NO_DATA_BATCHES)
    conf.set(_NO_DATA_BATCHES, "false")
    try:
        return (
            deduped.withColumn("event_date", F.to_date(F.col("event_ts")))
            .writeStream.format("parquet")
            .option("path", raw_path)
            .option("checkpointLocation", checkpoint)
            .partitionBy("event_date")
            .trigger(**_trigger(available_now, trigger_seconds))
            .outputMode("append")
            .start()
        )
    finally:
        conf.set(_NO_DATA_BATCHES, before)


def closer_state(checkpoint: str, below: int | None = None) -> dict | None:
    """The newest committed state of a `WindowCloser` checkpointed at
    `checkpoint` (only batch ids below `below`, if given), or None."""
    root = os.path.join(checkpoint, WindowCloser.STATE_DIR)
    ids = [int(d) for d in os.listdir(root) if d.isdigit()] if os.path.isdir(root) else []
    for bid in sorted((i for i in ids if below is None or i < below), reverse=True):
        path = os.path.join(root, str(bid), WindowCloser.MARKER)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
    return None


def _parquet_files(d: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
    )


def _batch_files(checkpoint: str, batch_id: int) -> list[str] | None:
    """Local paths of the raw files in micro-batch `batch_id`, from the file
    source's log in the checkpoint (one file per batch, every tenth one a
    compacted file of all batches so far); None if it cannot be read."""
    log = os.path.join(checkpoint, "sources", "0")
    for name in (str(batch_id), f"{batch_id}.compact"):
        try:
            with open(os.path.join(log, name)) as f:
                lines = f.read().splitlines()[1:]
        except OSError:
            continue
        try:
            entries = [json.loads(line) for line in lines]
            urls = [e["path"] for e in entries if e["batchId"] == batch_id]
        except (ValueError, KeyError, TypeError):
            return None
        if not all(u.startswith("file:") for u in urls):
            return None
        return [unquote(urlparse(u).path) for u in urls]
    return None


def _footer_range(files: list[str], col: str) -> tuple[int | None, int | None] | None:
    """(min, max) of a long column over parquet files, from their footers;
    None when a row group with rows has no statistics for it."""
    lo = hi = None
    for path in files:
        md = pq.read_metadata(path)
        j = md.schema.names.index(col)
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            st = rg.column(j).statistics
            if st is None or not st.has_min_max:
                if rg.num_rows and (st is None or st.null_count != rg.num_rows):
                    return None
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


def _distinct_windows(files: list[str]) -> int:
    if not files:
        return 0
    starts = pq.ParquetDataset(files, partitioning=None).read(columns=["window_start_1m"])
    return pc.count_distinct(starts.column(0)).as_py()


class WindowCloser:
    """The `foreachBatch` function of `start_rollup_from_raw` (the steps are
    in this module's docstring). Batch N's state lives in
    ``<checkpoint>/closer/<N>/``: the pending rows as parquet, then
    `MARKER` (the frontier and the counters), renamed into place last as
    the commit marker. A batch reads only states below its own id, so a
    retried batch starts from the same state and writes the same rows; it
    deletes its earlier attempt's rollup files (``b<N>-<query>-*``) before
    moving its own in. States older than N−1 are deleted.

    The counters of each batch — ``late_dropped`` rows, ``closed_rows``,
    ``closed_windows``, ``pending_rows`` and their running ``totals`` — are
    in the marker; `streaming.metrics.closer_counters` reads them."""

    STATE_DIR = "closer"
    MARKER = "state.json"

    def __init__(self, rollup_path: str, checkpoint: str) -> None:
        self.rollup_path = rollup_path
        self.checkpoint = checkpoint

    def _query_tag(self) -> str:
        """First 8 characters of the query id in the checkpoint, so that a
        fresh checkpoint's batch ids never match an older run's files."""
        try:
            with open(os.path.join(self.checkpoint, "metadata")) as f:
                return json.load(f)["id"][:8]
        except (OSError, ValueError, KeyError):
            return "q"

    def _ts_range(self, batch: DataFrame, batch_id: int) -> tuple[int | None, int | None]:
        files = _batch_files(self.checkpoint, batch_id)
        found = _footer_range(files, "timestamp") if files is not None else None
        if found is None:
            found = tuple(batch.agg(F.min("timestamp"), F.max("timestamp")).first())
        return found

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        prev = closer_state(self.checkpoint, below=batch_id)
        e_prev = prev["watermark_ms"] if prev else 0
        lo, hi = self._ts_range(batch, batch_id)
        e = e_prev if hi is None else max(e_prev, hi - _LATENESS_MS)
        groups, late = self._groups(batch, prev, e_prev, lo)
        out = os.path.join(self.checkpoint, self.STATE_DIR, str(batch_id))
        (
            groups.withColumn("closed", F.col("window_start_1m") + _WINDOW_MS <= e)
            .withColumn("window_date", F.to_date(F.timestamp_millis("window_start_1m")))
            .write.mode("overwrite")
            .partitionBy("closed", "window_date")
            .parquet(out)
        )
        closed = _parquet_files(os.path.join(out, "closed=true"))
        pending = _parquet_files(os.path.join(out, "closed=false"))
        counts = {
            "late_dropped": late,
            "closed_rows": sum(pq.read_metadata(f).num_rows for f in closed),
            "closed_windows": _distinct_windows(closed),
        }
        self._publish(closed, batch_id)
        shutil.rmtree(os.path.join(out, "closed=true"), ignore_errors=True)
        totals = prev["totals"] if prev else dict.fromkeys(counts, 0)
        self._commit(out, {
            "batch_id": batch_id,
            "watermark_ms": e,
            **counts,
            "pending_rows": sum(pq.read_metadata(f).num_rows for f in pending),
            "totals": {k: totals[k] + v for k, v in counts.items()},
        })

    def _groups(
        self, batch: DataFrame, prev: dict | None, e_prev: int, lo: int | None
    ) -> tuple[DataFrame, int]:
        """The batch's rollup rows merged into the pending ones, and the
        number of late rows left out."""
        rows = batch.where(F.col("event_ts").isNotNull())
        late = 0
        if lo is not None and lo <= e_prev:  # else every window ends after e_prev
            is_late = F.unix_millis(F.window("event_ts", ROLLUP_WINDOW).end) <= e_prev
            late = rows.where(is_late).count()
            rows = rows.where(~is_late)
        groups = _rollup_rows(rows)
        if not (prev and prev["pending_rows"]):
            return groups, late
        pending = batch.sparkSession.read.schema(groups.schema).parquet(os.path.join(
            self.checkpoint, self.STATE_DIR, str(prev["batch_id"]), "closed=false"))
        merged = (
            groups.unionByName(pending.select(*_COLUMNS))
            .groupBy(*_KEYS, *_WINDOW)
            .agg(*rollup_aggs(merge=True))
            .select(*_COLUMNS)
        )
        return merged, late

    def _commit(self, out: str, state: dict) -> None:
        """Rename the marker into place, then drop states older than N−1."""
        tmp = os.path.join(out, f".{self.MARKER}")
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, os.path.join(out, self.MARKER))
        root = os.path.dirname(out)
        for d in os.listdir(root):
            if d.isdigit() and int(d) < state["batch_id"] - 1:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    def _publish(self, closed: list[str], batch_id: int) -> None:
        """Move the closed rows' files into ``rollup/window_date=<D>/``,
        replacing what an earlier attempt of this batch left there."""
        prefix = f"b{batch_id}-{self._query_tag()}-"
        for part in sorted({os.path.basename(os.path.dirname(f)) for f in closed}):
            dst = os.path.join(self.rollup_path, part)
            os.makedirs(dst, exist_ok=True)
            for old in os.listdir(dst):
                if old.startswith(prefix):
                    os.remove(os.path.join(dst, old))
        for f in closed:
            dst = os.path.join(self.rollup_path, os.path.basename(os.path.dirname(f)))
            shutil.move(f, os.path.join(dst, prefix + os.path.basename(f)))


# The raw columns the closer reads: a foreachBatch plan is fixed before the
# function sees it, so columns are pruned on the stream.
_CLOSER_INPUT = ["event_ts", "timestamp", "restaurant_id", "menu_item_id",
                 "menu_item_name", "category_id", "quantity", "revenue_cents",
                 "customer_id"]


def start_rollup_from_raw(
    spark: SparkSession,
    raw_path: str,
    rollup_path: str,
    checkpoint: str,
    trigger_seconds: int = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """Stage 2: stream the raw table through a `WindowCloser` into parquet
    partitioned by window date. The file source replays the raw table in
    commit order, so the closer's frontier advances as it would off the
    original topic; each trigger takes every raw file that has arrived (a
    file-count limit would split one dedup batch's hash-slice files across
    closer batches: module docstring)."""
    os.makedirs(rollup_path, exist_ok=True)
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .parquet(raw_path)
        .select(*_CLOSER_INPUT)
        .writeStream.foreachBatch(WindowCloser(rollup_path, checkpoint))
        .option("checkpointLocation", checkpoint)
        .trigger(**_trigger(available_now, trigger_seconds))
        .start()
    )
