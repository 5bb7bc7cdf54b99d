"""Frontier-named tier layout — the idempotent-append convention shared by
the live drains (workload/streaming_drain_queries.py trending tier,
workload/heavyhitter_queries.py percentile tier) and the serving routers
(serve/router.py).

A materializing foreachBatch writes each batch's rows to ONE subdirectory
named by the batch's watermark frontier, ``upto_<W>/`` (W = the max closed
window end in the batch, strictly increasing across non-empty batches).
That one convention buys four properties at once:

- **idempotent retry**: a foreachBatch retry re-derives the same W and
  overwrites its own subdirectory instead of duplicating rows — the same
  guarantee a production tier gets from partition overwrite (the reference's
  segment-replacement discipline, MergeRollupTask semantics in
  orders_1m_rollup_table.json:72-84);
- **O(#batches) frontier recovery**: the committed frontier is
  ``max(<W> over COMMITTED subdir names)`` — one directory listing, never a
  scan of tier data (which grows with history). Committed = the subdir
  carries Spark's ``_SUCCESS`` marker (round-12 ADVICE: the bare-existence
  form let a concurrent reader observe a torn subdir, or a frontier one
  batch AHEAD of the sink commit, and claim freshness for rows not yet
  materialized). The frontier still leads the SINK commit by up to one
  batch — ``append_upto`` runs inside foreachBatch, before the batch
  commits — so a reader of the tier itself is exact, while a reader pairing
  the frontier with a different sink must tolerate one batch of lead;
- **retry-safe frontier derivation**: a retrying batch must EXCLUDE its own
  ``upto_<W_cur>`` directory (written — possibly even committed — by the
  failed attempt) when deriving the previous frontier, or it would see
  ``W_prev == W_cur`` and silently emit nothing — pass ``below=W_cur``
  (round-11 ADVICE, the at-most-once hole in the trending drain's first
  frontier derivation). The ``_SUCCESS`` gate does NOT subsume this: a
  crash BETWEEN the tier commit and the sink commit leaves a fully
  committed own-subdir behind;
- **O(span) reads and O(1) retention**: because append-mode emission is
  monotone (every row in batch *i* has ``window_end`` greater than batch
  *i−1*'s frontier), the subdirs covering a window_end span are computable
  from the directory listing alone (`tier_subdirs_overlapping`), and
  dropping history is subdir deletion (`purge_upto`) — the reference's
  segment replacement + retention (orders_1m_rollup_table.json:7-9, 30 d)
  without touching surviving files.
"""

from __future__ import annotations

import os
import shutil
from datetime import date, timedelta

from pyspark.sql import DataFrame

_PREFIX = "upto_"


def _committed_ends(tier_dir: str) -> list[int]:
    """Frontier values of COMMITTED subdirs (``upto_<W>`` carrying Spark's
    ``_SUCCESS`` marker), unsorted. Torn subdirs — a writer died mid-write,
    or is mid-write right now — are invisible."""
    if not os.path.isdir(tier_dir):
        return []
    return [
        int(d[len(_PREFIX):])
        for d in os.listdir(tier_dir)
        if d.startswith(_PREFIX)
        and d[len(_PREFIX):].lstrip("-").isdigit()
        and os.path.exists(os.path.join(tier_dir, d, "_SUCCESS"))
    ]


def tier_frontier(tier_dir: str, below: int | None = None) -> int | None:
    """The committed frontier of a ``upto_<W>`` tier directory: max W over
    committed subdir names, or None if the tier is empty/absent. With
    ``below=W_cur``, only frontiers strictly below W_cur count — the
    retry-safe form a batch that is ABOUT to write ``upto_<W_cur>`` (or may
    already have, on a retry) must use to find its predecessor."""
    ends = _committed_ends(tier_dir)
    if below is not None:
        ends = [e for e in ends if e < below]
    return max(ends) if ends else None


def tier_subdirs_overlapping(
    tier_dir: str, above_ms: int, through_ms: int
) -> list[str]:
    """Paths of the committed subdirs that can contain rows with
    ``window_end`` in ``(above_ms, through_ms]`` — the directory-level form
    of a span read (round-12 VERDICT #2: the compactor's full-tier read
    relied on parquet min/max stats; this prunes at the LISTING, O(span)
    subdirs not O(history)).

    Correctness rests on append-mode monotonicity: subdir ``upto_<W_i>``
    holds exactly the rows with ``W_{i-1} < window_end <= W_i`` (a window
    is emitted in the first batch whose watermark passes its end, and
    ``W_{i-1} <=`` that batch's prior watermark). So:

    - subdirs with ``W <= above_ms`` hold only rows at or below the span —
      skipped entirely;
    - subdirs with ``above_ms < W <= through_ms`` are in-span;
    - of the subdirs past ``through_ms``, only the FIRST can straddle it
      (it covers ``(last in-span W, first beyond W]``) — included; later
      ones start past ``through_ms``.

    Callers keep the row-level ``window_end`` filter — the straddling
    subdir contributes out-of-span rows by design."""
    ends = sorted(_committed_ends(tier_dir))
    keep = [e for e in ends if above_ms < e <= through_ms]
    beyond = [e for e in ends if e > through_ms]
    if beyond:
        keep.append(beyond[0])
    return [os.path.join(tier_dir, f"{_PREFIX}{e}") for e in keep]


def purge_upto(tier_dir: str, through_ms: int) -> list[int]:
    """Delete every ``upto_<W>`` subdir (committed or torn) with
    ``W <= through_ms``; returns the deleted Ws. This is the tier's
    retention/segment-replacement step (reference MergeRollupTask replaces
    fine segments after compaction and drops them at retention,
    orders_1m_rollup_table.json:7-9): by monotonicity a deleted subdir held
    only rows with ``window_end <= through_ms``, so any reader whose range
    sits strictly above ``through_ms`` — and any future batch's frontier or
    span derivation, all of which look only above the newest surviving W —
    is untouched. Idempotent (re-deleting is a no-op), so a crash mid-purge
    retries harmlessly.

    Caller contract: pick ``through_ms`` BELOW everything still routed to
    this tier (a compacted fine tier keeps its routed edge margin; a slice
    tier keeps the last window's worth of slices). Local-FS caveat: a
    reader that already planned files in a purged subdir can fail mid-scan;
    production object stores get snapshot isolation from the writer's
    manifest instead — same caveat as any non-transactional table format."""
    if not os.path.isdir(tier_dir):
        return []
    purged: list[int] = []
    for d in os.listdir(tier_dir):
        if d.startswith(_PREFIX) and d[len(_PREFIX):].lstrip("-").isdigit():
            w = int(d[len(_PREFIX):])
            if w <= through_ms:
                shutil.rmtree(os.path.join(tier_dir, d), ignore_errors=True)
                purged.append(w)
    return purged


def drop_expired_partitions(
    table_path: str, retention_days: int, today: date | None = None
) -> list[str]:
    """Retention (S10) for a date-partitioned table such as the raw sink's
    ``event_date=`` layout: drop the partitions older than the horizon —
    the Spark analog of Pinot's 7d/30d segment retention. A directory
    delete, no data rewrite; returns the dropped partition names."""
    cutoff = (today or date.today()) - timedelta(days=retention_days)
    dropped: list[str] = []
    if not os.path.isdir(table_path):
        return dropped
    for name in sorted(os.listdir(table_path)):
        if not name.startswith("event_date="):
            continue
        try:
            part_date = date.fromisoformat(name.split("=", 1)[1])
        except ValueError:
            continue
        if part_date < cutoff:
            shutil.rmtree(os.path.join(table_path, name))
            dropped.append(name)
    return dropped


def append_upto(df: DataFrame, tier_dir: str, w_cur: int) -> None:
    """Idempotently append one batch's rows as ``tier_dir/upto_<w_cur>/``
    (overwrite mode — a retry replaces its own subdir; Spark's committer
    writes the ``_SUCCESS`` marker last, which is what makes
    `tier_frontier`'s committed-only listing torn-write-safe). One file:
    the single-writer local form; a production writer would let each task
    write its own part file."""
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tier_dir, f"{_PREFIX}{w_cur}")
    )


def read_tier(spark, tier_dir: str, schema) -> DataFrame:
    """Read a frontier-named tier: one flat dir of per-batch subwrites,
    recursed. The explicit schema keeps a concurrently-appending reader
    stable (no inference race with a subdir mid-write)."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema(schema)
        .parquet(tier_dir)
    )


def read_tier_span(spark, tier_dir: str, schema, above_ms: int, through_ms: int):
    """Span read at directory granularity: the union of the subdirs
    `tier_subdirs_overlapping` selects, with the row-level
    ``(above_ms, through_ms]`` window_end filter the straddling subdir
    needs. Returns None when no subdir overlaps (caller decides whether
    empty means empty-DataFrame or skip)."""
    import pyspark.sql.functions as F

    paths = tier_subdirs_overlapping(tier_dir, above_ms, through_ms)
    if not paths:
        return None
    return (
        spark.read.schema(schema)
        .parquet(*paths)
        .filter(
            (F.col("window_end") > F.lit(above_ms))
            & (F.col("window_end") <= F.lit(through_ms))
        )
    )
