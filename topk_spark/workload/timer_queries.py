"""Event-time timer operator under the driver hash gate.

`inactivity_expiry` (streaming/timers.py) is timer-DRIVEN emission — the
reference's ProcessFunctions.kt:43-56 event-time timer as a real operator
rather than the watermark-eviction analog. The drain replays the events
table through three event-time tiles and hashes every expiry row the
timers fire, against an oracle that derives the full timer schedule
relationally:

- wm CTE: the in-effect watermark per batch (cumulative per-tile max
  event time in ms, minus the delay) — single stream, so no min-policy.
- a timeout set at `run_last_ms + gap` fires in the first batch whose
  watermark STRICTLY exceeds it (measured boundary,
  tests/test_timers.py::test_timer_firing_boundary_is_strict);
- DATA BEATS TIMER: if the key's next event arrives in (or before) the
  batch where the timeout would fire, the group takes its data call and
  the run continues — so a run SPLITS between consecutive events i, i+1
  iff first_due_batch(i) < arrival_tile(i+1), strictly;
- within-tile pairs can never split (the watermark only advances at batch
  boundaries and lags the tile the earlier event sits in), which the
  relational form reproduces for free;
- the trailing flush batch fires every remaining due timer; keys whose
  gap has not elapsed at the final watermark emit nothing.

Each output row carries the run's start/last/event-count AND the firing
batch id, so the hash pins state content, run segmentation, re-admission
after expiry, and the per-batch timer schedule at once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.workload import register
from topk_spark.workload.drain import drain, range_tile

_GAP_MS = 6 * 3600 * 1000  # 6 hours of inactivity
_DELAY_MS = 60_000  # 1 minute watermark delay


def _timer_oracle(split_extra: str, emit_expr: str) -> str:
    """The timer-schedule oracle, parameterized for the two topologies:

    - plain (3 data batches + 1 flush): a run splits between consecutive
      events i, i+1 iff first_due_batch(i) < arrival_tile(i+1) strictly
      (data in the due batch beats the timer), and a due timer fires at
      its logical first_due batch.
    - restart_after=2 (2 data batches, gen-1 flush, 1 data batch, gen-2
      flush): the gen-1 FLUSH sits between tile 1 and tile 2, so timers
      due at wm(tiles 0-1) — first_due_b == 2 — fire there even when the
      key HAS tile-2 data (that data is not visible yet; the restart
      converts those data-beats-timer saves into real expiries:
      `split_extra` adds the (first_due_b = 2 AND next_tile = 2) case).
      Physical batch ids: logical 1→1, 2→2 (gen-1 flush takes the id the
      tile-2 data batch had), 3→4 (gen-2 data is 3, gen-2 flush is 4) —
      `emit_expr` applies the remap."""
    return f"""
WITH b AS (SELECT epoch_us(min(ts)) AS tmin, epoch_us(max(ts)) AS tmax
           FROM events),
ev AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         CAST(epoch_ms(ts) AS BIGINT) AS ms,
         epoch_us(ts) AS us,
         CAST(least(2, (epoch_us(ts) - b.tmin) * 3
              // (b.tmax - b.tmin + 1)) AS INT) AS tile
  FROM events CROSS JOIN b
),
wm AS (
  SELECT tile + 1 AS batch,
         CAST(max(max(ms)) OVER (ORDER BY tile) - {_DELAY_MS} AS BIGINT) AS w
  FROM ev GROUP BY tile
),
seq AS (
  SELECT key, ms, us, tile,
         lead(tile) OVER (PARTITION BY key ORDER BY us) AS next_tile,
         (SELECT min(w2.batch) FROM wm w2 WHERE w2.w > ev.ms + {_GAP_MS})
           AS first_due_b
  FROM ev
),
flags AS (
  SELECT *,
         CASE WHEN first_due_b IS NOT NULL
                   AND (next_tile IS NULL OR first_due_b < next_tile
                        {split_extra})
              THEN 1 ELSE 0 END AS is_split
  FROM seq
),
runs AS (
  SELECT *,
         coalesce(SUM(is_split) OVER (
             PARTITION BY key ORDER BY us
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run_id
  FROM flags
)
SELECT key,
       CAST(min(ms) AS BIGINT) AS run_start_ms,
       CAST(max(ms) AS BIGINT) AS last_ms,
       count(*) AS n_events,
       CAST(max(CASE WHEN is_split = 1 THEN {emit_expr} END) AS INT)
         AS emit_batch
FROM runs
GROUP BY key, run_id
HAVING max(is_split) = 1
"""


_TIMER_EXPIRY_ORACLE = _timer_oracle("", "first_due_b")

_TIMER_RESTART_ORACLE = _timer_oracle(
    "OR (first_due_b = 2 AND next_tile = 2)",
    "CASE WHEN first_due_b = 3 THEN 4 ELSE first_due_b END",
)


def _timer_expiry_drain(
    spark: SparkSession, sf_dir: str, restart_after: int | None = None
) -> DataFrame:
    from topk_spark.streaming.timers import inactivity_expiry

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key"),
        "ts",
        F.unix_millis("ts").alias("ms"),
    )
    drained = drain(
        spark,
        range_tile(ev, "ts", 3),
        lambda s: inactivity_expiry(
            s, gap_ms=_GAP_MS, watermark_delay="1 minute"
        ),
        output_mode="append",
        tiles=3,
        keep_bid=True,
        restart_after=restart_after,
    )
    return drained.withColumn("emit_batch", F.col("_bid").cast("int")).drop("_bid")


@register(
    "stream_timer_expiry_drain",
    tags=("T7", "D2", "streaming", "timers"),
    oracle=_TIMER_EXPIRY_ORACLE,
)
def stream_timer_expiry_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inactivity expiries (6-hour gap) over the events table,
    three event-time-ordered micro-batches plus the flush. Every row is a
    timer FIRING: (key, run_start, run_last, n_events, emit_batch). The
    oracle recomputes run segmentation and the firing schedule from the
    watermark table; a timer whose base state was lost, an expiry that
    fired at wm == T (boundary), an expiry in the wrong batch, or a run
    that failed to re-admit after expiring all hash-mismatch."""
    return _timer_expiry_drain(spark, sf_dir)


@register(
    "stream_timer_expiry_restart_drain",
    tags=("T7", "T8", "streaming", "timers", "restart"),
    oracle=_TIMER_RESTART_ORACLE,
)
def stream_timer_expiry_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The timer operator across a CHECKPOINT RESTART — and unlike every
    other restart drain, here a restart is OBSERVABLE and the oracle
    predicts exactly how. Stopping after two terciles makes generation 1's
    trailing flush advance the watermark to wm(tiles 0-1) and fire every
    timer due at it; keys whose NEXT event sits in tile 2 would, in the
    uninterrupted run, have had that data beat the timer — but tile 2 is
    not visible to generation 1, so the shutdown flush legitimately
    expires them and their tile-2 data starts a fresh run under the
    restored generation. The oracle adds exactly that case
    (first_due_b = 2 AND next_tile = 2) to the split rule and remaps
    logical firing batches onto the two-generation physical schedule
    (gen-1 flush inherits id 2; end-of-stream timers fire in gen-2's
    flush, id 4). What the hash therefore proves: timeout TIMESTAMPS are
    restored from the checkpoint (a gen-2 timer reset would shift the
    remaining schedule), run state survives for keys untouched by the
    forced flush, and the restart's observable effect is precisely the
    predicted set of converted expiries — nothing more."""
    return _timer_expiry_drain(spark, sf_dir, restart_after=2)
