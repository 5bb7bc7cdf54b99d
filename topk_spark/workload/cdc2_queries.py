"""Continuous CDC last-value materialization — round-8 late.

`stream_cdc_lastvalue_drain` is the live form of the reference's Pinot
upsert table (orders_raw_upsert_table.json: latest row per primary key
wins at query time), and the LAST-seen complement of the first-seen
dedup family: one current row per user, maintained as streaming state
(streaming/cdc_lastvalue.py).

The property under the gate is "a late update must not regress the
materialized row": a 4th arrival tile carries ONLY stale replays —
copies of tile-0 rows arriving after everything else — so every replayed
user's final micro-batch contains nothing but an out-of-order row. The
operator's state (per-key (ts_us, event_id) high-water) ignores them;
a stateless per-batch fold would materialize the stale row as the user's
final emission and fail the oracle, which is the plain relational
latest-per-user over the original events (replays are copies, so the
multiset max is unchanged). The stale tile is a NON-monotone arrival
schedule `range_tile` cannot express, so the fixture builds its own
`_tile` column.

100 TB posture: state is one small row per key; arrivals shuffle once on
the key; an exact replay compares not-greater and is absorbed, so
at-least-once delivery cannot move the materialization.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from topk_spark.io.sources import load_table
from topk_spark.workload import register
from topk_spark.workload.drain import drain, range_tile

_LASTVALUE_ORACLE = """
WITH r AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, event_type, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC
         ) AS rn
  FROM events
)
SELECT user_id, CAST(us // 1000 AS BIGINT) AS last_ts_ms,
       event_id AS last_event_id, event_type AS last_event_type,
       value AS last_value
FROM r WHERE rn = 1
"""


def _tiled_with_stale_replays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events in 3 event-time tiles plus tile 3 = stale replays (every 7th
    tile-0 row, re-arriving last)."""
    ev = range_tile(
        load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "event_id", "event_type", "value"
        ),
        "ts",
        3,
    )
    stale = ev.where(
        (F.col("_tile") == 0) & (F.col("event_id") % 7 == 0)
    ).withColumn("_tile", F.lit(3))
    return ev.unionByName(stale).select(
        "_tile",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )


#: retention drain knobs: the events fixture spans ~30 days in ~10-day
#: tiles with per-user event gaps of hours, so a 1 h horizon evicts ~90% of
#: (user, tile) pairs at every tile boundary — measured 415/450 at the
#: sf0.01 gate scale (pinned non-vacuous in tests/test_cdc_lastvalue.py) —
#: while the 1-minute watermark delay keeps ordered-tile rows safely above
#: the late-events watermark (tile i's rows sit at/after tile i-1's max by
#: construction).
_RETENTION_MS = 3_600_000
_RETENTION_DELAY = "1 minute"


def _cdc_lastvalue_drain(
    spark: SparkSession,
    sf_dir: str,
    retention: bool = False,
    restart_after: int | None = None,
) -> DataFrame:
    """The four CDC drains' shared body: 4 arrival tiles (the last all
    stale replays), optionally with the retention horizon on and/or a
    restart before the stale tile."""
    from topk_spark.streaming.cdc_lastvalue import streaming_cdc_lastvalue

    return drain(
        spark,
        _tiled_with_stale_replays(spark, sf_dir),
        lambda s: streaming_cdc_lastvalue(
            s,
            retention_ms=_RETENTION_MS if retention else None,
            watermark_delay=_RETENTION_DELAY if retention else None,
        ),
        output_mode="update",
        last_per=["user_id"],
        tiles=4,
        restart_after=restart_after,
    )


@register(
    "stream_cdc_lastvalue_drain",
    tags=("D4", "T8", "T9", "cdc", "streaming"),
    oracle=_LASTVALUE_ORACLE,
)
def stream_cdc_lastvalue_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user as continuous state, drained over 4 arrival
    batches whose last contains ONLY stale replays of tile-0 rows. The
    hash matches the relational latest-per-user iff the state's high-water
    comparison suppressed every late replay — the upsert-table guarantee,
    live."""
    return _cdc_lastvalue_drain(spark, sf_dir)


@register(
    "stream_cdc_lastvalue_restart_drain",
    tags=("D4", "T8", "T9", "cdc", "streaming", "restart"),
    oracle=_LASTVALUE_ORACLE,
)
def stream_cdc_lastvalue_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHECKPOINT-RESTART continuity for the CDC high-water state (round-9;
    the reference's upsert table must keep latest-row semantics across
    server restarts — orders_raw_upsert_table.json:4-7). Same fixture and
    oracle as `stream_cdc_lastvalue_drain` VERBATIM, but the drain STOPS
    after the three fresh-update tiles and a freshly-built query — new
    lineage, same checkpoint — processes the stale-replay tile alone. Every
    replayed user's final micro-batch now runs in generation 2, so
    suppression is provably a function of RECOVERED per-key (ts_us,
    event_id) state: a restart that reset it would materialize the stale
    row as that user's final emission and fail the hash (the counterfactual
    population is pinned non-vacuous in
    tests/test_stateful_dedup.py::test_cdc_lastvalue_stale_tile_counterfactual;
    the ×2 state-store-provider twin runs in
    tests/test_restart_continuity.py::test_cdc_lastvalue_state_survives_restart)."""
    return _cdc_lastvalue_drain(spark, sf_dir, restart_after=3)


@register(
    "stream_cdc_lastvalue_retention_drain",
    tags=("D4", "T6", "T9", "cdc", "streaming"),
    oracle=_LASTVALUE_ORACLE,
)
def stream_cdc_lastvalue_retention_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CDC drain with the RETENTION HORIZON ON (1 h over a ~30-day,
    4-tile replay): state is mass-evicted at every tile boundary and
    re-created on each key's next update, yet the oracle is the unbounded
    drain's SQL VERBATIM — the driver hash certifies that eviction is
    observationally free (streaming/cdc_lastvalue.py module docstring for
    the derivation: any row admitted past the late-events watermark is
    strictly newer than any evicted high-water, and the all-stale tile-3
    replays are dropped at that watermark before the operator). This is the
    reference's bounded-retention upsert surface
    (orders_raw_upsert_table.json:10-12) run live, with the zero-semantic-
    cost property under the exact-value gate rather than argued."""
    return _cdc_lastvalue_drain(spark, sf_dir, retention=True)


@register(
    "stream_cdc_lastvalue_retention_restart_drain",
    tags=("D4", "T6", "T8", "T9", "cdc", "streaming", "restart"),
    oracle=_LASTVALUE_ORACLE,
)
def stream_cdc_lastvalue_retention_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RETENTION × RESTART composition (round-10; the retention drain above
    is forward-only, the restart drain above runs without retention): the
    drain stops after the three fresh-update tiles WITH EVICTION TIMERS
    PENDING — every live key's state carries a registered event-time
    deadline — and a freshly-built query processes the all-stale tile 4
    alone. Recovery must therefore restore BOTH halves of the operator's
    checkpoint together: the per-key (ts_us, event_id) high-water (or the
    stale replays materialize — the restart drain's property) AND the
    timer schedule plus watermark (or pending evictions fire at the wrong
    point / never, breaking the state bound; the ~90%-per-tile-boundary
    eviction rate measured for the forward drain keeps the timer
    population non-vacuous at gate scale). Same fixture and oracle as the
    other three CDC drains VERBATIM — eviction remains observationally
    free across the restart (streaming/cdc_lastvalue.py module docstring
    for the derivation), so any hash deviation isolates a recovery defect.
    The as-of outer restart twin proved this several-state-machines-from-
    one-checkpoint pattern for joins (workload/streaming_join_queries.py);
    this is its timer-bearing applyInPandasWithState form."""
    return _cdc_lastvalue_drain(spark, sf_dir, retention=True, restart_after=3)
