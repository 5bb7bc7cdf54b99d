"""Checkpoint-restart continuity for the stateful operators whose drains pin
cross-BATCH continuity but not cross-PROCESS continuity (round-6 verdict
item 7; the pattern is tests/test_streaming_cusum.py's kill-and-restart):
state must survive a query stop + fresh query on the SAME checkpoint,
because at 100 TB a continuous job WILL be rescheduled mid-stream and every
buffered-but-unjoined row (or sketch counter, or dedup key, or canonical
document) lost at that boundary is silent data loss.

Each test drains, stops, then drains NEW source files through a new query on
the same checkpoint and asserts an output that can only exist if the first
run's state was restored:
- join: the view arrives before the restart, its matching purchase after —
  the pair can only emit from restored view-side state;
- MG: the heavy key's entire weight arrives before the restart, only noise
  after — the key can only survive in the final summary via restored
  counters (its weight is bounded-deficit-guaranteed, so absence is a reset,
  not pruning);
- dedup: a key first seen before the restart recurs after it — suppression
  requires the restored first-seen state (a reset re-admits it);
- HLL: distinct items split across the restart — the final estimate covers
  both halves only if the sketch state was restored (a reset would halve
  it, far outside the sketch's error bound);
- near-dup: the canonical document's band-bucket entries are written before
  the restart, its near-duplicate arrives after — the match can only be
  emitted against restored bucket state (a reset silently re-admits the
  duplicate, the worst failure mode for an ingest-time suppressor);
- per-event top-K (round-8 late): the item counts AND the per-key snapshot
  sequence counter must both resume — generation 2's lone event must emit
  snapshot seq=3 with the pre-restart counts folded in (a reset restarts
  both at 1, no partial credit);
- session windows (round-8 late): MERGING state — an open session must
  absorb a post-restart in-gap event into one merged row, the only class
  where recovery must support merge-into-existing, not just key-value
  reload.

With these, every stateful-operator class the engine ships (symmetric hash
join, custom GroupState sketch/dedup/bucket/counter state, built-in
windowed/sketch aggregation state, merging session-window state) has a
restart pin.

The whole matrix runs under BOTH state-store providers (round-7 verdict
item 4): the default HDFS-backed store AND RocksDB — the provider the 100 TB
deployment story names (session.set_state_store, benched since round 4).
Restart × provider is exactly where state-format surprises live: RocksDB
persists state as SST files + changelog rather than in-memory maps written
to delta files, so recovery exercises an entirely different serialization
and reload path per provider.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

T0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z
_M = 60_000


@pytest.fixture(params=["hdfs", "rocksdb"])
def store(spark, request):
    """Run each restart pin under both state-store providers. The conf is
    read at STREAMING QUERY START, so flipping it between tests is safe; the
    previous value is restored so other test modules keep the default."""
    from topk_spark.session import _STATE_STORE_CONF, set_state_store

    try:
        prev = spark.conf.get(_STATE_STORE_CONF)
    except Exception:
        prev = None
    if not set_state_store(spark, request.param):
        pytest.skip(f"{request.param} state-store provider unavailable")
    yield request.param
    if prev is None:
        spark.conf.unset(_STATE_STORE_CONF)
    else:
        spark.conf.set(_STATE_STORE_CONF, prev)


def _write_file(src: str, name: str, rows: list[dict], mtime: int) -> None:
    os.makedirs(src, exist_ok=True)
    p = os.path.join(src, name)
    with open(p, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    os.utime(p, (mtime, mtime))


def test_interval_join_state_survives_restart(spark, tmp_path, store):
    from topk_spark.streaming.interval_join import interval_join

    views_dir = str(tmp_path / "views")
    buys_dir = str(tmp_path / "buys")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain() -> list:
        views = (
            spark.readStream.schema("view_id string, user_id string, view_ms long")
            .option("maxFilesPerTrigger", "1")
            .json(views_dir)
            .withColumn("view_ts", F.timestamp_millis("view_ms"))
            .drop("view_ms")
        )
        buys = (
            spark.readStream.schema("order_id string, b_user_id string, buy_ms long")
            .option("maxFilesPerTrigger", "1")
            .json(buys_dir)
            .withColumn("buy_ts", F.timestamp_millis("buy_ms"))
            .drop("buy_ms")
        )
        joined = interval_join(
            views,
            buys,
            left_key="user_id",
            right_key="b_user_id",
            left_time="view_ts",
            right_time="buy_ts",
            window="60 minutes",
            watermark_delay="10 hours",
            how="inner",
        ).select("view_id", "order_id")
        q = (
            joined.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not os.path.isdir(out):
            return []
        return sorted(
            (r["view_id"], r["order_id"])
            for r in spark.read.parquet(out).collect()
        )

    # Run 1: the view (plus an already-matchable pair as a liveness check);
    # U1's purchase does not exist yet.
    _write_file(views_dir, "v0.json", [
        {"view_id": "V_PRE", "user_id": "U1", "view_ms": T0},
        {"view_id": "V_W", "user_id": "U2", "view_ms": T0},
    ], 1000)
    _write_file(buys_dir, "b0.json", [
        {"order_id": "O_W", "b_user_id": "U2", "buy_ms": T0 + 5 * _M},
    ], 1000)
    first = drain()
    assert first == [("V_W", "O_W")]

    # Run 2, same checkpoint: ONLY the purchase arrives. The (V_PRE, O_POST)
    # pair requires V_PRE's buffered state to have been restored.
    _write_file(buys_dir, "b1.json", [
        {"order_id": "O_POST", "b_user_id": "U1", "buy_ms": T0 + 30 * _M},
    ], 1010)
    second = drain()
    assert ("V_PRE", "O_POST") in second, (
        "view state buffered before the restart did not join a purchase "
        "arriving after it — join state lost across checkpoint restart"
    )


def test_mg_summary_state_survives_restart(spark, tmp_path, store):
    from topk_spark.streaming.heavyhitters import streaming_mg_summary

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cap = 4

    def drain() -> dict[int, int]:
        stream = (
            spark.readStream.schema("cohort long, w long")
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = (
            streaming_mg_summary(stream, cap=cap)
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("_bid", F.lit(int(bid)))
                .write.mode("append")
                .parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out)
        last = rows.agg(F.max("_bid")).collect()[0][0]
        return {
            r["cohort"]: r["est"]
            for r in rows.filter(F.col("_bid") == last).collect()
        }

    # Run 1: cohort 7 carries weight 500; 8 noise cohorts at weight 1.
    _write_file(src, "f0.json", [
        {"cohort": 7, "w": 500},
        *({"cohort": 100 + i, "w": 1} for i in range(8)),
    ], 1000)
    first = drain()
    assert first.get(7, 0) >= 400  # present and dominant before the restart

    # Run 2, same checkpoint: noise only — cohort 7 never reappears. Total
    # weight W = 516, so MG's deficit bound is 2W/(cap+1) ≈ 206: if the
    # counters were restored, cohort 7 MUST survive with est ≥ ~294; if the
    # state was reset, batch 2's summary cannot contain it at all.
    _write_file(src, "f1.json", [
        {"cohort": 100 + i, "w": 1} for i in range(8)
    ], 1010)
    second = drain()
    assert second.get(7, 0) >= 250, (
        f"heavy cohort lost across checkpoint restart: {second}"
    )


def test_dedup_state_survives_restart(spark, tmp_path, store):
    from topk_spark.streaming.stateful_dedup import dedup_stateful

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain() -> list[str]:
        stream = (
            spark.readStream.schema("event_id string, timestamp long")
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = (
            dedup_stateful(stream, key="event_id", ttl_ms=None)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r["event_id"] for r in spark.read.parquet(out).collect())

    _write_file(src, "f0.json", [
        {"event_id": "E1", "timestamp": 1},
        {"event_id": "E2", "timestamp": 2},
    ], 1000)
    assert drain() == ["E1", "E2"]

    # Run 2, same checkpoint: E1 recurs — suppressing it requires the
    # restored first-seen state; a reset would admit it a second time.
    _write_file(src, "f1.json", [
        {"event_id": "E1", "timestamp": 3},
        {"event_id": "E3", "timestamp": 4},
    ], 1010)
    assert drain() == ["E1", "E2", "E3"], (
        "first-seen dedup state lost across checkpoint restart"
    )


def test_hll_agg_state_survives_restart(spark, tmp_path, store):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain() -> int:
        stream = (
            spark.readStream.schema("k int, item string")
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = (
            stream.groupBy("k")
            .agg(F.hll_sketch_agg("item", F.lit(12)).alias("sk"))
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("_bid", F.lit(int(bid)))
                .write.mode("append")
                .parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out)
        last = rows.agg(F.max("_bid")).collect()[0][0]
        return (
            rows.filter(F.col("_bid") == last)
            .select(F.hll_sketch_estimate("sk").cast("long").alias("est"))
            .collect()[0]["est"]
        )

    # 500 distinct items before the restart, 500 DIFFERENT ones after: the
    # final estimate covers ~1000 only if the sketch state was restored —
    # a reset lands near 500, an order of magnitude outside the ~4σ bound.
    _write_file(src, "f0.json", [
        {"k": 0, "item": f"i{n}"} for n in range(500)
    ], 1000)
    first = drain()
    assert abs(first - 500) <= 0.065 * 500

    _write_file(src, "f1.json", [
        {"k": 0, "item": f"j{n}"} for n in range(500)
    ], 1010)
    second = drain()
    assert abs(second - 1000) <= 0.065 * 1000, (
        f"HLL aggregation state lost across restart: estimate {second}"
    )


def test_neardup_bucket_state_survives_restart(spark, tmp_path, store):
    from topk_spark.streaming.neardup import neardup_match_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again today"

    def drain() -> list[tuple[int, int]]:
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = (
            neardup_match_stream(stream)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not os.path.isdir(out):
            return []
        return sorted(
            (r["id"], r["dup_of"])
            for r in spark.read.parquet(out)
            .dropDuplicates(["id", "dup_of"])
            .collect()
        )

    # Run 1: the canonical doc plus an unrelated one — no matches yet.
    _write_file(src, "f0.json", [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": "completely different words about spark "
                              "streaming state stores and checkpoints"},
    ], 1000)
    assert drain() == []

    # Run 2, same checkpoint: a near-duplicate of doc 1 (one word changed).
    # The suppression match exists only if doc 1's band-bucket entries were
    # restored; a reset admits doc 3 as a new canonical, silently.
    _write_file(src, "f1.json", [
        {"doc_id": 3, "text": base.replace("today", "tonight")},
    ], 1010)
    assert drain() == [(3, 1)], (
        "near-dup bucket state lost across checkpoint restart"
    )


def test_restart_drain_counterfactual_fresh_checkpoint_diverges(spark, tmp_path):
    """The restart drains' sensitivity, executed rather than argued: the
    same two-generation dedup topology as stream_dedup_restart_drain, but
    generation 2 runs on a FRESH checkpoint — the state loss the drains
    exist to catch. The divergence must be exactly what the oracle would
    flag: keys first seen before the 'restart' are re-admitted after it
    (survivor count inflates; a third emitting batch appears). If this test
    ever starts passing dedup through a fresh checkpoint, the restart
    drains' hash gate has gone vacuous."""
    from topk_spark.streaming.stateful_dedup import dedup_stateful

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")

    def drain(ckpt: str) -> None:
        stream = (
            spark.readStream.schema("event_id string, timestamp long")
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = (
            dedup_stateful(stream, key="event_id", ttl_ms=None)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # Generation 1: keys E1, E2.
    _write_file(src, "f0.json", [
        {"event_id": "E1", "timestamp": 1},
        {"event_id": "E2", "timestamp": 2},
    ], 1000)
    drain(str(tmp_path / "ckpt1"))
    # Generation 2 on a FRESH checkpoint sees ALL files again (no
    # processed-files log) and holds no dedup state: E1 and E2 re-emit.
    _write_file(src, "f1.json", [
        {"event_id": "E1", "timestamp": 3},
        {"event_id": "E3", "timestamp": 4},
    ], 1010)
    drain(str(tmp_path / "ckpt2"))

    emitted = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    # Proper restart (test_dedup_state_survives_restart) yields exactly
    # [E1, E2, E3]; the fresh checkpoint must NOT — E1 (and E2, re-read
    # from f0) are re-admitted.
    assert emitted != ["E1", "E2", "E3"], (
        "fresh-checkpoint run reproduced the restored-state output — the "
        "restart drains' divergence signal is vacuous"
    )
    assert emitted.count("E1") >= 2, f"expected E1 re-admission, got {emitted}"


def test_per_event_topk_state_survives_restart(spark, tmp_path, store):
    """Sixth stateful class in the matrix: the per-event top-K's GroupState
    (item counts + the per-key sequence counter) across a cross-process
    restart, both providers. Generation 2 sees ONE event; its snapshot must
    say seq=3 with the pre-restart counts folded in (A:2, B:1). A state
    loss has no partial credit: seq restarts at 1 and the counts at 1."""
    from topk_spark.streaming.continuous_topk import continuous_topk_per_event

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain() -> list:
        stream = (
            spark.readStream.schema(
                "restaurant_id string, menu_item_id string, "
                "event_id long, ts_us long"
            )
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = (
            continuous_topk_per_event(stream, k=5)
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not os.path.isdir(out):
            return []
        return sorted(
            (r["snap_seq"], r["rank"], r["menu_item_id"], r["order_count"],
             r["snap_event_id"])
            for r in spark.read.parquet(out).collect()
        )

    t0_us = T0 * 1000
    _write_file(src, "b0.json", [
        {"restaurant_id": "R1", "menu_item_id": "A", "event_id": 1,
         "ts_us": t0_us},
        {"restaurant_id": "R1", "menu_item_id": "B", "event_id": 2,
         "ts_us": t0_us + 1_000_000},
    ], 1000)
    first = drain()
    assert first == [
        (1, 1, "A", 1, 1),
        (2, 1, "A", 1, 2),
        (2, 2, "B", 1, 2),
    ]

    # Generation 2, same checkpoint, fresh query lineage: one more A.
    _write_file(src, "b1.json", [
        {"restaurant_id": "R1", "menu_item_id": "A", "event_id": 3,
         "ts_us": t0_us + 2_000_000},
    ], 1010)
    second = drain()
    gen2 = [r for r in second if r not in first]
    assert gen2 == [
        (3, 1, "A", 2, 3),
        (3, 2, "B", 1, 3),
    ], (
        "per-event top-K state (counts and/or sequence counter) did not "
        f"survive the checkpoint restart under {store}: {gen2}"
    )


def test_session_window_state_survives_restart(spark, tmp_path, store):
    """Seventh stateful class: MERGING session-window state. An open
    session (two events before the restart) must absorb a third event
    arriving after the restart into ONE merged session — session state is
    the only class where recovery must support in-place MERGE, not just
    key-value reload. The watermark advancer in generation 2 then closes
    it; the single emitted row carries all three events and the
    pre-restart session_start. A state loss emits a 1-event session
    starting at the post-restart event instead."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain() -> list:
        stream = (
            spark.readStream.schema("user_id string, ms long")
            .option("maxFilesPerTrigger", "1")
            .json(src)
            .withColumn("ts", F.timestamp_millis("ms"))
            .drop("ms")
        )
        sessions = (
            stream.withWatermark("ts", "10 hours")
            .groupBy(F.session_window("ts", "60 minutes").alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.unix_millis("w.start").alias("start_ms"),
                F.unix_millis("w.end").alias("end_ms"),
                "n_events",
            )
        )
        q = (
            sessions.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not os.path.isdir(out):
            return []
        return sorted(
            (r["user_id"], r["start_ms"], r["n_events"])
            for r in spark.read.parquet(out).collect()
        )

    _write_file(src, "b0.json", [
        {"user_id": "U1", "ms": T0},
        {"user_id": "U1", "ms": T0 + 10 * _M},
    ], 1000)
    first = drain()
    assert first == [], f"session emitted while still open: {first}"

    # Generation 2: a third in-gap event (must MERGE into restored session
    # state) plus an advancer that pushes the watermark past the merged
    # session's end (wm = T0+20h − 10h = T0+10h > T0+30m+60m).
    _write_file(src, "b1.json", [
        {"user_id": "U1", "ms": T0 + 30 * _M},
        {"user_id": "U_ADV", "ms": T0 + 20 * 60 * _M},
    ], 1010)
    second = drain()
    assert second == [("U1", T0, 3)], (
        "session-window state did not merge across the checkpoint restart "
        f"under {store}: {second}"
    )


# ---------------------------------------------------------------------------
# round-8-late stateful classes: priority-sample state, KMV minima state,
# decayed bucket sums — restart + provider, via their registered drains'
# restart topology at fixture scale (the drains' oracles are batch-exact,
# so "equals the batch truth" is the full-strength check).
# ---------------------------------------------------------------------------


def test_priority_sample_state_survives_restart(spark, tmp_path, store, sf_dir):
    from topk_spark.streaming.priority_sample import streaming_priority_sample
    from topk_spark.workload.bottomk_queries import (
        _M_PER_SOURCE,
        _with_priority,
    )
    from topk_spark.workload.drain import drain, range_tile
    from topk_spark.io.sources import load_table
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    drained = drain(
        spark,
        range_tile(docs, "doc_id", 3),
        lambda s: streaming_priority_sample(_with_priority(s), m=_M_PER_SOURCE),
        output_mode="update",
        last_per=["source"],
        tiles=3,
        restart_after=1,
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("priority"), F.asc("doc_id")
    )
    batch = (
        _with_priority(docs)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _M_PER_SOURCE)
        .select("source", "doc_id", "weight", "priority")
    )
    got = sorted(tuple(r) for r in drained.collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want, f"sample state lost across restart under {store}"


def test_kmv_minima_state_survives_restart(spark, tmp_path, store, sf_dir):
    from topk_spark.ops.kmv import bottom_k_distinct, kmv_estimate
    from topk_spark.streaming.kmv_stream import streaming_kmv_sketch
    from topk_spark.workload.bottomk_queries import _K, _ud_hashed
    from topk_spark.workload.drain import drain, range_tile

    h = _ud_hashed(spark, sf_dir)
    drained = drain(
        spark,
        range_tile(h, "ts", 3),
        lambda s: streaming_kmv_sketch(s, k=_K),
        output_mode="update",
        last_per=["event_type"],
        tiles=3,
        restart_after=1,
    )
    got = sorted(
        tuple(r)
        for r in kmv_estimate(drained, ["event_type"], "u", k=_K).collect()
    )
    want = sorted(
        tuple(r)
        for r in kmv_estimate(
            bottom_k_distinct(h, ["event_type"], "u", k=_K),
            ["event_type"], "u", k=_K,
        ).collect()
    )
    assert got == want, f"KMV minima lost across restart under {store}"


def test_decayed_buckets_state_survives_restart(spark, tmp_path, store, sf_dir):
    from topk_spark.workload.decay_queries import (
        _bucketed,
        _decay_drain,
        _finalize_decay,
    )

    drained_topk = _decay_drain(spark, sf_dir, restart_after=1)
    batch = _bucketed(spark, sf_dir).groupBy(
        "event_type", "user_id", "bucket"
    ).agg(F.sum("w").cast("long").alias("w_sum"))
    got = sorted(tuple(r) for r in drained_topk.collect())
    want = sorted(tuple(r) for r in _finalize_decay(batch).collect())
    assert got == want, f"decayed bucket sums lost across restart under {store}"


def test_cdc_lastvalue_state_survives_restart(spark, tmp_path, store, sf_dir):
    """CDC last-value (round-9, the 12th matrix row): the per-key
    (ts_us, event_id) high-water must be RECOVERED from the checkpoint —
    the drain restarts after the three fresh-update tiles, so generation 2
    sees ONLY the stale-replay tile. Every replay must be suppressed by
    recovered state (a reset would materialize the stale row as the user's
    final emission); the expected result is the plain relational
    latest-per-user over the original events, which replays (being copies)
    cannot move. Mirrors the reference's durable upsert semantics
    (orders_raw_upsert_table.json:4-7 — latest row per primary key must
    survive server restarts)."""
    got, want = _cdc_restart_roundtrip(spark, sf_dir, retention=False)
    assert got == want, f"CDC high-water state lost across restart under {store}"


def test_cdc_retention_timers_survive_restart(spark, tmp_path, store, sf_dir):
    """RETENTION × RESTART (round-10, the matrix twin of the
    `stream_cdc_lastvalue_retention_restart_drain` registration): same
    kill-and-restart as the row above but with the 1 h event-time eviction
    horizon ON, so generation 1 stops with a REGISTERED TIMER on every live
    key. Recovery must restore the timer schedule + watermark alongside the
    high-water state: because eviction is observationally free
    (streaming/cdc_lastvalue.py), the expected output is byte-identical to
    the retention-off run — any deviation under either provider isolates a
    recovery defect in the timer/watermark half of the checkpoint rather
    than a semantics change."""
    got, want = _cdc_restart_roundtrip(spark, sf_dir, retention=True)
    assert got == want, (
        f"CDC retention-timer recovery diverged across restart under {store}"
    )


def _cdc_restart_roundtrip(spark, sf_dir, retention: bool):
    from pyspark.sql import Window

    from topk_spark.streaming.cdc_lastvalue import streaming_cdc_lastvalue
    from topk_spark.workload.cdc2_queries import (
        _RETENTION_DELAY,
        _RETENTION_MS,
        _tiled_with_stale_replays,
    )
    from topk_spark.workload.drain import drain

    kwargs = (
        dict(retention_ms=_RETENTION_MS, watermark_delay=_RETENTION_DELAY)
        if retention
        else {}
    )
    src = _tiled_with_stale_replays(spark, sf_dir)
    drained = drain(
        spark,
        src,
        lambda s: streaming_cdc_lastvalue(s, **kwargs),
        output_mode="update",
        last_per=["user_id"],
        tiles=4,
        restart_after=3,
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    want_df = (
        src.drop("_tile")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "user_id",
            F.expr("ts_us div 1000").alias("last_ts_ms"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )
    got = sorted(tuple(r) for r in drained.collect())
    want = sorted(tuple(r) for r in want_df.collect())
    return got, want


def test_sliding_window_state_survives_restart(spark, tmp_path, store):
    """Thirteenth stateful class: built-in SLIDING-window aggregation state
    (StateStoreSave over overlapping windows — the driver twin is
    stream_sliding_rollup_restart_drain). Two events land before the
    restart; every 5-minute/1-minute-hop window covering them is still open
    when generation 1 stops (watermark too low to close them). Generation
    2's lone late-range event advances the watermark past their ends: the
    emitted sums are correct ONLY if the overlapping windows' partials were
    recovered — a state reset silently never emits the pre-restart windows
    at all (no new data falls in them), which is the quiet failure mode
    that makes this pin matter at 100 TB."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain() -> dict[int, int]:
        stream = (
            spark.readStream.schema("ms long, v long")
            .option("maxFilesPerTrigger", "1")
            .json(src)
            .withColumn("ts", F.timestamp_millis("ms"))
            .drop("ms")
        )
        agg = (
            stream.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
            .agg(F.sum("v").alias("s"))
            .select(F.unix_millis("w.start").alias("ws"), "s")
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not os.path.isdir(out):
            return {}
        return {
            int((r["ws"] - T0) / _M): r["s"]
            for r in spark.read.parquet(out).collect()
        }

    # Events at T0+0:00 (v=1) and T0+2:30 (v=10). Their sliding windows:
    # starts -4..0 min contain v=1; starts -2..2 contain v=10; the overlap
    # (-2..0) holds the merged partial 11. After generation 1 the watermark
    # is 2:20, so only starts -4 and -3 (ends 1:00, 2:00) have closed.
    _write_file(src, "f0.json", [
        {"ms": T0, "v": 1},
        {"ms": T0 + 150_000, "v": 10},
    ], 1000)
    first = drain()
    assert first == {-4: 1, -3: 1}, f"generation-1 closed set wrong: {first}"

    # Generation 2, same checkpoint: one event 30 minutes in closes every
    # earlier window. Starts -2..0 must emit 11 (recovered MERGED partials),
    # 1..2 must emit 10 — all five exist only in restored state.
    _write_file(src, "f1.json", [{"ms": T0 + 1_800_000, "v": 100}], 1010)
    second = drain()
    want = {-4: 1, -3: 1, -2: 11, -1: 11, 0: 11, 1: 10, 2: 10}
    assert second == want, (
        f"sliding-window aggregation state lost across restart under "
        f"{store}: {second}"
    )


def test_gk_quantile_state_survives_restart(spark, tmp_path, store):
    """Fourteenth stateful class: the Greenwald–Khanna quantile summary
    (percentile_approx as streaming aggregation state — the driver twin is
    stream_percentile_restart_drain). 500 low values arrive before the
    restart, 500 high ones after: the combined median sits at the
    low/high boundary only if the summary's pre-restart entries were
    recovered — a reset summary reports the median of the high half
    alone, ~750 units off on a 1500-unit span."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain() -> float:
        stream = (
            spark.readStream.schema("k int, v double")
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = (
            stream.groupBy("k")
            .agg(F.percentile_approx("v", F.lit(0.5), F.lit(10000)).alias("med"))
            .writeStream.foreachBatch(
                lambda df, bid: df.withColumn("_bid", F.lit(int(bid)))
                .write.mode("append")
                .parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out)
        last = rows.agg(F.max("_bid")).collect()[0][0]
        return rows.filter(F.col("_bid") == last).collect()[0]["med"]

    _write_file(src, "f0.json", [
        {"k": 0, "v": float(n)} for n in range(500)
    ], 1000)
    first = drain()
    assert abs(first - 249.0) <= 2.0, f"gen-1 median off: {first}"

    _write_file(src, "f1.json", [
        {"k": 0, "v": float(1000 + n)} for n in range(500)
    ], 1010)
    second = drain()
    # combined exact median of {0..499, 1000..1499} is ~499/1000 boundary;
    # GK in its exact regime lands on an element adjacent to the gap. A
    # reset summary reports ~1249.
    assert second <= 1000.0, (
        f"GK quantile state lost across restart under {store}: "
        f"median {second} (reset regime is ~1249)"
    )
    assert 490.0 <= second, f"combined median implausibly low: {second}"


def test_exact_histogram_state_survives_restart(spark, tmp_path, store, sf_dir):
    """Exact integer-histogram quantile state (round-10, the deterministic
    rank class): generation 1 folds only the first event-time tercile into
    per-type value→count histograms; the restarted query must produce
    order statistics over ALL terciles. n_rows makes a reset mechanically
    visible (it would count only tiles 2–3); the quantiles pin that the
    recovered histogram's per-value COUNTS are intact, not just its total."""
    from topk_spark.workload.events_queries import order_stream
    from topk_spark.workload.heavyhitter_queries import _exact_quantile_drain

    drained = _exact_quantile_drain(spark, sf_dir, restart_after=1)
    ev = order_stream(spark, sf_dir).select("event_type", "revenue_cents")
    want_df = spark.sql(
        """
        WITH o AS (
          SELECT event_type, revenue_cents,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY revenue_cents) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM {ev}
        )
        SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
               MIN(CASE WHEN rn = (n * 50 + 99) div 100
                        THEN revenue_cents END) AS p50_cents,
               MIN(CASE WHEN rn = (n * 90 + 99) div 100
                        THEN revenue_cents END) AS p90_cents,
               MIN(CASE WHEN rn = (n * 99 + 99) div 100
                        THEN revenue_cents END) AS p99_cents
        FROM o GROUP BY event_type
        """,
        ev=ev,
    )
    got = sorted(tuple(r) for r in drained.collect())
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want, f"exact histogram state lost across restart under {store}"


def test_union_min_watermark_survives_restart(spark, tmp_path, store, sf_dir):
    """Multi-source recovery (round-10): the union-rollup drain restarts
    after the first tercile of EACH source, so the restarted query must
    reload TWO per-source watermarks plus the built-in windowed-aggregation
    state from one checkpoint — under both state-store providers (the
    driver-gated twin runs the default provider only). Expected output is
    the relational rollup of both sources' union closed under the
    MIN-policy governing watermark (the lagging source's max ts − 10 s),
    computed here from the same fixtures the drain replays."""
    from topk_spark.workload.drain import drain
    from topk_spark.workload.streaming_join_queries import (
        _build_union_rollup,
        _union_minwm_sources,
    )

    a, b = _union_minwm_sources(spark, sf_dir)
    drained = drain(
        spark,
        (a, b),
        _build_union_rollup,
        output_mode="append",
        tiles=3,
        restart_after=1,
    )

    u = a.drop("_tile").unionByName(b.drop("_tile"))
    wm = min(
        a.agg(F.unix_millis(F.max("ts"))).collect()[0][0],
        b.agg(F.unix_millis(F.max("ts"))).collect()[0][0],
    ) - 10_000
    want_df = (
        u.groupBy(
            "event_type",
            (F.floor(F.unix_millis("ts") / 300_000) * 300_000)
            .cast("long")
            .alias("window_start"),
        )
        .agg(
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
            F.count("*").alias("order_count"),
        )
        .where(F.col("window_start") + 300_000 <= F.lit(wm))
        .select(
            "event_type",
            "window_start",
            (F.col("window_start") + 300_000).cast("long").alias("window_end"),
            "revenue_cents",
            "order_count",
        )
    )
    got = sorted(tuple(r) for r in drained.collect())
    want = sorted(tuple(r) for r in want_df.collect())
    assert got == want, (
        f"union min-watermark recovery diverged under {store}: "
        f"{len(got)} vs {len(want)} rows"
    )


def test_trending_slices_restart_both_providers(spark, tmp_path, store, sf_dir):
    """The ratio-60 slice-sharing trending composition across a restart
    (round-10 VERDICT next #5, folded into the live drain's twin): the
    recovered state is TUMBLING 1-minute slice partials — a different state
    shape from the hop-window partials the direct-form sliding pin above
    recovers — plus the emitted-hop frontier, which the drain re-derives
    from its persisted slice tier rather than memory. Generation 1 drains
    only the first event-time tercile; the full composed output (top-3 per
    closed 1h hop) must equal the relational derivation over closed slices:
    W = newest closed slice end lower-bounds the watermark, hops with
    end <= W are decidable. A slice-state reset under-counts every hop a
    straddling slice tiles (60 each); a frontier reset re-emits hops."""
    from topk_spark.workload.events_queries import order_stream
    from topk_spark.workload.streaming_drain_queries import trending_60_drain

    drained = trending_60_drain(spark, sf_dir, restart_after=1)

    ev = order_stream(spark, sf_dir).select("ts", "event_type", "revenue_cents")
    want_df = spark.sql(
        """
        WITH sl AS (
          SELECT event_type, revenue_cents,
                 CAST(floor(unix_millis(ts) / 60000) * 60000 AS BIGINT) AS ss,
                 unix_millis(ts) AS ms
          FROM {ev}
        ),
        wm AS (SELECT max(ms) - 10000 AS w FROM sl),
        closed AS (
          SELECT sl.* FROM sl, wm WHERE sl.ss + 60000 <= wm.w
        ),
        wmax AS (SELECT max(ss) + 60000 AS we FROM closed),
        hop AS (
          SELECT c.event_type, c.revenue_cents, c.ss - t.k * 60000 AS ws
          FROM closed c
          LATERAL VIEW explode(sequence(0, 59)) t AS k
        ),
        agg AS (
          SELECT event_type, ws,
                 CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents
          FROM hop GROUP BY event_type, ws
        ),
        emit AS (
          SELECT a.* FROM agg a, wmax WHERE a.ws + 3600000 <= wmax.we
        ),
        r AS (
          SELECT ws, event_type, revenue_cents,
                 CAST(row_number() OVER (PARTITION BY ws
                      ORDER BY revenue_cents DESC, event_type ASC) AS INT)
                   AS rank
          FROM emit
        )
        SELECT CAST(ws AS BIGINT) AS window_start,
               CAST(ws + 3600000 AS BIGINT) AS window_end,
               event_type, revenue_cents, rank
        FROM r WHERE rank <= 3
        """,
        ev=ev,
    )
    got = sorted(tuple(r) for r in drained.collect())
    want = sorted(tuple(r) for r in want_df.collect())
    assert len(want) > 100  # non-vacuous: many closed hops at this fixture
    assert got == want, (
        f"trending slices composition diverged across restart under {store}: "
        f"{len(got)} vs {len(want)} rows"
    )


def test_percentile_tier_restart_both_providers(spark, tmp_path, store, sf_dir):
    """The live percentile tier across a restart (round 11): built-in
    windowed aggregation whose GROUP KEY CONTAINS THE METRIC VALUE — per
    (window, type) there are as many state rows as distinct cents values,
    the highest-cardinality windowed-agg state class in the suite (the
    sliding pin above recovers a handful of windows; this recovers
    thousands of value rows). The drained tier feeds the percentile read,
    so a lost straddling window's partial counts shift served quantiles at
    cents granularity and n_rows mechanically; the expected result is the
    order-statistic derivation over events in closed minutes."""
    from topk_spark.workload.events_queries import order_stream
    from topk_spark.workload.heavyhitter_queries import (
        _live_percentile_tier_drain,
    )

    got_df = _live_percentile_tier_drain(spark, sf_dir, restart_after=1)

    ev = order_stream(spark, sf_dir).select("ts", "event_type", "revenue_cents")
    want_df = spark.sql(
        """
        WITH wm AS (SELECT max(unix_millis(ts)) - 10000 AS w FROM {ev}),
        f AS (
          SELECT event_type, revenue_cents FROM {ev}, wm
          WHERE CAST(floor(unix_millis(ts) / 60000) * 60000 AS BIGINT)
                  + 60000 <= wm.w
        ),
        o AS (
          SELECT event_type, revenue_cents,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY revenue_cents) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM f
        )
        SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
               MIN(CASE WHEN rn = (n * 50 + 99) div 100
                        THEN revenue_cents END) AS p50_cents,
               MIN(CASE WHEN rn = (n * 90 + 99) div 100
                        THEN revenue_cents END) AS p90_cents,
               MIN(CASE WHEN rn = (n * 99 + 99) div 100
                        THEN revenue_cents END) AS p99_cents
        FROM o GROUP BY event_type
        """,
        ev=ev,
    )
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in want_df.collect())
    assert len(want) >= 3
    assert got == want, (
        f"value-keyed windowed-agg state lost across restart under {store}"
    )
