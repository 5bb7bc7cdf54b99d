"""Streaming pipeline tests (SURVEY.md §3.2, T1-T9) with a file-source Kafka
stand-in: JSON-lines files play micro-batches, availableNow drains them, and
the parquet sink tables are compared against independent batch computations.

Topology under test (two chained queries — see streaming/job.py docstring):
stage 1 dedups the event stream into the raw table (1h horizon); stage 2
streams the raw table through the window closer into 1-minute rollups (10s
lateness), checked against the declarative `build_rollup_stream`.
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from topk_spark.fixtures import FixtureSpec, generate_order_events
from topk_spark.schemas import ORDER_EVENT
from topk_spark.streaming.job import (
    build_dedup_stream,
    start_raw_sink,
    start_rollup_from_raw,
)


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_pipeline(spark, tmp, files: list[list[dict]]):
    """Per arrival: write the file, then drain stage 1 and stage 2 with
    availableNow on their checkpoints; return (raw, rollup)."""
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    raw_path = os.path.join(tmp, "raw")
    rollup_path = os.path.join(tmp, "rollup")
    for i, rows in enumerate(files):
        _write_jsonl(os.path.join(src, f"batch_{i:03d}.json"), rows)
        events = spark.readStream.schema(ORDER_EVENT).json(src)
        start_raw_sink(
            build_dedup_stream(events), raw_path, os.path.join(tmp, "ckpt/raw"),
            available_now=True,
        ).awaitTermination(120)
        start_rollup_from_raw(
            spark, raw_path, rollup_path, os.path.join(tmp, "ckpt/rollup"),
            available_now=True,
        ).awaitTermination(120)
    return spark.read.parquet(raw_path), spark.read.parquet(rollup_path)


def test_pipeline_dedup_and_revenue(spark, tmp_path):
    rows = generate_order_events(FixtureSpec(n_events=800))
    n_unique = len({r["event_id"] for r in rows})
    assert n_unique < len(rows)  # fixture really injects duplicates

    raw, _ = _run_pipeline(spark, str(tmp_path), [rows])

    # D1: exactly one row per event_id (duplicates inside the horizon dropped)
    assert raw.count() == n_unique
    assert raw.select("event_id").distinct().count() == n_unique
    # S8/P5: revenue is widened integer math
    bad = raw.filter(
        F.col("revenue_cents")
        != F.col("quantity").cast("long") * F.col("price_in_cents").cast("long")
    ).count()
    assert bad == 0


def test_streaming_rollup_matches_batch(spark, tmp_path):
    rows = generate_order_events(FixtureSpec(n_events=800))
    raw, rollup = _run_pipeline(spark, str(tmp_path), [rows])

    # Append mode emits only windows closed by the final watermark
    # (watermark = max(event_ts) - 10s). Those must match a batch rollup over
    # the deduped raw table exactly.
    max_ts = raw.agg(F.max("timestamp")).collect()[0][0]
    horizon = max_ts - 10_000

    batch = (
        raw.withColumn("wstart", F.col("timestamp") - F.col("timestamp") % 60000)
        .filter(F.col("wstart") + 60000 <= horizon)
        .groupBy("wstart", "restaurant_id", "menu_item_id")
        .agg(
            F.sum("quantity").cast("long").alias("sum_quantity"),
            F.sum("revenue_cents").cast("long").alias("sum_revenue_cents"),
            F.count("*").alias("order_count"),
        )
    )
    got = rollup.select(
        F.col("window_start_1m").alias("wstart"),
        "restaurant_id",
        "menu_item_id",
        "sum_quantity",
        "sum_revenue_cents",
        "order_count",
    ).filter(F.col("wstart") + 60000 <= horizon)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    # RollupEvent derivations present (A2/P8)
    r = rollup.limit(1).collect()[0]
    assert r["window_start_ts"] == r["window_start_1m"]
    assert 1 <= r["day_of_week"] <= 7 and 0 <= r["hour_of_day"] <= 23


def test_late_event_dropped_from_rollup_kept_in_raw(spark, tmp_path):
    # Batch 1: a steady minute of traffic. Batch 2: one event 5 minutes older
    # than batch 1's head — beyond the 10s lateness watermark (its window is
    # long closed), inside the 1h dedup horizon.
    base = 1_704_067_200_000
    batch1 = []
    for i in range(180):  # 3 minutes of traffic → first windows close
        batch1.append(
            {
                "event_id": f"EVT{i:08d}",
                "order_id": f"ORD{i:08x}",
                "customer_id": f"CUST{1000 + i}",
                "restaurant_id": "REST001",
                "menu_item_id": "ITEM001",
                "category_id": "CAT001",
                "menu_item_name": "Margherita Pizza",
                "quantity": 1,
                "price_in_cents": 1299,
                "timestamp": base + 600_000 + i * 1000,
            }
        )
    late = dict(batch1[0])
    late["event_id"] = "EVTLATE0001"
    late["timestamp"] = base + 60_000  # 9 min before batch1's window
    raw, rollup = _run_pipeline(spark, str(tmp_path), [batch1, [late]])

    # T5 (Flink-path semantics): late event dropped from the windowed rollup…
    assert rollup.filter(F.col("window_start_1m") == base + 60_000).count() == 0
    # …but still present in the raw deduped branch (1h horizon).
    assert raw.filter(F.col("event_id") == "EVTLATE0001").count() == 1


def test_hll_sketch_in_rollup(spark, tmp_path):
    rows = generate_order_events(FixtureSpec(n_events=400))
    raw, rollup = _run_pipeline(spark, str(tmp_path), [rows])
    # A7/A8: merging all per-window sketches estimates global uniques ≈ exact.
    est = (
        rollup.agg(F.hll_union_agg("unique_customers_hll").alias("u"))
        .select(F.hll_sketch_estimate("u").alias("est"))
        .collect()[0]["est"]
    )
    max_ts = raw.agg(F.max("timestamp")).collect()[0][0]
    horizon = max_ts - 10_000
    exact = (
        raw.withColumn("wstart", F.col("timestamp") - F.col("timestamp") % 60000)
        .filter(F.col("wstart") + 60000 <= horizon)
        .select("customer_id")
        .distinct()
        .count()
    )
    assert exact > 0
    assert abs(est - exact) / exact < 0.05  # lg_k=12 → ~1.6% typical error


def test_continuous_topk_stateful(spark, tmp_path):
    """K1: applyInPandasWithState re-emits a ranked top-k per restaurant on
    every micro-batch, accumulating state across batches."""
    from topk_spark.streaming.continuous_topk import continuous_topk

    base = 1_704_067_200_000

    def mk(i, rest, item, qty):
        return {
            "event_id": f"EVT{i:08d}",
            "order_id": f"ORD{i:08x}",
            "customer_id": f"CUST{i}",
            "restaurant_id": rest,
            "menu_item_id": item,
            "category_id": "CAT001",
            "menu_item_name": f"Dish {item}",
            "quantity": qty,
            "price_in_cents": 100,
            "timestamp": base + i * 1000,
        }

    # Batch 1: A×3, B×1 at R1.  Batch 2: B×3 at R1 (B overtakes A), C×1 at R2.
    b1 = [mk(0, "R1", "A", 1), mk(1, "R1", "A", 2), mk(2, "R1", "A", 1),
          mk(3, "R1", "B", 5)]
    b2 = [mk(4, "R1", "B", 1), mk(5, "R1", "B", 1), mk(6, "R1", "B", 1),
          mk(7, "R2", "C", 9)]

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    for i, rows in enumerate([b1, b2]):
        p = os.path.join(src, f"batch_{i:03d}.json")
        _write_jsonl(p, rows)
        os.utime(p, (1000 + i, 1000 + i))

    events = (
        spark.readStream.schema(ORDER_EVENT)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    orders = events.withColumn(
        "revenue_cents",
        F.col("quantity").cast("long") * F.col("price_in_cents").cast("long"),
    )
    sink = os.path.join(str(tmp_path), "out")

    def write_batch(df, batch_id):
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

    q = (
        continuous_topk(orders, k=2)
        .writeStream.foreachBatch(write_batch)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    rows = {
        (r["batch_id"], r["restaurant_id"], r["rank"]): r
        for r in out.collect()
    }
    # Batch 0: A leads (3 orders) over B (1 order).
    assert rows[(0, "R1", 1)]["menu_item_id"] == "A"
    assert rows[(0, "R1", 1)]["order_count"] == 3
    assert rows[(0, "R1", 2)]["menu_item_id"] == "B"
    # Batch 1: B accumulated 1+3=4 orders and overtakes A (state persisted).
    assert rows[(1, "R1", 1)]["menu_item_id"] == "B"
    assert rows[(1, "R1", 1)]["order_count"] == 4
    assert rows[(1, "R1", 1)]["total_quantity"] == 8
    assert rows[(1, "R1", 2)]["menu_item_id"] == "A"
    # New key R2 appears only in batch 1.
    assert rows[(1, "R2", 1)]["menu_item_id"] == "C"
    assert (0, "R2", 1) not in rows


def test_continuous_global_topk(spark, tmp_path):
    """K3/G4: global ranked list under the 'ALL' sentinel, cumulative
    across micro-batches."""
    from topk_spark.streaming.continuous_topk import continuous_global_topk

    base = 1_704_067_200_000

    def mk(i, rest, item, qty):
        return {
            "event_id": f"EVT{i:08d}",
            "order_id": f"ORD{i:08x}",
            "customer_id": f"CUST{i}",
            "restaurant_id": rest,
            "menu_item_id": item,
            "category_id": "CAT001",
            "menu_item_name": f"Dish {item}",
            "quantity": qty,
            "price_in_cents": 100,
            "timestamp": base + i * 1000,
        }

    # Item B leads globally (3 orders across two restaurants) over A (2).
    rows = [mk(0, "R1", "B", 1), mk(1, "R2", "B", 1), mk(2, "R2", "B", 2),
            mk(3, "R1", "A", 4), mk(4, "R2", "A", 1)]
    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "b0.json"), rows)

    events = spark.readStream.schema(ORDER_EVENT).json(src)
    orders = events.withColumn(
        "revenue_cents",
        F.col("quantity").cast("long") * F.col("price_in_cents").cast("long"),
    )
    sink = os.path.join(str(tmp_path), "out")

    q = (
        continuous_global_topk(orders, k=2)
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(sink)
        )
        .outputMode("update")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = {r["rank"]: r for r in spark.read.parquet(sink).collect()}
    assert out[1]["restaurant_id"] == "ALL"
    assert out[1]["menu_item_id"] == "B" and out[1]["order_count"] == 3
    assert out[2]["menu_item_id"] == "A" and out[2]["order_count"] == 2
    assert out[2]["total_quantity"] == 5


def test_streaming_to_serving_full_loop(spark, tmp_path):
    """The reference's complete loop (§3.2 + §3.1): event stream → dedup →
    1-min rollup table → serving API top-k — answers must equal a direct
    batch computation over the deduped events."""
    from topk_spark.serve.api import topk_for_restaurant

    rows = generate_order_events(FixtureSpec(n_events=1500))
    raw, rollup = _run_pipeline(spark, str(tmp_path), [rows])

    serve_rollup = rollup.select(
        "restaurant_id",
        "menu_item_id",
        "menu_item_name",
        F.col("window_start_1m").alias("window_start"),
        (F.col("window_start_1m") + 60_000).alias("window_end"),
        "order_count",
        "sum_quantity",
        "sum_revenue_cents",
    )
    lo = serve_rollup.agg(F.min("window_start")).collect()[0][0]
    hi = serve_rollup.agg(F.max("window_end")).collect()[0][0]
    rest = raw.groupBy("restaurant_id").count().orderBy(F.desc("count")).first()[0]

    got = topk_for_restaurant(serve_rollup, rest, lo, hi, k=5).collect()

    # independent oracle: batch aggregate over the deduped raw rows whose
    # 1-min window both closed (rollup emitted) and fits [lo, hi]
    max_ts = raw.agg(F.max("timestamp")).collect()[0][0]
    horizon = max_ts - 10_000
    batch = (
        raw.withColumn("w", F.col("timestamp") - F.col("timestamp") % 60000)
        .filter((F.col("w") + 60000 <= horizon)
                & (F.col("w") >= lo) & (F.col("w") + 60000 <= hi)
                & (F.col("restaurant_id") == rest))
        .groupBy("menu_item_id")
        .agg(F.count("*").alias("oc"), F.sum("quantity").alias("tq"))
        .orderBy(F.desc("oc"), F.asc("menu_item_id"))
        .limit(5)
        .collect()
    )
    assert [(r["menu_item_id"], r["order_count"], r["total_quantity"]) for r in got] \
        == [(r["menu_item_id"], r["oc"], r["tq"]) for r in batch]
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))


def test_checkpoint_restart_is_exactly_once_with_state_recovery(spark, tmp_path):
    """T8/T9: a second availableNow run over the SAME checkpoint must (a) not
    reprocess already-committed input (no duplicate output rows), and (b)
    recover the dedup state store, so a duplicate event_id arriving after the
    restart is still dropped — the exactly-once-to-idempotent-sink story the
    reference gets from Flink checkpoints + Pinot upsert, here from the
    offset log + state store alone."""
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    raw = os.path.join(tmp, "raw")
    ckpt = os.path.join(tmp, "ckpt")
    base = 1_704_067_200_000

    def evt(eid: str, i: int) -> dict:
        return {
            "event_id": eid, "order_id": f"O{i}", "customer_id": f"C{i}",
            "restaurant_id": "R1", "menu_item_id": "A", "category_id": "CAT",
            "menu_item_name": "Dish", "quantity": 1, "price_in_cents": 100,
            "timestamp": base + i * 1000,
        }

    def drain():
        events = (
            spark.readStream.schema(ORDER_EVENT)
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = start_raw_sink(build_dedup_stream(events), raw, ckpt,
                           available_now=True)
        q.awaitTermination(120)

    _write_jsonl(os.path.join(src, "b0.json"), [evt("E1", 0), evt("E2", 1)])
    drain()
    first = spark.read.parquet(raw)
    assert sorted(r.event_id for r in first.collect()) == ["E1", "E2"]

    # Run 2, same checkpoint: E1 is a cross-restart duplicate, E3 is new.
    _write_jsonl(os.path.join(src, "b1.json"), [evt("E1", 2), evt("E3", 3)])
    drain()
    got = spark.read.parquet(raw).collect()
    # b0 not reprocessed (offset log) AND E1's duplicate dropped by the
    # recovered state store: exactly one row per event_id, three total.
    assert sorted(r.event_id for r in got) == ["E1", "E2", "E3"]
    # the surviving E1 is the ORIGINAL (run-1) occurrence, not the late dup
    e1 = [r for r in got if r.event_id == "E1"][0]
    assert e1.timestamp == base


def test_global_topk_prereduce(spark, tmp_path):
    """G4 pre-reduce (VERDICT round-1 item 4): the map-side partial
    aggregation must (a) shrink row volume entering the single sentinel key
    to O(partitions x items), (b) preserve the aggregate values exactly, and
    (c) produce an identical ranked list to the unreduced sentinel funnel."""
    import pyspark.sql.functions as F

    from topk_spark.schemas import GLOBAL_SENTINEL
    from topk_spark.streaming.continuous_topk import (
        continuous_topk,
        prereduce_orders,
    )

    # 2000 events over 5 items / 3 restaurants: heavy per-item duplication.
    orders = (
        spark.range(2000)
        .select(
            F.concat(F.lit("R"), (F.col("id") % 3)).alias("restaurant_id"),
            F.concat(F.lit("ITEM"), (F.col("id") % 5)).alias("menu_item_id"),
            F.concat(F.lit("Dish "), (F.col("id") % 5)).alias("menu_item_name"),
            (F.col("id") % 7 + 1).cast("long").alias("quantity"),
            ((F.col("id") % 7 + 1) * 100).cast("long").alias("revenue_cents"),
        )
        .repartition(8)
    )
    partial = prereduce_orders(orders)
    n_partial = partial.count()
    # <= partitions x (restaurants x items) partial rows, far below 2000.
    assert n_partial <= 8 * 15
    merged = partial.groupBy("menu_item_id").agg(
        F.sum("order_count").alias("oc"),
        F.sum("total_quantity").alias("tq"),
        F.sum("total_revenue_cents").alias("tr"),
    )
    direct = orders.groupBy("menu_item_id").agg(
        F.count("*").alias("oc"),
        F.sum("quantity").alias("tq"),
        F.sum("revenue_cents").alias("tr"),
    )
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in direct.collect()
    }

    # Streaming equality: pre-reduced sentinel funnel == raw sentinel funnel.
    rows = [
        {
            "event_id": f"EVT{i:08d}",
            "order_id": f"ORD{i:08x}",
            "customer_id": f"CUST{i}",
            "restaurant_id": f"R{i % 3}",
            "menu_item_id": f"ITEM{i % 5}",
            "category_id": "CAT001",
            "menu_item_name": f"Dish {i % 5}",
            "quantity": i % 7 + 1,
            "price_in_cents": 100,
            "timestamp": 1_704_067_200_000 + i * 1000,
        }
        for i in range(200)
    ]
    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "b0.json"), rows)

    def run(variant: str):
        events = spark.readStream.schema(ORDER_EVENT).json(src)
        st = events.withColumn(
            "revenue_cents",
            F.col("quantity").cast("long") * F.col("price_in_cents").cast("long"),
        )
        if variant == "prereduced":
            from topk_spark.streaming.continuous_topk import (
                continuous_global_topk,
            )

            ranked = continuous_global_topk(st, k=3)
        else:
            keyed = st.withColumn("restaurant_id", F.lit(GLOBAL_SENTINEL))
            ranked = continuous_topk(keyed, k=3)
        sink = os.path.join(str(tmp_path), f"out_{variant}")
        q = (
            ranked.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option(
                "checkpointLocation", os.path.join(str(tmp_path), f"ckpt_{variant}")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["rank"], r["menu_item_id"], r["order_count"],
             r["total_quantity"], r["total_revenue_cents"])
            for r in spark.read.parquet(sink).collect()
        }

    assert run("prereduced") == run("raw")


def test_metrics_listener_reports_progress(spark, tmp_path):
    """T10: the StreamingQueryListener analog of the reference's 30s metrics
    reporter (KafkaConsumerTopKJob.kt:305-344) — per-batch rows, rows/s,
    watermark, and state size collected off the listener bus."""
    import time as _time

    from topk_spark.streaming.metrics import TopKMetricsListener

    listener = TopKMetricsListener()
    spark.streams.addListener(listener)
    try:
        rows = [
            {
                "event_id": f"EVT{i:08d}",
                "order_id": f"ORD{i:08x}",
                "customer_id": f"CUST{i}",
                "restaurant_id": "R1",
                "menu_item_id": f"ITEM{i % 3}",
                "category_id": "CAT001",
                "menu_item_name": f"Dish {i % 3}",
                "quantity": 1,
                "price_in_cents": 100,
                "timestamp": 1_704_067_200_000 + i * 1000,
            }
            for i in range(50)
        ]
        src = os.path.join(str(tmp_path), "src")
        os.makedirs(src)
        _write_jsonl(os.path.join(src, "b0.json"), rows)
        events = spark.readStream.schema(ORDER_EVENT).json(src)
        # Watermarked windowed count → progress carries eventTime.watermark
        # and stateOperators rows.
        agg = (
            events.withColumn(
                "ts", F.timestamp_millis(F.col("timestamp"))
            )
            .withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "1 minute"), "menu_item_id")
            .count()
        )
        sink = os.path.join(str(tmp_path), "out")
        q = (
            agg.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # Listener events are async on the bus; give them a moment to drain.
        deadline = _time.time() + 15
        while _time.time() < deadline:
            if any(s.num_input_rows > 0 for s in listener.snapshots):
                break
            _time.sleep(0.3)

        snaps = [s for s in listener.snapshots if s.num_input_rows > 0]
        assert snaps, "listener captured no progress with input rows"
        assert sum(s.num_input_rows for s in snaps) == 50
        assert any(s.state_rows_total > 0 for s in snaps)
        summ = listener.summary()
        qstats = summ[str(q.id)]
        assert qstats["rows"] == 50
        assert qstats["batches"] >= 1
        assert qstats["watermark"] is not None
    finally:
        spark.streams.removeListener(listener)


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """Hardened CC (VERDICT round-1 item 7): reliable checkpoint() rounds +
    batched convergence checks produce the same components as the default
    path."""
    from topk_spark.ops.fuzzy_dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (3, 4)],
        "id_a long, id_b long",
    )
    expected = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }
    base = {tuple(r) for r in connected_components(edges).collect()}
    assert base == expected
    spark.sparkContext.setCheckpointDir(os.path.join(str(tmp_path), "ccckpt"))
    hard = {
        tuple(r)
        for r in connected_components(
            edges, reliable_checkpoint=True, check_every=3
        ).collect()
    }
    assert hard == expected


def test_multiple_watermark_policy_min_vs_max(spark, tmp_path):
    """Multi-source GLOBAL watermark semantics — the knob a multi-source
    100 TB topology lives or dies by: when two watermarked streams feed one
    stateful operator, Spark combines their per-source watermarks per
    `spark.sql.streaming.multipleWatermarkPolicy` — 'min' (default, safe:
    the slowest source gates every window close, so a lagging backfill
    source cannot cause premature closes that drop its late rows) vs 'max'
    (latency over completeness: the fastest source drives closes).

    Fixture: source A reaches 01:59, source B stops at 00:19 (one row per
    minute, so max ts is the LAST minute's start; both 10 s delay). A union
    into a 5-minute tumbling count in append mode must close windows
    strictly below wm = max_ts − 10 s of the GOVERNING source: 3 windows
    under 'min' (B's 00:19 gates: ends 00:05..00:15 ≤ 00:18:50), 23 under
    'max' (A's 01:59 drives: ends ≤ 01:58:50 — B's in-flight windows close
    early, exactly the completeness risk the default avoids). Derived
    counts, not just set-inequality, so a future default flip or policy
    regression fails loudly."""
    base = 1_704_067_200_000
    m = 60_000

    def write_src(name, minutes):
        d = str(tmp_path / name)
        os.makedirs(d)
        rows = [{"ms": base + i * m, "v": 1} for i in range(minutes)]
        with open(os.path.join(d, "f0.json"), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        return d

    # one row per minute: A spans 120 minutes, B spans 20
    a_dir = write_src("src_a", 120)
    b_dir = write_src("src_b", 20)

    def closed_windows(policy: str) -> set[int]:
        prev = spark.conf.get("spark.sql.streaming.multipleWatermarkPolicy", None)
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
        try:
            def src(d):
                return (
                    spark.readStream.schema("ms long, v long")
                    .json(d)
                    .withColumn("ts", F.timestamp_millis("ms"))
                    .withWatermark("ts", "10 seconds")
                )

            out = str(tmp_path / f"out_{policy}")
            q = (
                src(a_dir).unionByName(src(b_dir))
                .groupBy(F.window("ts", "5 minutes").alias("w"))
                .agg(F.sum("v").alias("n"))
                .select(F.unix_millis("w.start").alias("ws"), "n")
                .writeStream.foreachBatch(
                    lambda df, bid: df.write.mode("append").parquet(out)
                )
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / f"ckpt_{policy}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if not os.path.isdir(out):
                return set()
            return {r["ws"] for r in spark.read.parquet(out).collect()}
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.multipleWatermarkPolicy")
            else:
                spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", prev)

    # derived closures: wm = governing max_ts − 10 s; window closes iff
    # ws + 5 m <= wm. B's max ts = base+19 m → 3:55 usable → windows 0..3;
    # A's max ts = base+119 m → windows 0..22 fully below 01:58:50... the
    # arithmetic, not the prose, is the assertion:
    def expect(max_minute):
        wm = base + max_minute * m - 10_000
        return {base + w * 5 * m for w in range(200) if base + (w + 1) * 5 * m <= wm}

    got_min = closed_windows("min")
    got_max = closed_windows("max")
    assert got_min == expect(19), (len(got_min), sorted(got_min)[-1:])
    assert got_max == expect(119), (len(got_max), sorted(got_max)[-1:])
    assert got_min < got_max  # strict subset: the policies genuinely differ


# ---------------------------------------------------------------------------
# The rollup window closer (streaming/job.py `WindowCloser`)
# ---------------------------------------------------------------------------

_T0 = 1_704_067_200_000


def _order(eid: str, sec: int, rest: str = "R1", item: str = "A", cust: int = 0) -> dict:
    return {
        "event_id": eid, "order_id": f"O{eid}", "customer_id": f"C{cust}",
        "restaurant_id": rest, "menu_item_id": item, "category_id": "CAT",
        "menu_item_name": f"Dish {item}", "quantity": 1 + sec % 3,
        "price_in_cents": 250, "timestamp": _T0 + sec * 1000,
    }


def _closer_batches() -> list[list[dict]]:
    """Five topic batches. Windows [120,180) and [240,300) s straddle batch
    boundaries; batches 1, 2 and 4 re-send events of the batch before
    (duplicates across batches); batches 1-3 carry rows whose window closed
    in an earlier batch (late), one of them ending exactly on the frontier
    (240 s), and K1 lands just past it; every late row has its own
    (restaurant, item) group, so Spark's late count (taken after partial
    aggregation) counts rows."""
    def run(lo, hi, tag):
        return [_order(f"{tag}{s}", s, f"R{s % 2}", "AB"[s % 4 // 2], s % 7)
                for s in range(lo, hi, 5)]

    b0 = run(0, 155, "a")
    b1 = run(155, 255, "b") + b0[-3:] + [_order("L1", 100, "R1", "L1")]
    b2 = (run(255, 335, "c") + b1[:2]
          + [_order("L2", 170, "R0", "L2"), _order("L3", 235, "R1", "L3"),
             _order("K1", 242, "R0", "K1")])
    b3 = run(335, 420, "d") + [_order("L4", 250, "R1", "L4")]
    b4 = run(420, 480, "e") + b3[:4]
    return [b0, b1, b2, b3, b4]


@pytest.fixture(scope="module")
def closer_feed(spark, tmp_path_factory):
    """The deduped raw table of `_closer_batches`, one parquet file per
    dedup micro-batch, as arrivals 10 s apart."""
    tmp = str(tmp_path_factory.mktemp("closer_feed"))
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    for i, rows in enumerate(_closer_batches()):
        p = os.path.join(src, f"b{i}.json")
        _write_jsonl(p, rows)
        os.utime(p, (1000 + i, 1000 + i))
    events = spark.readStream.schema(ORDER_EVENT).option("maxFilesPerTrigger", 1).json(src)
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")  # one raw file per batch
    try:
        start_raw_sink(build_dedup_stream(events), os.path.join(tmp, "raw"),
                       os.path.join(tmp, "ck_raw"), available_now=True).awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    files = sorted(
        (os.path.join(r, f) for r, _, fs in os.walk(os.path.join(tmp, "raw"))
         for f in fs if f.endswith(".parquet")),
        key=lambda f: os.stat(f).st_mtime_ns,
    )
    assert len(files) == 5
    feed = os.path.join(tmp, "feed")
    os.makedirs(feed)
    for i, f in enumerate(files):
        dst = os.path.join(feed, f"{i:03d}.parquet")
        shutil.copyfile(f, dst)
        os.utime(dst, (2000 + 10 * i, 2000 + 10 * i))
    return feed


def _rollup_rows(spark, path: str) -> list[tuple]:
    """Every rollup row with its sketch replaced by the sketch's estimate."""
    df = spark.read.parquet(path)
    cols = [c for c in df.columns if c != "unique_customers_hll"]
    return sorted(
        tuple(r) for r in df.select(
            *cols, F.hll_sketch_estimate("unique_customers_hll").alias("est")
        ).collect()
    )


def _declarative_rollup(spark, feed: str, out: str, ck: str) -> int:
    """`build_rollup_stream` through a parquet sink, one availableNow run per
    feed file, so every data batch is followed by its no-data batch; returns
    Spark's late-row count."""
    from topk_spark.streaming.job import RAW_SCHEMA, build_rollup_stream

    src = os.path.join(os.path.dirname(out), "declarative_src")
    os.makedirs(src)
    dropped = 0
    for f in sorted(os.listdir(feed)):
        shutil.copy2(os.path.join(feed, f), os.path.join(src, f))
        q = (
            build_rollup_stream(spark.readStream.schema(RAW_SCHEMA).parquet(src))
            .withColumn("window_date", F.to_date(F.timestamp_millis("window_start_1m")))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck).partitionBy("window_date")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        assert q.recentProgress[-1].numInputRows == 0  # the no-data batch ran
        dropped += sum(
            s["numRowsDroppedByWatermark"]
            for p in q.recentProgress for s in json.loads(p.json)["stateOperators"]
        )
    return dropped


def _closer_per_file(spark, feed: str, out: str, ck: str, files=None) -> None:
    """`start_rollup_from_raw`, one availableNow run per feed file (all of
    `feed`'s files, or `files`), each one micro-batch with no state
    operator."""
    src = os.path.join(os.path.dirname(out), "closer_src")
    os.makedirs(src, exist_ok=True)
    for f in files if files is not None else sorted(os.listdir(feed)):
        shutil.copy2(os.path.join(feed, f), os.path.join(src, f))
        q = start_rollup_from_raw(spark, src, out, ck, available_now=True)
        q.awaitTermination(120)
        assert len(q.recentProgress) == 1
        assert json.loads(q.lastProgress.json)["stateOperators"] == []


def test_closer_matches_declarative_rollup(spark, tmp_path, closer_feed):
    from topk_spark.streaming.metrics import closer_counters

    tmp = str(tmp_path)
    ck = os.path.join(tmp, "ck")
    _closer_per_file(spark, closer_feed, os.path.join(tmp, "closer"), ck)
    spark_dropped = _declarative_rollup(
        spark, closer_feed, os.path.join(tmp, "declarative"), os.path.join(tmp, "ck_d"))

    got = _rollup_rows(spark, os.path.join(tmp, "closer"))
    want = _rollup_rows(spark, os.path.join(tmp, "declarative"))
    assert got == want
    assert (spark.read.parquet(os.path.join(tmp, "closer")).schema.simpleString()
            == spark.read.parquet(os.path.join(tmp, "declarative")).schema.simpleString())
    items = {r[1] for r in got}
    assert "K1" in items and not items & {"L1", "L2", "L3", "L4"}
    counters = closer_counters(ck)
    assert counters["totals"]["late_dropped"] == spark_dropped == 4
    assert counters["totals"]["closed_rows"] == len(got)
    assert counters["totals"]["closed_windows"] == len({r[4] for r in got})
    # each window is emitted in the batch whose max event time closes it:
    # batch 0 (max 150 s) closes [0, 60) and [60, 120)
    first = spark.read.parquet(os.path.join(tmp, "closer")).where(
        F.input_file_name().contains("/b0-"))
    assert sorted({r[0] for r in first.select("window_start_1m").collect()}) == [
        _T0, _T0 + 60_000]


def test_back_to_back_spark_batches_close_one_batch_later(spark, tmp_path):
    """What the closer does not copy: in back-to-back micro-batches Spark
    drops a row as late by the watermark of the batch BEFORE the one that
    closed its window, so a row arriving one batch after its window's
    closing batch still counts there. The closer drops it (it would have
    counted with a no-data batch in between, as under live triggers)."""
    from topk_spark.streaming.job import RAW_SCHEMA, build_rollup_stream

    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    for i, secs in enumerate([range(0, 155, 5), [100]]):  # M0 = 150 s
        rows = [(f"e{i}{s}", "R", "A", s) for s in secs]
        spark.createDataFrame(rows, "event_id string, restaurant_id string, "
                              "menu_item_id string, s long").select(
            "event_id", "restaurant_id", "menu_item_id",
            F.lit("Dish").alias("menu_item_name"), F.lit("C").alias("category_id"),
            F.lit("cust").alias("customer_id"), F.lit(1).alias("quantity"),
            (F.col("s") * 1000 + _T0).alias("timestamp"),
        ).withColumn("event_ts", F.timestamp_millis("timestamp")).withColumn(
            "revenue_cents", F.lit(5).cast("long")
        ).coalesce(1).write.mode("append").parquet(src)
    arrivals = sorted((f for f in os.listdir(src) if f.endswith(".parquet")),
                      key=lambda f: os.stat(os.path.join(src, f)).st_mtime_ns)
    for i, f in enumerate(arrivals):
        os.utime(os.path.join(src, f), (1000 + i, 1000 + i))

    _closer_per_file(spark, src, os.path.join(tmp, "closer"), os.path.join(tmp, "ck"),
                     files=arrivals)
    ref = (
        build_rollup_stream(spark.readStream.schema(RAW_SCHEMA)
                            .option("maxFilesPerTrigger", 1).parquet(src))
        .writeStream.format("parquet").option("path", os.path.join(tmp, "ref"))
        .option("checkpointLocation", os.path.join(tmp, "ck_ref"))
        .trigger(availableNow=True).start()
    )
    ref.awaitTermination(120)

    def count_60s(path):
        return spark.read.parquet(path).where(
            F.col("window_start_1m") == _T0 + 60_000).first()["order_count"]

    assert count_60s(os.path.join(tmp, "closer")) == 12
    assert count_60s(os.path.join(tmp, "ref")) == 13


def test_closer_batch_retry_adds_no_rows(spark, tmp_path, closer_feed):
    from topk_spark.streaming.job import RAW_SCHEMA, WindowCloser
    from topk_spark.streaming.metrics import closer_counters

    tmp = str(tmp_path)
    rollup, ck = os.path.join(tmp, "rollup"), os.path.join(tmp, "ck")
    closer = WindowCloser(rollup, ck)
    files = sorted(os.listdir(closer_feed))

    def batch(i):
        return spark.read.schema(RAW_SCHEMA).parquet(os.path.join(closer_feed, files[i]))

    for i in range(3):
        closer(batch(i), i)
    once = _rollup_rows(spark, rollup)
    n_files = sum(len(fs) for _, _, fs in os.walk(rollup))
    state = closer_counters(ck)
    closer(batch(2), 2)  # the retry of batch 2
    assert _rollup_rows(spark, rollup) == once
    assert sum(len(fs) for _, _, fs in os.walk(rollup)) == n_files
    assert closer_counters(ck) == state
    # only states N-1 and N are kept
    assert sorted(os.listdir(os.path.join(ck, "closer"))) == ["1", "2"]


def test_closer_restart_after_batch_k_gives_same_output(spark, tmp_path, closer_feed):
    """One running query fed the feed file by file gives the rows of a
    query restarted from its checkpoint after every batch."""
    tmp = str(tmp_path)
    straight = os.path.join(tmp, "straight")
    src = os.path.join(straight, "src")
    os.makedirs(src)
    q = start_rollup_from_raw(spark, src, os.path.join(straight, "rollup"),
                              os.path.join(straight, "ck"), trigger_seconds=1)
    try:
        for f in sorted(os.listdir(closer_feed)):
            shutil.copy2(os.path.join(closer_feed, f), os.path.join(src, f))
            q.processAllAvailable()
    finally:
        q.stop()
    assert sum(p.numInputRows > 0 for p in q.recentProgress) == 5
    restarted = os.path.join(tmp, "restarted")
    _closer_per_file(spark, closer_feed, os.path.join(restarted, "rollup"),
                     os.path.join(restarted, "ck"))
    assert _rollup_rows(spark, os.path.join(restarted, "rollup")) == _rollup_rows(
        spark, os.path.join(straight, "rollup"))


def test_catchup_is_one_micro_batch_per_query(spark, tmp_path):
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    for i in range(3):
        _write_jsonl(os.path.join(src, f"b{i}.json"),
                     generate_order_events(FixtureSpec(n_events=300, seed=i)))
    raw, rollup = os.path.join(tmp, "raw"), os.path.join(tmp, "rollup")
    q1 = start_raw_sink(build_dedup_stream(spark.readStream.schema(ORDER_EVENT).json(src)),
                        raw, os.path.join(tmp, "ck_raw"), available_now=True)
    q1.awaitTermination(120)
    q2 = start_rollup_from_raw(spark, raw, rollup, os.path.join(tmp, "ck_rollup"),
                               available_now=True)
    q2.awaitTermination(120)
    assert len(q1.recentProgress) == 1 and len(q2.recentProgress) == 1
    assert json.loads(q2.lastProgress.json)["stateOperators"] == []
    assert spark.read.parquet(rollup).count() > 0



def test_malformed_lines_are_dropped_on_ingest(spark, tmp_path):
    """F5: a line that does not parse never reaches the raw table — the
    reader's PERMISSIVE default would land it as an all-null row under
    `event_date=__HIVE_DEFAULT_PARTITION__` — and the rollups equal those of
    the same feed without the bad lines."""
    from topk_spark.io.sources import read_json_file_stream

    rows = generate_order_events(FixtureSpec(n_events=300))
    good = [json.dumps(r) for r in rows]
    out = {}
    for name, lines in (
        ("clean", good),
        ("dirty", good[:100] + ["not json", '{"event_id": "EVT9'] + good[100:]),
    ):
        tmp = os.path.join(str(tmp_path), name)
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        with open(os.path.join(src, "b0.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        raw, rollup = os.path.join(tmp, "raw"), os.path.join(tmp, "rollup")
        start_raw_sink(
            build_dedup_stream(read_json_file_stream(spark, src, ORDER_EVENT)),
            raw, os.path.join(tmp, "ck_raw"), available_now=True,
        ).awaitTermination(120)
        start_rollup_from_raw(
            spark, raw, rollup, os.path.join(tmp, "ck_rollup"), available_now=True
        ).awaitTermination(120)
        out[name] = (raw, rollup)

    raw_dirty, raw_clean = (spark.read.parquet(out[n][0]) for n in ("dirty", "clean"))
    assert raw_dirty.filter(F.col("event_id").isNull()).count() == 0
    assert not [d for d in os.listdir(out["dirty"][0]) if "__HIVE_DEFAULT_PARTITION__" in d]
    assert raw_dirty.select("event_id").exceptAll(raw_clean.select("event_id")).count() == 0
    assert raw_dirty.count() == raw_clean.count()
    assert _rollup_rows(spark, out["dirty"][1]) == _rollup_rows(spark, out["clean"][1])

def test_other_queries_keep_their_trailing_no_data_batch(spark, tmp_path):
    """start_raw_sink turns no-data batches off for its own query only."""
    from topk_spark.streaming.job import RAW_SCHEMA, build_rollup_stream

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key)
    tmp = str(tmp_path)
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    _write_jsonl(os.path.join(src, "b0.json"), generate_order_events(FixtureSpec(n_events=300)))
    raw = os.path.join(tmp, "raw")
    start_raw_sink(build_dedup_stream(spark.readStream.schema(ORDER_EVENT).json(src)),
                   raw, os.path.join(tmp, "ck_raw"), available_now=True).awaitTermination(120)
    assert spark.conf.get(key) == before
    q = (
        build_rollup_stream(spark.readStream.schema(RAW_SCHEMA).parquet(raw))
        .writeStream.format("parquet").option("path", os.path.join(tmp, "out"))
        .option("checkpointLocation", os.path.join(tmp, "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert [p.numInputRows > 0 for p in q.recentProgress] == [True, False]
