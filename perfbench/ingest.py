"""`ingest_catchup`: replay a seeded order log through the streaming pipeline
(`read_json_file_stream` → `build_dedup_stream` → `start_raw_sink`, then
`start_rollup_from_raw`, both `availableNow`) and time each full catch-up.

Loads `io` and `streaming`; `serve` stays idle. One op is one full
catch-up of the whole log into fresh sink and checkpoint directories.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import duckdb

import gen
from harness import tree_cpu_s
from spans import no_span, progress_totals

EVENTS = 250_000
WARMUP_EVENTS = 20_000
# traced run only: the same job at local[1], on a smaller log
SINGLE_CORE_EVENTS = 100_000
# per-layer metrics this workload leaves idle (0 in the traced run)
IDLE = ("serve.", "workload.")


def catchup(bench, src: str, tag: str, traced: bool) -> dict:
    from topk_spark.io.sources import read_json_file_stream
    from topk_spark.schemas import ORDER_EVENT
    from topk_spark.streaming.job import (
        build_dedup_stream,
        start_raw_sink,
        start_rollup_from_raw,
    )

    spark = bench.spark
    span = bench.tracer.span if traced else no_span
    d = bench.path(tag)
    raw, rollup = os.path.join(d, "raw"), os.path.join(d, "rollup")
    with span("streaming.catchup"):
        t0 = time.perf_counter()
        with span("streaming.dedup"):
            with span("io.read_json_file_stream"):
                events = read_json_file_stream(spark, src, ORDER_EVENT)
            with span("streaming.build_dedup_stream"):
                deduped = build_dedup_stream(events)
            with span("streaming.start_raw_sink"):
                q1 = start_raw_sink(deduped, raw, os.path.join(d, "ck_raw"),
                                    available_now=True)
            q1.awaitTermination()
        t1 = time.perf_counter()
        with span("streaming.rollup"):
            with span("streaming.start_rollup_from_raw"):
                q2 = start_rollup_from_raw(
                    spark, raw, rollup, os.path.join(d, "ck_rollup"),
                    available_now=True,
                )
            q2.awaitTermination()
        t2 = time.perf_counter()
    out = {"wall_s": t2 - t0, "rollup": rollup, "raw": raw, "traced": traced,
           "ok": q1.exception() is None and q2.exception() is None}
    if traced:
        out["stages"] = {
            "dedup": {**progress_totals(q1), "wall_s": t1 - t0},
            "rollup": {**progress_totals(q2), "wall_s": t2 - t1},
        }
    return out


def _files(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "*", "*.parquet"))
    return len(files), sum(os.path.getsize(f) for f in files)


def oracle_totals(src: str, watermark_ms: int) -> dict:
    """Independent DuckDB answer: first-seen dedup by event_id, 1-minute
    tumbling windows closed by the final watermark, totals per restaurant."""
    con = duckdb.connect()
    rows = con.execute(f"""
        WITH ev AS (
          SELECT * FROM read_json('{src}/*.json', format='newline_delimited',
              columns={{event_id: 'VARCHAR', restaurant_id: 'VARCHAR',
                        menu_item_id: 'VARCHAR', quantity: 'BIGINT',
                        price_in_cents: 'BIGINT', timestamp: 'BIGINT'}})
        ),
        dedup AS (SELECT DISTINCT ON (event_id) * FROM ev),
        w AS (
          SELECT restaurant_id, menu_item_id, quantity, price_in_cents,
                 timestamp // 60000 * 60000 AS ws
          FROM dedup
        )
        SELECT restaurant_id, count(DISTINCT (menu_item_id, ws)),
               sum(quantity), sum(quantity * price_in_cents), count(*)
        FROM w WHERE ws + 60000 <= {watermark_ms}
        GROUP BY restaurant_id
    """).fetchall()
    return {r[0]: tuple(int(x) for x in r[1:]) for r in rows}


def rollup_totals(rollup: str) -> dict:
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT restaurant_id, count(*), sum(sum_quantity),
               sum(sum_revenue_cents), sum(order_count)
        FROM read_parquet('{rollup}/*/*.parquet')
        GROUP BY restaurant_id
    """).fetchall()
    return {r[0]: tuple(int(x) for x in r[1:]) for r in rows}


def run(bench) -> dict:
    src, warm_src = bench.path("log"), bench.path("warm_log")
    info = gen.write_order_log(src, EVENTS, bench.seed)
    gen.write_order_log(warm_src, WARMUP_EVENTS, bench.seed + 1)
    bench.start_spark()
    # Warm-up, untimed: a small cold catch-up, then two full-size ones. The
    # JVM spends ~30 s of CPU compiling during the first catch-up in a
    # process and ~9 s during the second; the third is still ~7% slower
    # than the ones after it.
    catchup(bench, warm_src, "warm0", traced=False)
    runs = [catchup(bench, src, f"warm{i}", traced=False) for i in (1, 2)]
    bench.ready()

    # Timed region: as many catch-ups as fit in `seconds`, at least two
    # (four in the traced run, half of them traced, so the tracing overhead
    # is measured in the same process).
    timed, c0 = [], tree_cpu_s()
    for i in bench.ops(min_ops=4 if bench.trace else 2):
        # earlier catch-ups' state stores stay on the heap until Spark's
        # maintenance unloads them; a full GC first gives every timed
        # catch-up the same heap to start from
        bench.spark._jvm.System.gc()  # noqa: SLF001
        timed.append(catchup(bench, src, f"rep{i}", bench.traced_op(i)))
    cpu_s = tree_cpu_s() - c0
    runs += timed

    if bench.trace:
        _layers(bench, timed)

    # Output check, outside the timed region: every catch-up's rollup
    # totals per restaurant equal the DuckDB answer.
    expect = oracle_totals(src, info["max_ts"] - 10_000)
    failed = sum(1 for r in runs if not r["ok"] or rollup_totals(r["rollup"]) != expect)
    bench.record.update(events=EVENTS, catchups_timed=len(timed),
                        rollup_rows=sum(v[0] for v in expect.values()))
    walls_ms = [r["wall_s"] * 1000 for r in timed if not r["traced"]]
    return {
        "attempted": len(runs),
        "failed": failed,
        "metrics": bench.e2e(
            throughput=EVENTS / statistics.median(walls_ms) * 1000,
            latencies_ms=walls_ms,
            cpu_ms_per_op=cpu_s * 1000 / (EVENTS * len(timed) / 1000),
        ),
    }


def stream_layers(layer: dict, rec: dict) -> None:
    """streaming.* and io.* per-layer metrics of one traced catch-up."""
    import pyarrow.parquet as pq

    stages = rec["stages"]
    for stage, p in stages.items():
        for name in ("wall_s", "batches", "add_batch_ms", "planning_ms",
                     "wal_commit_ms", "state_rows", "state_bytes",
                     "state_commit_ms"):
            layer[f"streaming.{stage}.{name}"] = p[name]
    raw_rows = sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(rec["raw"], "*", "*.parquet"))
    )
    layer["streaming.dedup.kept_ratio"] = raw_rows / stages["dedup"]["rows_in"]
    layer["streaming.rollup.late_dropped"] = stages["rollup"]["late_dropped"]
    layer["io.source.list_ms"] = stages["dedup"]["list_ms"]
    layer["io.raw.files"], layer["io.raw.bytes"] = _files(rec["raw"])
    layer["io.rollup.files"], layer["io.rollup.bytes"] = _files(rec["rollup"])


def _layers(bench, timed: list[dict]) -> None:
    layer = bench.layer
    traced = [r for r in timed if r["traced"]]
    plain = [r for r in timed if not r["traced"]]
    stream_layers(layer, traced[-1])
    t_ms = statistics.median(r["wall_s"] for r in traced) * 1000
    u_ms = statistics.median(r["wall_s"] for r in plain) * 1000
    layer["trace.overhead.latency_p50_ms"] = t_ms - u_ms
    layer["trace.overhead.throughput_per_s"] = (
        EVENTS / t_ms * 1000 - EVENTS / u_ms * 1000
    )

    # Single-core baseline: the same job on a fresh local[1] context.
    src = bench.path("log1")
    gen.write_order_log(src, SINGLE_CORE_EVENTS, bench.seed + 1)
    bench.spark.stop()
    bench.start_spark(master="local[1]")
    r = catchup(bench, src, "single", traced=False)
    layer["streaming.single_core_eps"] = SINGLE_CORE_EVENTS / r["wall_s"]
