"""`serve_topk`: one client, closed loop, one keep-alive localhost HTTP
connection to `serve.http.create_app`, sending a seeded mix of
per-restaurant `/topk`, `/topk/revenue` and `/restaurants/all/topk`
requests (Zipf restaurant ids, 1 h ranges).

The tier it reads is written in set-up by the same `streaming.job` path
`ingest_catchup` times, so a sink-layout change shows on both workloads.
Loads `serve`, `ops.topk` and Spark planning per request; `streaming` is
idle while requests are timed.
"""

from __future__ import annotations

import http.client
import json
import random
import statistics
import threading
import time
from collections import defaultdict
from urllib.parse import parse_qs, urlsplit

import duckdb

import gen
from harness import tree_cpu_s
from ingest import catchup, stream_layers
from spans import (
    drain_listeners,
    job_ids,
    last_execution_id,
    metric_sum,
    no_span,
    sql_metrics,
    tasks_of_jobs,
)

# 10k events 600 ms apart: a 100-minute tier, so 1 h ranges have ~40 starts
EVENTS = 10_000
STEP_MS = 600
WARMUP_REQUESTS = 72
SAMPLE_CHECKS = 12
# per-layer metrics this workload leaves idle (0 in the traced run)
IDLE = ("workload.", "streaming.single_core_eps")


def _tier(spark, rollup: str):
    """The rollup table as serve/api.py reads it: window_start/window_end."""
    import pyspark.sql.functions as F

    return (
        spark.read.parquet(rollup)
        .withColumnRenamed("window_start_1m", "window_start")
        .withColumn("window_end", F.col("window_start") + F.lit(60_000))
    )


def _start_server(bench, app) -> int:
    from werkzeug.serving import WSGIRequestHandler, make_server

    class Handler(WSGIRequestHandler):
        protocol_version = "HTTP/1.1"  # keep-alive

        def log_request(self, *args, **kwargs):
            pass

    server = make_server("127.0.0.1", 0, app, request_handler=Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    bench.server = server
    return server.server_port


def _get(conn, path: str) -> tuple[int, bytes]:
    conn.request("GET", path)
    resp = conn.getresponse()
    return resp.status, resp.read()


def run(bench) -> dict:
    from topk_spark.serve.http import create_app

    src = bench.path("log")
    info = gen.write_order_log(src, EVENTS, bench.seed, step_ms=STEP_MS)
    spark = bench.start_spark()
    built = catchup(bench, src, "tier", traced=bench.trace)
    if bench.trace:
        stream_layers(bench.layer, built)
    tier = _tier(spark, built["rollup"])
    port = _start_server(bench, create_app(spark, tier))
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    mix = gen.request_mix(bench.seed, info["min_ts"], info["max_ts"])
    attempted = failed = 0
    for _ in range(WARMUP_REQUESTS):
        status, body = _get(conn, next(mix)[1])
        attempted += 1
        failed += status != 200 or not json.loads(body).get("items")
    spark._jvm.System.gc()  # noqa: SLF001 - the same heap in every run
    bench.ready()

    # Timed region. In the traced run each route class's requests go
    # untraced, traced, traced, untraced, ... (ABBA), until every class has
    # two of each; a traced request is followed (outside its HTTP span) by
    # a replay of the same read through serve.api + collect, for the HTTP
    # self time.
    per_cls = dict.fromkeys(gen.ROUTES, 0)
    timed, c0, t0 = [], tree_cpu_s(), time.perf_counter()
    for _ in bench.ops(min_ops=20, enough=lambda: not bench.trace
                       or min(per_cls.values()) >= 4):
        cls, path = next(mix)
        traced = bench.traced_op(per_cls[cls])
        per_cls[cls] += 1
        if traced:
            jobs0, exec0 = job_ids(spark), last_execution_id(spark)
        with (bench.tracer.span if traced else no_span)("serve.http", path=path):
            a = time.perf_counter()
            status, body = _get(conn, path)
            ms = (time.perf_counter() - a) * 1000
        rec = {"cls": cls, "path": path, "ms": ms, "traced": traced,
               "status": status, "body": body}
        if traced:
            drain_listeners(spark)
            jobs = job_ids(spark) - jobs0
            rec.update(jobs=len(jobs), tasks=tasks_of_jobs(spark, jobs),
                       scanned=metric_sum(sql_metrics(spark, exec0),
                                          "number of output rows", "Scan"))
            rec.update(_replay(bench, tier, path))
        timed.append(rec)
    elapsed, cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0

    # Checks, outside the timed region: every response is 200 with items,
    # and a seeded sample equals a DuckDB top-k over the same tier files.
    for rec in timed:
        rec["items"] = json.loads(rec.pop("body")).get("items") if rec["status"] == 200 else None
        attempted += 1
        failed += not rec["items"]
    rng = random.Random(bench.seed)
    for rec in rng.sample(timed, min(SAMPLE_CHECKS, len(timed))):
        attempted += 1
        failed += rec["items"] != _oracle(built["rollup"], rec["path"])

    plain = [r for r in timed if not r["traced"]]
    if bench.trace:
        _layers(bench, timed)
    bench.record.update(tier_events=EVENTS, warmup_requests=WARMUP_REQUESTS,
                        timed_requests=len(timed), timed_s=elapsed)
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": bench.e2e(
            throughput=len(timed) / elapsed,
            latencies_ms=[r["ms"] for r in plain],
            cpu_ms_per_op=cpu_s * 1000 / len(timed),
        ),
    }


def _parse(path: str) -> tuple[str, bool, dict]:
    """/api/v1/restaurants/<id>/topk[/revenue]?start_time=&end_time=&k= →
    (id, revenue?, {start_time, end_time, k})."""
    u = urlsplit(path)
    parts = u.path.split("/")
    q = {k: int(v[0]) for k, v in parse_qs(u.query).items()}
    return parts[4], parts[-1] == "revenue", q


def _read(tier, path: str):
    """The DataFrame serve.api builds for the request `path`."""
    from topk_spark.serve import api

    rid, revenue, q = _parse(path)
    if revenue:
        return api.topk_by_revenue(tier, rid, q["start_time"], q["end_time"], q["k"])
    if rid == "all":
        return api.topk_global(tier, q["start_time"], q["end_time"], q["k"])
    return api.topk_for_restaurant(tier, rid, q["start_time"], q["end_time"], q["k"])


def _replay(bench, tier, path: str) -> dict:
    """The same read through serve.api directly: build, then collect."""
    with bench.tracer.span("serve.api.build", path=path):
        a = time.perf_counter()
        df = _read(tier, path)
        b = time.perf_counter()
    with bench.tracer.span("serve.exec", path=path):
        df.collect()
        c = time.perf_counter()
    return {"build_ms": (b - a) * 1000, "exec_ms": (c - b) * 1000}


def _oracle(rollup: str, path: str) -> list[dict]:
    """DuckDB top-k over the tier's parquet files, in the response's item
    shape: closed containment on [start, end], re-aggregated and ranked."""
    rid, revenue, q = _parse(path)
    glob_ = rid == "all"
    where = f"window_start_1m >= {q['start_time']} AND window_start_1m + 60000 <= {q['end_time']}"
    if not glob_:
        where += f" AND restaurant_id = '{rid}'"
    order = ("total_revenue_in_cents DESC, window_end DESC, menu_item_id"
             if revenue else "order_count DESC, menu_item_id")
    rows = duckdb.connect().execute(f"""
        SELECT {"'ALL'" if glob_ else "restaurant_id"} AS restaurant_id,
               menu_item_id, min(menu_item_name) AS menu_item_name,
               sum(order_count)::BIGINT AS order_count,
               sum(sum_quantity)::BIGINT AS total_quantity,
               sum(sum_revenue_cents)::BIGINT AS total_revenue_in_cents,
               min(window_start_1m)::BIGINT AS window_start,
               max(window_start_1m + 60000)::BIGINT AS window_end
        FROM read_parquet('{rollup}/*/*.parquet')
        WHERE {where}
        GROUP BY {"" if glob_ else "restaurant_id, "}menu_item_id
        ORDER BY {order} LIMIT {q['k']}
    """)
    cols = [d[0] for d in rows.description]
    out = [dict(zip(cols, r)) for r in rows.fetchall()]
    for rank, item in enumerate(out, 1):
        item["rank"] = rank
    return out


def _layers(bench, timed: list[dict]) -> None:
    layer = bench.layer
    seen: set[str] = set()
    by_cls: dict[str, list[dict]] = defaultdict(list)
    for rec in timed:
        rec["repeat"] = rec["path"] in seen
        seen.add(rec["path"])
        by_cls[rec["cls"]].append(rec)
    for cls, recs in by_cls.items():
        tr = [r for r in recs if r["traced"]]
        med = lambda k: statistics.median(r[k] for r in tr)  # noqa: E731
        layer[f"serve.{cls}.http.ms"] = med("ms")
        layer[f"serve.{cls}.http.self_ms"] = statistics.median(
            r["ms"] - r["build_ms"] - r["exec_ms"] for r in tr
        )
        layer[f"serve.{cls}.api.build_ms"] = med("build_ms")
        layer[f"serve.{cls}.exec_ms"] = med("exec_ms")
        layer[f"serve.{cls}.jobs_per_req"] = statistics.mean(r["jobs"] for r in tr)
        layer[f"serve.{cls}.tasks_per_req"] = statistics.mean(r["tasks"] for r in tr)
        layer[f"serve.{cls}.rows_scanned_per_req"] = statistics.mean(r["scanned"] for r in tr)
        layer[f"serve.{cls}.rows_returned_per_req"] = statistics.mean(
            len(r["items"] or ()) for r in tr
        )
        layer[f"serve.{cls}.repeat_request_share"] = sum(r["repeat"] for r in recs) / len(recs)
    # tracing overhead within each route class, weighted by its share
    t_ms = u_ms = 0.0
    for recs in by_cls.values():
        w = len(recs) / len(timed)
        t_ms += w * statistics.median(r["ms"] for r in recs if r["traced"])
        u_ms += w * statistics.median(r["ms"] for r in recs if not r["traced"])
    layer["trace.overhead.latency_p50_ms"] = t_ms - u_ms
    layer["trace.overhead.throughput_per_s"] = 1000 / t_ms - 1000 / u_ms
