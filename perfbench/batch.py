"""`batch_headline`: passes over the registry's 14 `headline=True` queries on
the TPC-H-style testdata at sf 0.01 (`perfbench/data/sf0.01`, the tables the
queries' DuckDB oracles are checked against), each query materialized with
`write.format("noop")` (under `.count()` ColumnPruning drops the
aggregates). The seed orders the queries.

Loads `ops` and `workload`; touches neither `serve` nor `streaming`. One op
is one pass over all 14 queries.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import sys
import time

import duckdb
import pyarrow.parquet as pq

from harness import HERE, ROOT, tree_cpu_s
from spans import last_execution_id, metric_sum, no_span, sql_metrics

sys.path.insert(0, os.path.join(ROOT, "tests"))
from driver_compare import TABLES, _kind, _row_set  # noqa: E402

# The testdata's sf 0.01 tables (60k lineitem rows, seed 42), read-only;
# at sf 0.1 one pass takes longer than a run's whole timed region.
DATA = os.path.join(HERE, "data", "sf0.01")
# The oracles' answers on DATA, one parquet file per query, each tagged with
# the SHA-256 of the oracle SQL it came from. The minhash oracle is an
# all-pairs DuckDB join that takes ~40 s on 4 vCPUs; an answer whose tag no
# longer matches the registered oracle is recomputed live.
ORACLES = os.path.join(HERE, "data", "sf0.01-oracle")
# per-layer metrics this workload leaves idle (0 in the traced run)
IDLE = ("serve.", "streaming.", "io.")


def _run_pass(bench, queries, data: str, traced: bool) -> tuple[float, dict, int]:
    spark = bench.spark
    span = bench.tracer.span if traced else no_span
    per_query, failed = {}, 0
    with span("workload.pass"):
        t0 = time.perf_counter()
        for name, q in queries:
            exec0 = last_execution_id(spark) if traced else None
            a = time.perf_counter()
            try:
                with span(f"workload.{name}.build"):
                    df = q.fn(spark, data)
                b = time.perf_counter()
                with span(f"workload.{name}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                c = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failed query is a failed op
                print(f"{name}: {exc!r}", file=sys.stderr)
                failed += 1
                continue
            per_query[name] = {"build_ms": (b - a) * 1000, "exec_ms": (c - b) * 1000}
            if traced:
                rows = sql_metrics(spark, exec0)
                per_query[name].update(
                    shuffle_bytes=metric_sum(rows, "shuffle bytes written"),
                    spill_bytes=metric_sum(rows, "spill size"),
                )
        wall = time.perf_counter() - t0
    return wall, per_query, failed


def run(bench) -> dict:
    from topk_spark.workload import load_all

    headline = [(n, q) for n, q in load_all().items() if q.headline]
    random.Random(bench.seed).shuffle(headline)
    spark = bench.start_spark()

    # Warm-up pass, untimed: each query's full output is collected as Arrow
    # and compared with its registered DuckDB oracle's answer.
    attempted = failed = 0
    for name, q in headline:
        attempted += 1
        try:
            ok = _matches(q.fn(spark, DATA).toArrow(), _oracle(name, q.oracle))
        except Exception as exc:  # noqa: BLE001 - a failed query is a failed op
            print(f"{name}: {exc!r}", file=sys.stderr)
            ok = False
        failed += not ok
    bench.ready()

    # Timed region: passes while they fit in `seconds`, at least one (four
    # in the traced run, half of them traced, for the tracing overhead).
    passes, c0 = [], tree_cpu_s()
    for i in bench.ops(min_ops=4 if bench.trace else 1):
        traced = bench.traced_op(i)
        spark._jvm.System.gc()  # noqa: SLF001 - the same heap for every pass
        wall, per_query, f = _run_pass(bench, headline, DATA, traced)
        passes.append({"wall_s": wall, "q": per_query, "traced": traced})
        attempted += len(headline)
        failed += f
    cpu_s = tree_cpu_s() - c0

    plain = [p for p in passes if not p["traced"]]
    if bench.trace:
        traced = [p for p in passes if p["traced"]]
        for name, _ in headline:
            got = [p["q"][name] for p in traced if name in p["q"]]
            for k in got[0] if got else ():
                bench.layer[f"workload.{name}.{k}"] = statistics.median(g[k] for g in got)
        t_ms = statistics.median(p["wall_s"] for p in traced) * 1000
        u_ms = statistics.median(p["wall_s"] for p in plain) * 1000
        bench.layer["trace.overhead.latency_p50_ms"] = t_ms - u_ms
        bench.layer["trace.overhead.throughput_per_s"] = (
            len(headline) / t_ms * 1000 - len(headline) / u_ms * 1000
        )
    walls_ms = [p["wall_s"] * 1000 for p in plain]
    bench.record.update(data=os.path.relpath(DATA, ROOT),
                        queries=[n for n, _ in headline], passes=len(passes))
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": bench.e2e(
            throughput=len(headline) / statistics.median(walls_ms) * 1000,
            latencies_ms=walls_ms,
            cpu_ms_per_op=cpu_s * 1000 / (len(headline) * len(passes)),
        ),
    }


def _sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def _run_oracle(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(DATA, t)}.parquet'")
    return con.execute(sql).arrow()


def _oracle(name: str, sql: str):
    """The oracle's answer: cached if the cache was made from this SQL."""
    path = os.path.join(ORACLES, f"{name}.parquet")
    if os.path.exists(path):
        tbl = pq.read_table(path)
        if (tbl.schema.metadata or {}).get(b"oracle_sha256") == _sha(sql).encode():
            return tbl.replace_schema_metadata(None)
    return _run_oracle(sql)


def _matches(got, want) -> bool:
    """The registry's oracle-parity comparison (tests/driver_compare.py):
    the same column names and type kinds and the same multiset of rows,
    floats to 6 decimals."""
    cols = sorted(got.column_names)
    return (
        cols == sorted(want.column_names)
        and all(_kind(got.schema.field(c).type) == _kind(want.schema.field(c).type)
                for c in cols)
        and _row_set(got) == _row_set(want)
    )


def write_oracles() -> None:
    """Recompute every headline query's oracle answer into ORACLES."""
    sys.path.insert(0, ROOT)
    from topk_spark.workload import load_all

    os.makedirs(ORACLES, exist_ok=True)
    for name, q in load_all().items():
        if q.headline:
            tbl = _run_oracle(q.oracle)
            tbl = tbl.replace_schema_metadata({"oracle_sha256": _sha(q.oracle)})
            pq.write_table(tbl, os.path.join(ORACLES, f"{name}.parquet"))
            print(name, tbl.num_rows)


if __name__ == "__main__":
    # python3 perfbench/batch.py: refresh the cached oracle answers
    write_oracles()
