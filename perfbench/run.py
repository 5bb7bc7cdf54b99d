#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation, in a fresh process.

    python3 perfbench/run.py --workload ingest_catchup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated from
`--seed` inside `perfbench/.work/` (`batch_headline` reads the fixed tables
under `perfbench/data/` in a seeded query order), `topk_spark` only receives
those files and requests, outputs are checked against DuckDB outside the
timed region, and the last line of stdout is one JSON object
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics with
`--trace 0`, the per-layer metrics (every name in BENCHMARK.json's
`per_layer`) with `--trace 1`. The line before it is the run record: the
pinned settings, `nproc` and the per-op latencies. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

from harness import HERE, ROOT, Bench, nproc, pin_environment

WORKLOADS = {
    "ingest_catchup": "ingest",
    "serve_topk": "serve",
    "batch_headline": "batch",
}


def _metric_units(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    units = _metric_units("per_layer" if args.trace else "end_to_end")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pins = pin_environment(work)
    sys.path.insert(0, ROOT)
    bench = None
    try:
        import topk_spark  # noqa: F401  (fails outside a full checkout)

        bench = Bench(args.seed, args.seconds, bool(args.trace), work)
        workload = importlib.import_module(WORKLOADS[args.workload])
        outcome = workload.run(bench)
    finally:
        if bench is not None:
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        unknown = set(bench.layer) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics not in BENCHMARK.json: {sorted(unknown)}")
        # a layer the workload leaves idle did no work: 0; a layer it loads
        # but did not report is a failed check
        idle = {n for n in units if n.startswith(workload.IDLE)}
        missing = sorted(set(units) - set(bench.layer) - idle)
        if missing:
            print(f"per-layer metrics not measured: {missing}", file=sys.stderr)
        outcome["attempted"] += 1
        outcome["failed"] += bool(missing)
        values = {n: bench.layer.get(n, 0.0) for n in units}
    else:
        values = outcome["metrics"]
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "nproc": nproc(),
              "pins": pins, **bench.record}
    result = {
        "correct": outcome["failed"] == 0,
        "attempted": outcome["attempted"],
        "failed": outcome["failed"],
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }
    out = os.path.join(HERE, ".out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        bench.tracer.write(stem + ".spans.json")
    with open(stem + ".json", "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
