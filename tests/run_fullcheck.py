"""Full-registry re-verification sweep: run the driver-style oracle compare
(tests/driver_compare.py) over EVERY registered query at the gate scale,
twice:

- default: the engine's own session factory (the builder preflight form);
- vanilla: a bare SparkSession under TZ=America/New_York (the form the
  driver actually uses — no UTC pin, no engine confs; every query fn must
  self-apply what it needs).

Merges both passes into FULLCHECK_r{N}.json at the repo root:

    {"round": N, "sf_dir": ..., "names": <count>, "source_digest": <hex>,
     "variants": {"default": {name: {status, rows, ...}},
                  "vanilla_tz": {name: {...}}}}

``source_digest()`` hashes the code the sweep verified: every
``topk_spark/**/*.py`` plus ``tests/driver_compare.py``. The artifact is
stale whenever that digest changes — tests/test_fullcheck.py fails until the
sweep is re-run on the current tree. Both passes write into a fresh
temporary directory; the artifact is written only when both passes ran to
the end and the digest did not change while they ran.

The two passes run as concurrent subprocesses; at sf0.01 the sweep took
~13 min on 4 vCPUs with SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEMORY=6g.

Usage:  python tests/run_fullcheck.py <round-number>
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def source_digest(root: str = ROOT) -> str:
    """SHA-256 over the sorted relative path and bytes of every
    ``topk_spark/**/*.py`` and ``tests/driver_compare.py`` under `root`."""
    paths = glob.glob(os.path.join(root, "topk_spark", "**", "*.py"), recursive=True)
    paths.append(os.path.join(root, "tests", "driver_compare.py"))
    h = hashlib.sha256()
    for rel in sorted(os.path.relpath(p, root) for p in paths):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read() + b"\0")
    return h.hexdigest()


def main() -> None:
    rnd = int(sys.argv[1])
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
    compare = os.path.join(HERE, "driver_compare.py")
    digest = source_digest()
    work = tempfile.mkdtemp(prefix=f"fullcheck_r{rnd}_")
    print(f"sweep outputs and logs in {work}", flush=True)
    outs = {}
    procs = {}
    t0 = time.time()
    for variant, extra_env in (
        ("default", {}),
        ("vanilla_tz", {"SPARK_GRAFT_VANILLA": "1", "TZ": "America/New_York"}),
    ):
        out = os.path.join(work, f"{variant}.json")
        outs[variant] = out
        env = {**os.environ, "SPARK_GRAFT_TEST_SF_DIR": sf_dir, **extra_env}
        with open(out + ".log", "w") as log:
            procs[variant] = subprocess.Popen(
                [sys.executable, compare, "--all", "--json", out],
                env=env,
                stdout=log,
                stderr=subprocess.STDOUT,
            )
    codes = {v: p.wait() for v, p in procs.items()}
    print(f"sweep wall {time.time() - t0:.0f} s; each pass's JSON written at "
          + ", ".join(f"{v} {os.path.getmtime(p) - t0:.0f} s"
                      for v, p in outs.items() if os.path.exists(p)), flush=True)
    # driver_compare writes its JSON only after its last query, so a missing
    # file is a pass that died mid-sweep.
    unfinished = [v for v, p in outs.items() if not os.path.exists(p)]
    if unfinished:
        sys.exit(f"{unfinished} did not finish, no artifact written: {codes}")
    if source_digest() != digest:
        sys.exit("source changed during the sweep, no artifact written")
    variants = {}
    for v, p in outs.items():
        with open(p) as fh:
            variants[v] = json.load(fh)
    merged = {
        "round": rnd,
        "sf_dir": sf_dir,
        "names": len(variants["default"]),
        "source_digest": digest,
        "variants": variants,
    }
    dest = os.path.join(ROOT, f"FULLCHECK_r{rnd}.json")
    with open(dest, "w") as fh:
        json.dump(merged, fh, indent=1)
    print(f"wrote {dest}; subprocess exit codes: {codes}")
    sys.exit(max(codes.values()))


if __name__ == "__main__":
    main()
