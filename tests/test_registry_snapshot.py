"""The registry is frozen: `load_all()` must return the same queries, in the
same order, with the same `headline` flags, `tags` and oracle SQL as the
snapshot in `registry_snapshot.json`.

FULLCHECK compares each query against its own oracle, so it cannot notice an
oracle edited together with its query; perfbench's `batch_headline` shuffles
`load_all()` order by seed and caches oracle answers under the SHA-256 of the
SQL. This pins both. A deliberate registry change regenerates the snapshot:

    python tests/test_registry_snapshot.py > tests/registry_snapshot.json
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

SNAPSHOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_snapshot.json")


def registry_rows() -> list[dict]:
    from topk_spark.workload import load_all

    return [
        {
            "name": name,
            "headline": q.headline,
            "tags": list(q.tags),
            "oracle_sha256": None
            if q.oracle is None
            else hashlib.sha256(q.oracle.encode()).hexdigest(),
        }
        for name, q in load_all().items()
    ]


def test_registry_matches_snapshot():
    # `load_all()` order is import order, so read it from a fresh
    # interpreter: other test modules import workload modules early.
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        check=True,
        capture_output=True,
        text=True,
    ).stdout
    got = json.loads(out)
    with open(SNAPSHOT) as fh:
        want = json.load(fh)
    assert [r["name"] for r in got] == [r["name"] for r in want]
    for g, w in zip(got, want):
        assert g == w, g["name"]


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print("[\n" + ",\n".join(json.dumps(r) for r in registry_rows()) + "\n]")
