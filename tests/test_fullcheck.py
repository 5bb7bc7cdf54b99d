"""The full-registry re-verification artifact (FULLCHECK_r{N}.json, written
by tests/run_fullcheck.py) stays meaningful: every entry green in BOTH
session variants, the newest artifact covers the registry, and it was swept
on the current code — its source digest equals the tree's."""

from __future__ import annotations

import glob
import json
import os
import re
import shutil

import pytest

from tests.run_fullcheck import source_digest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_artifact() -> tuple[int, dict] | None:
    best = None
    for p in glob.glob(os.path.join(ROOT, "FULLCHECK_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        if best is None or rnd > best[0]:
            best = (rnd, p)
    if best is None:
        return None
    with open(best[1]) as fh:
        return best[0], json.load(fh)


def test_fullcheck_exists_and_is_all_green():
    art = _newest_artifact()
    assert art is not None, (
        "no FULLCHECK_r*.json at repo root — run tests/run_fullcheck.py "
        "(the full-registry sweep) before shipping the round"
    )
    rnd, data = art
    variants = data["variants"]
    assert set(variants) == {"default", "vanilla_tz"}
    names_by_variant = {v: set(rows) for v, rows in variants.items()}
    assert names_by_variant["default"] == names_by_variant["vanilla_tz"]
    # PASS only (round-12 VERDICT #3 tightening): the registry has zero
    # unoracled queries, so the old rows_only tolerance was dead code that
    # would have silently accepted a weakened sweep.
    bad = {
        v: [n for n, r in rows.items() if r.get("status") != "PASS"]
        for v, rows in variants.items()
    }
    assert all(not b for b in bad.values()), bad
    assert data["names"] == len(variants["default"]) >= 300


def test_fullcheck_covers_current_registry():
    """The newest sweep's name set must be a SUPERSET of the live registry
    (round-14 VERDICT #4 tightening: the old ≥97 % tolerance let the r12
    artifact stay green across two rounds of registry growth, which is
    exactly the staleness this test exists to catch). Every covered name
    that is still registered must be green (checked above); names pruned
    from the registry since the sweep are fine."""
    art = _newest_artifact()
    if art is None:
        pytest.skip("no artifact — covered by the existence test's failure")
    _, data = art
    covered = set(data["variants"]["default"])

    from topk_spark.workload import load_all

    registered = set(load_all())
    missing = sorted(registered - covered)
    assert not missing, (
        f"FULLCHECK artifact is stale — {len(missing)} registered queries "
        f"are not in the sweep; re-run tests/run_fullcheck.py. "
        f"Missing (first 10): {missing[:10]}"
    )


def test_fullcheck_swept_current_code():
    """The newest sweep verified the code in this tree: any change under
    topk_spark/ or to tests/driver_compare.py makes it stale."""
    art = _newest_artifact()
    if art is None:
        pytest.skip("no artifact — covered by the existence test's failure")
    rnd, data = art
    assert data.get("source_digest") == source_digest(), (
        f"FULLCHECK_r{rnd}.json was swept on other code; re-run "
        f"`python tests/run_fullcheck.py {rnd + 1}` and commit its artifact"
    )


def test_source_digest_sees_a_one_byte_change(tmp_path):
    shutil.copytree(
        os.path.join(ROOT, "topk_spark"),
        tmp_path / "topk_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    (tmp_path / "tests").mkdir()
    shutil.copy(os.path.join(ROOT, "tests", "driver_compare.py"), tmp_path / "tests")
    assert source_digest(str(tmp_path)) == source_digest()
    module = tmp_path / "topk_spark" / "session.py"
    data = bytearray(module.read_bytes())
    data[0] ^= 1
    module.write_bytes(bytes(data))
    assert source_digest(str(tmp_path)) != source_digest()
