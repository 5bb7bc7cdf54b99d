"""Per-event continuous top-K (streaming/continuous_topk.py) — the
reference ProcessFunctions.kt granularity. Pins, at exact-value level:

- one ranked snapshot per input EVENT, in (ts, event_id) replay order,
  tagged with a per-key sequence number that is monotone ACROSS micro-batch
  boundaries (state continuity);
- the reference's lossy truncation semantics: an item squeezed off the
  k-bounded state loses its accumulated count and restarts from zero if
  seen again (ProcessFunctions.kt:103-116) — pinned by an item that is
  observed twice but never accumulates;
- deterministic tiebreak (count desc, item id asc);
- emit_k caps emitted ranks without changing state fidelity, and may not
  exceed k.
"""

from __future__ import annotations

import json
import os

import pytest

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
_S = 1_000_000


def _write_file(src: str, name: str, rows: list[dict], mtime: int) -> None:
    os.makedirs(src, exist_ok=True)
    p = os.path.join(src, name)
    with open(p, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    os.utime(p, (mtime, mtime))


def _drain_per_event(spark, tmp_path, batches, k, emit_k=None, name="pe_topk"):
    from topk_spark.streaming.continuous_topk import continuous_topk_per_event

    src = str(tmp_path / f"src_{name}")
    for i, rows in enumerate(batches):
        _write_file(src, f"b{i}.jsonl", rows, 1_700_000_000 + i * 60)
    stream = (
        spark.readStream.schema(
            "restaurant_id string, menu_item_id string, event_id long, ts_us long"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .json(src)
    )
    out = continuous_topk_per_event(stream, k=k, emit_k=emit_k)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(
        (r["snap_seq"], r["rank"], r["restaurant_id"], r["snap_event_id"],
         r["menu_item_id"], r["order_count"])
        for r in spark.table(name).collect()
    )


def _ev(rid, item, eid, sec):
    return {"restaurant_id": rid, "menu_item_id": item, "event_id": eid,
            "ts_us": T0_US + sec * _S}


_TRUNC_BATCHES = [
    [_ev("R1", "A", 1, 0), _ev("R1", "B", 2, 1), _ev("R1", "A", 3, 2)],
    [_ev("R1", "C", 4, 3), _ev("R1", "C", 5, 4), _ev("R1", "B", 6, 5)],
]

_TRUNC_EXPECTED = sorted(
    [
        # seq 1: A:1
        (1, 1, "R1", 1, "A", 1),
        # seq 2: A:1 B:1 — tie, A first
        (2, 1, "R1", 2, "A", 1),
        (2, 2, "R1", 2, "B", 1),
        # seq 3: A:2 B:1
        (3, 1, "R1", 3, "A", 2),
        (3, 2, "R1", 3, "B", 1),
        # seq 4 (batch 2 — continuity): C enters at 1, ties B, B wins the
        # tiebreak, C is truncated away and loses its count
        (4, 1, "R1", 4, "A", 2),
        (4, 2, "R1", 4, "B", 1),
        # seq 5: C re-enters at 1 (NOT 2 — truncation reset), same story
        (5, 1, "R1", 5, "A", 2),
        (5, 2, "R1", 5, "B", 1),
        # seq 6: B:2 — cross-batch accumulation for a surviving item
        (6, 1, "R1", 6, "A", 2),
        (6, 2, "R1", 6, "B", 2),
    ]
)


def test_per_event_truncation_and_continuity(spark, tmp_path):
    """k=2 over items A/B/C: C is seen twice but is squeezed off the
    2-bounded state after each appearance, so its count NEVER reaches 2 —
    the reference's lossy design, observable per event. Counts and the
    sequence counter must carry across the two micro-batches."""
    got = _drain_per_event(spark, tmp_path, _TRUNC_BATCHES, k=2)
    assert got == _TRUNC_EXPECTED


def test_per_event_matches_prefix_ranking(spark, tmp_path):
    """With k large enough that truncation never bites, every snapshot must
    equal the exact prefix ranking — checked against an independent Python
    fold over the same (ts, event_id) order, two keys, three batches."""
    items = ["A", "B", "C", "D"]
    rows = [
        _ev(f"R{(i * 7) % 2}", items[(i * i) % 4], i, i)
        for i in range(30)
    ]
    batches = [rows[:10], rows[10:20], rows[20:]]
    got = _drain_per_event(spark, tmp_path, batches, k=10, name="pe_prefix")

    expected = []
    counts: dict[str, dict[str, int]] = {}
    seqs: dict[str, int] = {}
    for r in rows:  # already in (ts, event_id) order
        rid = r["restaurant_id"]
        c = counts.setdefault(rid, {})
        c[r["menu_item_id"]] = c.get(r["menu_item_id"], 0) + 1
        seqs[rid] = seqs.get(rid, 0) + 1
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        for rank, (item, n) in enumerate(ranked, start=1):
            expected.append((seqs[rid], rank, rid, r["event_id"], item, n))
    assert got == sorted(expected)
    assert len({(s, rid) for s, _, rid, *_ in got}) == 30  # one snapshot/event


def test_per_event_emit_k_caps_output(spark, tmp_path):
    """emit_k=1 emits only the leader while the state keeps full k
    fidelity: after A A B B B, the leader flips to B — which requires B's
    count to have accumulated in state while it was NOT being emitted."""
    batches = [
        [_ev("R1", "A", 1, 0), _ev("R1", "A", 2, 1), _ev("R1", "B", 3, 2),
         _ev("R1", "B", 4, 3), _ev("R1", "B", 5, 4)],
    ]
    got = _drain_per_event(spark, tmp_path, batches, k=5, emit_k=1, name="pe_k1")
    assert got == [
        (1, 1, "R1", 1, "A", 1),
        (2, 1, "R1", 2, "A", 2),
        (3, 1, "R1", 3, "A", 2),  # B:1 in state, not emitted
        (4, 1, "R1", 4, "A", 2),  # B:2 ties A, A wins tiebreak
        (5, 1, "R1", 5, "B", 3),  # B overtakes — state kept its count
    ]


def test_per_event_emit_k_validation(spark):
    from topk_spark.streaming.continuous_topk import continuous_topk_per_event

    df = spark.createDataFrame(
        [], "restaurant_id string, menu_item_id string, event_id long, ts_us long"
    )
    with pytest.raises(ValueError, match="emit_k"):
        continuous_topk_per_event(df, k=2, emit_k=3)


def test_trunc_drain_regime_is_nonvacuous(spark, sf_dir):
    """The round-9 truncation drain's whole point is that eviction FIRES:
    replay its exact fixture (events % _TRUNC_MOD, domain _TRUNC_DOM, k=3)
    through the fold and require (a) a healthy eviction count and (b) at
    least one item whose count RESTARTED after eviction — the observable
    the exact-prefix-ranking oracle cannot express. Guards the fixture
    against testdata regeneration quietly leaving the lossy regime."""
    import duckdb

    from topk_spark.workload.per_event_topk_queries import (
        _TRUNC_DOM,
        _TRUNC_K,
        _TRUNC_MOD,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT event_type, CAST(user_id % {_TRUNC_DOM} AS VARCHAR)
        FROM '{sf_dir}/events.parquet'
        WHERE event_id % {_TRUNC_MOD} = 0 ORDER BY ts, event_id
        """
    ).fetchall()
    state: dict[str, dict[str, int]] = {}
    evictions = 0
    restarted = False
    evicted_seen: set[tuple[str, str]] = set()
    for rid, item in rows:
        items = state.setdefault(rid, {})
        if (rid, item) in evicted_seen:
            restarted = True
        items[item] = items.get(item, 0) + 1
        ranked = sorted(items.items(), key=lambda kv: (-kv[1], kv[0]))[:_TRUNC_K]
        kept = dict(ranked)
        for gone in set(items) - set(kept):
            evictions += 1
            evicted_seen.add((rid, gone))
        state[rid] = kept
    assert evictions >= 5, evictions
    assert restarted, "no evicted item ever returned — regime too gentle"
