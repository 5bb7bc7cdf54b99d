"""Multi-batch behavior of the streaming drains and the drain harness.

These tests force GENUINELY multi-batch drains (hash-tiled sources, so
arrivals are in no id or time order) and pin what must still hold:
cross-batch state continuity, the `last_per` final-emission guard, the
at-least-once match contract of the near-dup suppressor under arbitrary
arrival order, and the harness's own tile and restart rules."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest

from topk_spark.workload.drain import drain, under_rocksdb
from topk_spark.workload.streaming_drain_queries import order_events


def test_multibatch_topk_drain_accumulates_and_keeps_last_emission(spark, sf_dir):
    """With k ≥ distinct items per key the continuous top-k state never
    truncates, so cross-batch accumulation must reproduce the full batch
    aggregate EXACTLY no matter how arrivals split across micro-batches —
    and each key re-emits in every batch that touches it, so the
    `last_per` max-batch-id guard is doing real filtering here."""
    from topk_spark.streaming.continuous_topk import continuous_topk

    src = order_events(spark, sf_dir)
    tiled = src.withColumn(
        "_tile", F.expr("pmod(hash(restaurant_id, menu_item_id, revenue_cents), 4)")
    )
    drained = drain(
        spark,
        tiled,
        lambda s: continuous_topk(s, k=10_000),
        last_per=["restaurant_id"],
        tiles=4,
    )
    got = sorted(
        (r.restaurant_id, r.menu_item_id, r.order_count,
         r.total_quantity, r.total_revenue_cents)
        for r in drained.collect()
    )
    expect = sorted(
        (r.restaurant_id, r.menu_item_id, r.order_count,
         r.total_quantity, r.total_revenue_cents)
        for r in src.groupBy("restaurant_id", "menu_item_id")
        .agg(
            F.count("*").alias("order_count"),
            F.sum("quantity").cast("long").alias("total_quantity"),
            F.sum("revenue_cents").cast("long").alias("total_revenue_cents"),
        )
        .collect()
    )
    assert got == expect
    # the guard really filtered: raw emissions outnumber final keys
    raw = drain(
        spark,
        tiled,
        lambda s: continuous_topk(s, k=10_000),
        tiles=4,
    )
    assert raw.count() > drained.count()


def test_multibatch_neardup_matches_are_true_pairs_any_arrival_order(
    spark, sf_dir, tmp_path
):
    """Split the corpus across 4 micro-batches in hash (non-id) order:
    canonical election then depends on arrival, so (id, dup_of) may flip
    within a pair — but every emitted UNORDERED match must still be a true
    ≥0.6-Jaccard pair (the estimator cannot invent pairs), and every doc of
    every true pair must be suppressed against its partner (recall holds
    across batch boundaries because state persists)."""
    from topk_spark.io.sources import load_table
    from topk_spark.streaming.neardup import neardup_match_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    drained = drain(
        spark,
        docs.withColumn("_tile", F.expr("pmod(hash(doc_id), 4)")),
        lambda s: neardup_match_stream(s, id_col="doc_id", text_col="text"),
        output_mode="append",
        tiles=4,
    )
    got_edges = {
        frozenset((r.id, r.dup_of))
        for r in drained.select("id", "dup_of").distinct().collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    true_pairs = con.execute("""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(l)-1),
            i -> concat_ws(' ', l[i], l[i+1], l[i+2]))) AS s
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
        FROM documents)
)
SELECT a.doc_id, b.doc_id FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND len(list_intersect(a.s, b.s))::DOUBLE
      / len(list_distinct(list_concat(a.s, b.s)))::DOUBLE >= 0.6
""").fetchall()
    true_edges = {frozenset(p) for p in true_pairs}
    assert true_edges, "fixture should plant near-dup pairs"
    # soundness: nothing invented
    assert got_edges <= _transitive_closure_edges(true_edges)
    # recall: every true pair suppressed one of its endpoints against the other
    # (possibly via the component canonical — accept any edge touching both
    # docs' component)
    matched_docs = {d for e in got_edges for d in e}
    for e in true_edges:
        a, b = tuple(e)
        assert a in matched_docs or b in matched_docs, (a, b)


def _transitive_closure_edges(edges: set[frozenset]) -> set[frozenset]:
    """All intra-component unordered pairs — the widest legitimate match
    set (a doc may be reported against any canonical of its component)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for e in edges:
        a, b = tuple(e)
        parent[find(a)] = find(b)
    comps: dict[int, list[int]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    out: set[frozenset] = set()
    for members in comps.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                out.add(frozenset((a, b)))
    return out


def test_under_rocksdb_restores_provider_conf(spark):
    """The RocksDB drain variants flip the state-store conf for the drain
    and must leave a driver-owned session exactly as found — both when a
    previous value existed and when the conf was unset."""
    from topk_spark.session import _STATE_STORE_CONF, set_state_store

    sentinel = spark.createDataFrame([(1,)], "x int")

    def probe():
        # conf must be rocksdb DURING the drain body
        return spark.conf.get(_STATE_STORE_CONF)

    try:
        prev = spark.conf.get(_STATE_STORE_CONF)
    except Exception:
        prev = None
    # Mirror the test_restart_continuity store fixture: on a build without
    # the provider, under_rocksdb's documented behavior is fallback — the
    # "conf is rocksdb during the body" half of this test does not apply.
    if not set_state_store(spark, "rocksdb"):
        pytest.skip("rocksdb state-store provider unavailable")
    if prev is None:
        spark.conf.unset(_STATE_STORE_CONF)
    else:
        spark.conf.set(_STATE_STORE_CONF, prev)

    during = under_rocksdb(spark, lambda: (probe(), sentinel)[0])
    assert "RocksDB" in during
    try:
        after = spark.conf.get(_STATE_STORE_CONF)
    except Exception:
        after = None
    assert after == prev, f"conf not restored: {after!r} vs {prev!r}"

    # with an explicit prior value, that exact value comes back
    spark.conf.set(_STATE_STORE_CONF, "com.example.FakeProvider")
    try:
        under_rocksdb(spark, lambda: None)
        assert spark.conf.get(_STATE_STORE_CONF) == "com.example.FakeProvider"
    finally:
        spark.conf.unset(_STATE_STORE_CONF)


def test_drain_restart_requires_ordered_split(spark):
    """restart_after without a tile count has no defined batch schedule —
    drain must refuse rather than produce an un-oracle-able drain."""
    df = spark.createDataFrame([(1, "a", 0)], "ts long, k string, _tile int")
    with pytest.raises(ValueError, match="requires a tile count"):
        drain(spark, df, lambda s: s, restart_after=1)


def test_drain_tiles_require_tile_column(spark):
    """Under a tile count every source must carry its own `_tile`: one
    without it is rejected before anything is written."""
    tiled = spark.createDataFrame([(1, 0)], "x int, _tile int")
    bare = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="_tile"):
        drain(spark, bare, lambda s: s, tiles=1)
    with pytest.raises(ValueError, match="_tile"):
        drain(spark, (tiled, bare), lambda a, b: a.unionByName(b), tiles=1)


def test_two_source_drain_shares_one_arrival_timeline(spark):
    """Multi-source drains replay tile i of EVERY source in micro-batch i
    (the shared timeline the join drains' emit-batch oracles rely on)."""
    n = 3
    left = spark.createDataFrame(
        [(i, "L", i % n) for i in range(12)], "x int, side string, _tile int"
    )
    right = spark.createDataFrame(
        [(i, "R", (i // 2) % n) for i in range(10)], "x int, side string, _tile int"
    )
    drained = drain(
        spark,
        (left.withColumn("t", F.col("_tile")), right.withColumn("t", F.col("_tile"))),
        lambda a, b: a.unionByName(b),
        output_mode="append",
        tiles=n,
        keep_bid=True,
    )
    rows = drained.collect()
    assert len(rows) == 22
    assert {(r.side, r.t, r._bid) for r in rows} == {
        (side, t, t) for side in "LR" for t in range(n)
    }


def test_compacted_tier_drain_reads_both_tiers_and_matches_fine_only(
    spark, sf_dir
):
    """Provenance pin for the live-compaction composition (round-11 VERDICT
    #2): the value hash proves the routed read is LOSSLESS, but not that it
    actually ANSWERED from the mixed ladder — so assert, via
    input_file_name over the router's scan, that rows come from BOTH the
    coarse tier (hours <= C) and the fine tier (edges + the post-horizon
    tail), that the compaction frontier C sits a buffer behind the fine
    frontier W, and that the routed answer equals the fine-tier-only
    derivation of the same range."""
    import pyspark.sql.functions as F

    from topk_spark.io.tier import read_tier, tier_frontier
    from topk_spark.serve.api import percentiles
    from topk_spark.serve.router import TierRouter, TierSpec
    from topk_spark.workload.heavyhitter_queries import (
        _COMPACT_BUFFER_MS,
        _FINE_RETAIN_MS,
        _HOUR_MS,
        _compacted_percentile_tier_drain,
    )

    dirs: list[str] = []
    routed = _compacted_percentile_tier_drain(spark, sf_dir, _debug_dirs=dirs)
    fine_dir, coarse_dir = dirs
    w = tier_frontier(fine_dir)
    c = tier_frontier(coarse_dir)
    assert c == (w - _COMPACT_BUFFER_MS) // _HOUR_MS * _HOUR_MS

    # Round-13 purge gate (round-12 VERDICT #1): compacted fine subdirs are
    # physically GONE — every surviving upto_<W> sits above the purge cut
    # C − retain. Retention is subdir-granular (a surviving subdir keeps
    # whatever older rows it carried), so in steady state (batch span ≪
    # buffer) fine storage is bounded by ~(buffer + retain) of event time;
    # here the 30-day fixture closes ~10 days per batch and batches 1 and 2
    # must be gone, where the pre-purge form kept every subdir forever.
    import os as _os

    cut = c - _FINE_RETAIN_MS
    surviving = [
        int(d.rsplit("_", 1)[1])
        for d in _os.listdir(fine_dir)
        if d.startswith("upto_")
    ]
    assert surviving and min(surviving) > cut, (cut, sorted(surviving))

    schema = (
        "event_type string, revenue_cents long, window_start long, "
        "window_end long, n long"
    )
    fine = read_tier(spark, fine_dir, schema)
    coarse = read_tier(spark, coarse_dir, schema)
    router = TierRouter(
        {
            _HOUR_MS: TierSpec(df=coarse, window_ms=_HOUR_MS, through_ms=c),
            60_000: TierSpec(df=fine, window_ms=60_000),
        }
    )
    r0, r1 = c - 9_000_000, c + 5_400_000
    scan = router.scan(r0, r1)
    srcs = {
        "fine" if "/fine/" in f["f"] else "coarse"
        for f in scan.withColumn("f", F.input_file_name())
        .select("f").distinct().collect()
    }
    assert srcs == {"fine", "coarse"}, srcs
    # coarse rows serve exactly the aligned middle clamped at C
    plan = router.plan(r0, r1)
    coarse_segs = [(s, e) for t, s, e in plan if t.window_ms == _HOUR_MS]
    assert coarse_segs == [(c - 7_200_000, c)]
    # routed == fine-only (compaction is pure re-bucketing)
    fine_only = percentiles(
        fine, key_col="event_type", value_col="revenue_cents",
        count_col="n", pcts=(50, 90, 99), start_ms=r0, end_ms=r1,
    )
    a = sorted(map(tuple, routed.collect()))
    b = sorted(map(tuple, fine_only.collect()))
    assert a == b and len(a) > 0


def test_retention_drain_drops_expired_segments_and_clamps_reads(
    spark, sf_dir
):
    """Provenance pin for ladder retention (round-13; reference
    retentionTimeValue, orders_1m_rollup_table.json:7-9): the value hash
    proves the retained read's counts, but not that expired segments are
    physically GONE or that the clamp (not luck of the purge) excludes the
    expired rows a straddling segment still holds — so assert all three
    legs directly: (1) coarse segments wholly <= R are deleted (on the
    fixture's 3-batch schedule that is 2 of 3 — only the newest survives a
    7 d cut over a 30 d span); (2) the retention-clamped scan of a
    straddling range plans NOTHING below R even though the surviving
    straddler still physically carries pre-R hours (an unclamped router
    over the same tiers DOES read them — proving the clamp is load-bearing,
    not vacuous); (3) a range wholly expired answers empty, not stale."""
    import os as _os

    import pyspark.sql.functions as F

    from topk_spark.io.tier import read_tier, tier_frontier
    from topk_spark.serve.router import TierRouter, TierSpec
    from topk_spark.workload.heavyhitter_queries import (
        _HOUR_MS,
        _LADDER_RETENTION_MS,
        _compacted_percentile_tier_drain,
    )

    dirs: list[str] = []
    routed = _compacted_percentile_tier_drain(
        spark, sf_dir, retention_ms=_LADDER_RETENTION_MS, _debug_dirs=dirs
    )
    fine_dir, coarse_dir = dirs
    w = tier_frontier(fine_dir)
    r_cut = (w - _LADDER_RETENTION_MS) // _HOUR_MS * _HOUR_MS

    surviving = sorted(
        int(d.rsplit("_", 1)[1])
        for d in _os.listdir(coarse_dir)
        if d.startswith("upto_")
    )
    assert surviving and min(surviving) > r_cut, (r_cut, surviving)
    assert len(surviving) == 1, surviving  # batches 1 and 2 wholly expired

    schema = (
        "event_type string, revenue_cents long, window_start long, "
        "window_end long, n long"
    )
    fine = read_tier(spark, fine_dir, schema)
    coarse = read_tier(spark, coarse_dir, schema)
    c = tier_frontier(coarse_dir)
    tiers = {
        _HOUR_MS: TierSpec(df=coarse, window_ms=_HOUR_MS, through_ms=c),
        60_000: TierSpec(df=fine, window_ms=60_000),
    }
    r0, r1 = r_cut - 2 * _HOUR_MS, r_cut + 4 * _HOUR_MS
    clamped = TierRouter(tiers, retain_from_ms=r_cut).scan(r0, r1)
    assert clamped.filter(F.col("window_start") < r_cut).count() == 0
    # the straddling segment still holds pre-R hours on disk: without the
    # clamp the same range DOES surface them
    leaked = (
        TierRouter(tiers)
        .scan(r0, r1)
        .filter(F.col("window_start") < r_cut)
        .count()
    )
    assert leaked > 0, "fixture no longer straddles the retention horizon"
    # a wholly-expired range answers empty (scan's fallback is clamped too)
    assert TierRouter(tiers, retain_from_ms=r_cut).scan(
        r_cut - 4 * _HOUR_MS, r_cut
    ).count() == 0
    assert routed.count() > 0
