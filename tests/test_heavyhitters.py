"""Misra-Gries heavy hitters (workload/heavyhitter_queries.py) — the sketch
guarantee itself, adversarially, plus the distributed two-pass contract.

The registered query's DuckDB oracle already proves end-to-end exactness on
the fixture; these tests attack the part the fixture can't: random weighted
streams where the heavy/light margin is thin, arbitrary partition splits,
and the bounded-summary invariant."""

from __future__ import annotations

import random

import pandas as pd
import pyspark.sql.functions as F

from topk_spark.ops.mg_sketch import mg_summarize
from topk_spark.workload.heavyhitter_queries import _CAP, heavy_hitters_weighted


def _mg_union(stream, n_parts, cap, batch=97):
    """Run mg_summarize over `stream` split round-robin into n_parts
    partitions (each fed as multiple small pandas batches, exercising the
    prune path repeatedly); return the union of the partition summaries."""
    union: set[int] = set()
    for p in range(n_parts):
        rows = stream[p::n_parts]
        batches = [
            pd.DataFrame(
                {"cohort": [k for k, _ in rows[i : i + batch]],
                 "w": [w for _, w in rows[i : i + batch]]}
            )
            for i in range(0, len(rows), batch)
        ]
        (summary,) = list(mg_summarize(iter(batches), cap=cap))
        assert len(summary) <= cap, "summary exceeded its capacity bound"
        union.update(int(c) for c in summary["cohort"])
    return union


def test_mg_no_false_negatives_random_streams():
    """Published guarantee under test: every key whose true total weight
    exceeds W/(cap+1) must appear in the union of per-partition summaries
    (pigeonhole over the per-partition W_p/(cap+1) bounds), for random
    weighted streams over a key domain ~8x the capacity and every
    partitioning. 40 trials x 3 partitionings, seeded."""
    rng = random.Random(0xFEED)
    cap = 15
    for _ in range(40):
        domain = rng.randrange(40, 8 * cap)
        stream = [
            (rng.randrange(domain), rng.choice((1, 1, 1, 2, 3, 7, 20)))
            for _ in range(rng.randrange(500, 3000))
        ]
        totals: dict[int, int] = {}
        for k, w in stream:
            totals[k] = totals.get(k, 0) + w
        w_total = sum(totals.values())
        heavy = {k for k, v in totals.items() if v > w_total / (cap + 1)}
        for n_parts in (1, 4, 13):
            union = _mg_union(stream, n_parts, cap)
            missed = heavy - union
            assert not missed, (
                f"MG dropped heavy keys {missed} (domain={domain}, "
                f"parts={n_parts}, W={w_total})"
            )


def test_mg_residual_never_exceeds_true_weight():
    """MG counters only undercount: residual estimate <= true weight for
    every surviving key (prunes subtract, never add)."""
    rng = random.Random(7)
    stream = [(rng.randrange(100), rng.randrange(1, 9)) for _ in range(4000)]
    totals: dict[int, int] = {}
    for k, w in stream:
        totals[k] = totals.get(k, 0) + w
    batches = [
        pd.DataFrame(
            {"cohort": [k for k, _ in stream[i : i + 111]],
             "w": [w for _, w in stream[i : i + 111]]}
        )
        for i in range(0, len(stream), 111)
    ]
    (summary,) = list(mg_summarize(iter(batches), cap=20))
    for k, est in zip(summary["cohort"], summary["est"]):
        assert 0 < est <= totals[int(k)]


def test_two_pass_exactness_repartition_invariant(spark):
    """End-to-end on a planted-skew DataFrame: the two-pass result equals
    the exact groupBy answer and is IDENTICAL across partition counts
    (candidate sets may differ per split; the rescore may not)."""
    rng = random.Random(42)
    rows = [(rng.randrange(200), 1) for _ in range(6000)]
    rows += [(7, 5) for _ in range(300)] + [(123, 4) for _ in range(400)]
    rng.shuffle(rows)
    expected = None
    for n_parts in (1, 5, 32):
        df = spark.createDataFrame(rows, "cohort long, w long").repartition(n_parts)
        got = sorted(
            (r.cohort, r.total_w)
            for r in heavy_hitters_weighted(df).collect()
        )
        if expected is None:
            w_total = sum(w for _, w in rows)
            thresh = w_total // (_CAP + 1) + 1
            totals: dict[int, int] = {}
            for k, w in rows:
                totals[k] = totals.get(k, 0) + w
            expected = sorted(
                (k, v) for k, v in totals.items() if v >= thresh
            )
            assert {7, 123} <= {k for k, _ in expected}, "skew plant too weak"
        assert got == expected, f"mismatch at {n_parts} partitions"


def test_interval_join_drain_emits_cross_batch_pairs(spark, sf_dir):
    """The load-bearing claim of stream_interval_join_drain: some pairs'
    legs arrive in DIFFERENT micro-batches, and those pairs are emitted in
    the later leg's batch — i.e. join state survived across batches. Also
    pins emit_batch == the purchase's tercile (the later leg under the
    ts-ordered replay)."""
    from topk_spark.workload.streaming_join_queries import (
        stream_interval_join_drain,
    )

    out = stream_interval_join_drain(spark, sf_dir).collect()
    assert out, "drain produced no pairs"
    from topk_spark.io.sources import load_table
    from topk_spark.workload.drain import range_tile

    e = range_tile(
        load_table(spark, sf_dir, "events").filter(
            F.col("event_type").isin("view", "purchase")
        ),
        "ts",
        3,
    ).withColumnRenamed("_tile", "tile")
    tile_of = {r.event_id: r.tile for r in e.select("event_id", "tile").collect()}
    cross = [r for r in out if tile_of[r.view_id] < tile_of[r.purchase_id]]
    assert cross, "no cross-batch pairs — join state continuity untested"
    for r in out:
        assert r.emit_batch == tile_of[r.purchase_id]


def test_leftouter_drain_outer_emission_discipline(spark, sf_dir):
    """The outer join's three-way partition of views must be real: (a) some
    null-joined rows emitted (state expired unmatched), (b) every null row's
    emit_batch is strictly AFTER the view's arrival batch (outer results
    wait for the watermark — a batch-local outer join would emit them in
    the arrival batch), and (c) some unmatched views are entirely absent
    (still inside the join window at end-of-stream; flushing them would be
    wrong). Matched pairs must equal the inner drain's exactly."""
    from topk_spark.workload.streaming_join_queries import (
        stream_interval_join_drain,
        stream_leftouter_join_drain,
    )

    out = stream_leftouter_join_drain(spark, sf_dir).collect()
    nulls = [r for r in out if r.purchase_id is None]
    matched = {(r.view_id, r.purchase_id) for r in out} - {
        (r.view_id, None) for r in nulls
    }
    assert nulls, "no outer rows — watermark never expired any view state"
    from topk_spark.io.sources import load_table
    from topk_spark.workload.drain import range_tile

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    tiles = {
        r.event_id: r.tile
        for r in range_tile(e, "ts", 3)
        .withColumnRenamed("_tile", "tile")
        .select("event_id", "tile")
        .collect()
    }
    for r in nulls:
        assert r.emit_batch > tiles[r.view_id], (
            f"outer row for view {r.view_id} emitted in/before arrival batch"
        )
    n_views = e.filter(F.col("event_type") == "view").count()
    emitted_views = {r.view_id for r in out}
    assert len(emitted_views) < n_views, "every view emitted — no live state held back"
    inner = {
        (r.view_id, r.purchase_id)
        for r in stream_interval_join_drain(spark, sf_dir).collect()
    }
    assert matched == inner


def test_mg_merge_composition_bound():
    """The streaming operator's correctness rests on the two-level
    composition: pre-reduce summaries (deficit <= W/(cap+1)) merged into a
    running pruned summary (further deficit <= W/(cap+1)). Any key whose
    TOTAL weight exceeds 2W/(cap+1) must survive the full pipeline, for
    random streams, any (rounds x partitions) split. 30 trials, seeded."""
    from topk_spark.ops.mg_sketch import mg_add, mg_prune

    rng = random.Random(0xC0DE)
    cap = 15
    for _ in range(30):
        domain = rng.randrange(40, 8 * cap)
        stream = [
            (rng.randrange(domain), rng.choice((1, 1, 2, 5, 20)))
            for _ in range(rng.randrange(600, 2500))
        ]
        totals: dict[int, int] = {}
        for k, w in stream:
            totals[k] = totals.get(k, 0) + w
        w_total = sum(totals.values())
        heavy = {k for k, v in totals.items() if v > 2 * w_total / (cap + 1)}
        for rounds, parts in ((3, 1), (3, 4), (5, 7)):
            state: dict[int, int] = {}
            for r in range(rounds):
                chunk = stream[r::rounds]
                for p in range(parts):
                    pre: dict[int, int] = {}
                    mg_add(pre, *zip(*chunk[p::parts])) if chunk[p::parts] else None
                    pre = mg_prune(pre, cap)
                    mg_add(state, list(pre), list(pre.values()))
                    state = mg_prune(state, cap)
            missed = heavy - set(state)
            assert not missed, (
                f"merge pipeline dropped {missed} (rounds={rounds}, "
                f"parts={parts}, W={w_total})"
            )


def test_streaming_mg_continuity_counterfactual(spark, sf_dir):
    """Direct demonstration that stream_heavyhitters_drain's cross-batch
    state is load-bearing on the fixture: cohorts amplified only in
    event-time tercile 0 must ALL be present after the 3-tercile merged
    fold, but a summary holding only tercile-2 counters (the per-batch
    state-reset counterfactual) must be missing at least one of them."""
    from topk_spark.ops.mg_sketch import mg_add, mg_prune

    from topk_spark.io.sources import load_table
    from topk_spark.workload.drain import range_tile

    rows = (
        range_tile(
            load_table(spark, sf_dir, "events").select(
                "ts", (F.col("user_id") % 97).alias("cohort")
            ),
            "ts",
            3,
        )
        .withColumnRenamed("_tile", "tile")
        .collect()
    )
    cap = 63
    heavy = {r.cohort for r in rows if r.cohort % 19 == 0}
    assert heavy, "fixture has no amplified cohorts"

    def weight(r):
        return 20 if r.cohort % 19 == 0 and r.tile == 0 else 1

    merged: dict[int, int] = {}
    for tile in (0, 1, 2):
        pre: dict[int, int] = {}
        chunk = [r for r in rows if r.tile == tile]
        mg_add(pre, [r.cohort for r in chunk], [weight(r) for r in chunk])
        pre = mg_prune(pre, cap)
        mg_add(merged, list(pre), list(pre.values()))
        merged = mg_prune(merged, cap)
    assert heavy <= set(merged), "continuity fold lost a heavy cohort"

    reset_only: dict[int, int] = {}
    chunk = [r for r in rows if r.tile == 2]
    mg_add(reset_only, [r.cohort for r in chunk], [weight(r) for r in chunk])
    reset_only = mg_prune(reset_only, cap)
    n_cohorts = len({r.cohort for r in rows})
    if n_cohorts > cap:
        assert not (heavy <= set(reset_only)), (
            "state-reset counterfactual still held every heavy cohort — "
            "the fixture no longer distinguishes continuity"
        )


def test_streaming_hll_reset_counterfactual(spark, sf_dir):
    """stream_hll_distinct_drain's `ok` bound certifies cross-batch sketch
    continuity only if the counterfactual actually fails: a sketch holding
    tercile-2 data alone (per-batch state reset) must miss the 6.5% bound
    for every event type, because (user, day) buckets never recur across
    terciles."""
    from topk_spark.io.sources import load_table
    from topk_spark.workload.drain import range_tile

    ev = range_tile(
        load_table(spark, sf_dir, "events").select(
            "ts",
            "event_type",
            F.concat_ws(
                ":", F.col("user_id"), F.floor(F.unix_millis("ts") / 86400000)
            ).alias("ud"),
        ),
        "ts",
        3,
    ).withColumnRenamed("_tile", "tile")
    exact = {
        r.event_type: r.x
        for r in ev.groupBy("event_type").agg(F.countDistinct("ud").alias("x")).collect()
    }
    t2 = {
        r.event_type: r.e
        for r in ev.filter(F.col("tile") == 2)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("ud", F.lit(12))).cast("long").alias("e"))
        .collect()
    }
    for etype, x in exact.items():
        assert abs(t2[etype] - x) > 0.065 * x, (
            f"{etype}: tercile-2-only estimate {t2[etype]} within bound of "
            f"{x} — the continuity check is vacuous on this fixture"
        )


def test_stream_percentile_drain_ok_and_reset_counterfactual(spark, sf_dir):
    """(a) The drained GK quantile state passes the 1%-of-span bound for
    every event type; (b) the bound is LOAD-BEARING: the median of the last
    event-time tercile alone (what a per-batch state reset would leave in
    the summary) sits ~33% of the span from the true median — vacuous-check
    insurance, same pattern as the HLL drain's counterfactual."""
    import pyspark.sql.functions as F

    from topk_spark.io.sources import load_table
    from topk_spark.workload import load_all
    from topk_spark.workload.drain import range_tile

    rows = load_all()["stream_percentile_drain"].fn(spark, sf_dir).collect()
    assert rows and all(r.med_ok and r.p95_ok for r in rows)

    ev = range_tile(
        load_table(spark, sf_dir, "events").select(
            "ts", "event_type", F.unix_millis("ts").cast("double").alias("v")
        ),
        "ts",
        3,
    )
    span = ev.agg((F.max("v") - F.min("v")).alias("s")).collect()[0].s
    full = {
        r.event_type: r.m
        for r in ev.groupBy("event_type")
        .agg(F.expr("percentile(v, 0.5)").alias("m"))
        .collect()
    }
    t2 = {
        r.event_type: r.m
        for r in ev.filter(F.col("_tile") == 2)
        .groupBy("event_type")
        .agg(F.expr("percentile(v, 0.5)").alias("m"))
        .collect()
    }
    for etype, m in full.items():
        assert abs(t2[etype] - m) > 10 * 0.01 * span, (
            f"{etype}: tercile-2-only median within 10x the bound — "
            f"the continuity check would be vacuous on this fixture"
        )


def test_streaming_gk_sketch_approximate_regime(spark, tmp_path):
    """The GK summary exercised where it actually COMPRESSES (round-7
    verdict item 3): stream_percentile_drain runs at gate scale with
    accuracy 10,000 over far fewer rows per group, so percentile_approx
    stays in its exact regime and the drain never tests the approximation.
    Here accuracy=50 (rank error bound eps*n = n/50) over n=20,000 distinct
    values per group — 400x the accuracy parameter, so the summary provably
    cannot retain the inputs and must compress — streamed as aggregation
    state across three micro-batches (merges of partial GK summaries in the
    state store, the regime the drain's docstring claims).

    Values are a deterministic bijection of 0..n-1, so rank(v) = v + 1 and
    the Greenwald-Khanna guarantee |rank(returned) - p*n| <= n/accuracy is
    directly checkable per decile. Compression evidence: with ~400x
    compression at least one probed decile must differ from the exact order
    statistic (all nine exact would mean the summary retained full rank
    information)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F

    n = 20_000
    acc = 50
    probes = [i / 10 for i in range(1, 10)]
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    _os.makedirs(src)
    # v = (id * 99991) % n is a bijection on 0..n-1 (gcd(99991, n) = 1), so
    # arrival order is decorrelated from rank; 3 files = 3 micro-batches.
    rows_all = [
        {"k": g, "v": (i * 99991) % n} for i in range(n) for g in (0, 1)
    ]
    m = len(rows_all)
    thirds = [rows_all[: m // 3], rows_all[m // 3 : 2 * m // 3], rows_all[2 * m // 3 :]]
    for b, chunk in enumerate(thirds):
        p = _os.path.join(src, f"f{b}.json")
        with open(p, "w") as fh:
            fh.write("\n".join(_json.dumps(r) for r in chunk))
        _os.utime(p, (1000 + 10 * b, 1000 + 10 * b))

    stream = (
        spark.readStream.schema("k int, v long")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .json(src)
    )
    agg = stream.groupBy("k").agg(
        F.percentile_approx(
            "v", F.array(*[F.lit(p) for p in probes]), F.lit(acc)
        ).alias("qs")
    )
    q = (
        agg.writeStream.foreachBatch(
            lambda df, bid: df.withColumn("_bid", F.lit(int(bid)))
            .write.mode("append")
            .parquet(out)
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.read.parquet(out)
    last = res.agg(F.max("_bid")).collect()[0][0]
    assert last >= 2, "expected 3 micro-batches (state merged across them)"
    final = {r["k"]: list(r["qs"]) for r in res.filter(F.col("_bid") == last).collect()}
    assert set(final) == {0, 1}
    bound = n / acc  # GK rank-error guarantee
    for g, qs in final.items():
        inexact = 0
        for p, v in zip(probes, qs):
            exact_v = -(-p * n // 1) - 1  # ceil(p*n)-th smallest of 0..n-1
            # rank(v) = v + 1; target rank p*n
            assert abs((v + 1) - p * n) <= bound + 1, (
                f"group {g} p={p}: {v} violates the eps*n rank bound {bound}"
            )
            inexact += int(v != exact_v)
        assert inexact >= 1, (
            f"group {g}: all {len(probes)} deciles exactly equal the order "
            f"statistics — summary did not compress; regime is not approximate"
        )


def test_exact_order_statistics_rank_arithmetic():
    """The integer rank formula (n·p + 99) // 100 = ceil(n·p/100) on the
    exact boundaries where float p·n rounding would misplace the rank
    (e.g. 0.9·30: the true product 27 can float to 27.000...004, whose
    ceil is 28). Ties: the order statistic is the value at the rank
    position in value-sorted order, regardless of tie layout."""
    from topk_spark.streaming.exact_quantile import exact_order_statistics

    # n=30, p90 rank = ceil(27.0) = 27 exactly; values 1..30 once each
    n, qs = exact_order_statistics(list(range(1, 31)), [1] * 30, (50, 90, 99))
    assert (n, qs) == (30, [15, 27, 30])

    # heavy ties: 10×[5], 10×[7] — p50 rank=10 → 5, p90 rank=18 → 7
    n, qs = exact_order_statistics([5, 7], [10, 10], (50, 90, 99))
    assert (n, qs) == (20, [5, 7, 7])

    # single value
    n, qs = exact_order_statistics([42], [3], (50, 99))
    assert (n, qs) == (3, [42, 42])

    # p100-equivalent boundary: n=100, p99 rank = 99 (not 100)
    n, qs = exact_order_statistics(list(range(100)), [1] * 100, (99,))
    assert (n, qs) == (100, [98])
