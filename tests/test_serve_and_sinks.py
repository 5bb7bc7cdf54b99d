"""Unit tests: tier router tiling, the trending router, partition pruning
on the daily layout, health."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from topk_spark.serve.router import TierRouter

HOUR = 3_600_000
MIN = 60_000


def _mk_rollup(spark, window_ms, start, end):
    """Synthetic rollup tier: one row per window, order_count=window minutes."""
    n = (end - start) // window_ms
    return spark.range(n).select(
        (F.lit(start) + F.col("id") * window_ms).alias("window_start"),
        (F.lit(start) + (F.col("id") + 1) * window_ms).alias("window_end"),
        (F.lit(window_ms // MIN)).cast("long").alias("order_count"),
    )


def test_router_prefers_coarse_tier_with_fine_edges(spark):
    day0 = 1_704_067_200_000
    r1m = _mk_rollup(spark, MIN, day0, day0 + 6 * HOUR)
    r1h = _mk_rollup(spark, HOUR, day0, day0 + 6 * HOUR)
    router = TierRouter({MIN: r1m, HOUR: r1h})

    # misaligned range: 00:30 → 04:30
    start, end = day0 + 30 * MIN, day0 + 4 * HOUR + 30 * MIN
    plan = router.plan(start, end)
    # middle hours from the 1h tier, both edges from the 1m tier
    sizes = [(t.window_ms, e - s) for t, s, e in plan]
    assert (HOUR, 4 * HOUR - HOUR) in [(w, n) for w, n in sizes] or any(
        w == HOUR for w, _ in sizes
    )
    coarse_span = sum(e - s for t, s, e in plan if t.window_ms == HOUR)
    fine_span = sum(e - s for t, s, e in plan if t.window_ms == MIN)
    assert coarse_span == 3 * HOUR  # 01:00-04:00
    assert fine_span == HOUR  # 00:30-01:00 + 04:00-04:30
    # total minutes covered must equal the direct fine-tier answer
    total = router.scan(start, end).agg(F.sum("order_count")).collect()[0][0]
    assert total == (end - start) // MIN


def test_router_range_inside_one_coarse_window(spark):
    day0 = 1_704_067_200_000
    r1m = _mk_rollup(spark, MIN, day0, day0 + HOUR)
    r1h = _mk_rollup(spark, HOUR, day0, day0 + HOUR)
    router = TierRouter({MIN: r1m, HOUR: r1h})
    start, end = day0 + 10 * MIN, day0 + 25 * MIN
    plan = router.plan(start, end)
    assert all(t.window_ms == MIN for t, _, _ in plan)
    total = router.scan(start, end).agg(F.sum("order_count")).collect()[0][0]
    assert total == 15


def test_tier_router_frontier_clamps_coarse_cover(spark):
    """A coarse tier with a `through_ms` frontier (compaction horizon /
    materializer high-water) covers only its materialized prefix; the
    remainder falls to the fine tier — freshness can cost latency, never
    correctness (round-11 VERDICT #2/#3: the clamp is how a mixed
    fine/compacted ladder and a lagging materializer both stay exact)."""
    from topk_spark.serve.router import TierSpec

    day0 = 1_704_067_200_000
    r1m = _mk_rollup(spark, MIN, day0, day0 + 6 * HOUR)
    # hourly tier exists ONLY through hour 3 (compacted through C)
    c = day0 + 3 * HOUR
    r1h = _mk_rollup(spark, HOUR, day0, c)
    router = TierRouter(
        {MIN: r1m, HOUR: TierSpec(df=r1h, window_ms=HOUR, through_ms=c)}
    )
    # aligned 5-hour range straddling the horizon: hours 0-3 from the
    # coarse tier, 3-5 from the fine tier
    start, end = day0, day0 + 5 * HOUR
    plan = router.plan(start, end)
    coarse = [(s, e) for t, s, e in plan if t.window_ms == HOUR]
    fine = [(s, e) for t, s, e in plan if t.window_ms == MIN]
    assert coarse == [(day0, c)]
    assert fine == [(c, end)]
    total = router.scan(start, end).agg(F.sum("order_count")).collect()[0][0]
    assert total == (end - start) // MIN
    # range entirely past the frontier → fine tier only
    plan2 = router.plan(c, end)
    assert all(t.window_ms == MIN for t, _, _ in plan2)
    # frontier mid-window floors to the tier's alignment
    router3 = TierRouter(
        {MIN: r1m,
         HOUR: TierSpec(df=r1h, window_ms=HOUR, through_ms=c + 30 * MIN)}
    )
    coarse3 = [(s, e) for t, s, e in router3.plan(start, end)
               if t.window_ms == HOUR]
    assert coarse3 == [(day0, c)]


def test_tier_router_frontier_dir_refreshes_per_plan(spark, tmp_path):
    """A TierSpec carrying `frontier_dir` re-reads the committed upto_<W>
    frontier at every plan() (round-12 VERDICT #3): a router built once
    follows the compactor as it advances — the coarse cover grows with
    each committed subdir, with no router rebuild and no Spark action for
    the refresh. Torn subdirs (no _SUCCESS) must not advance the plan."""
    import os

    from topk_spark.io.tier import append_upto
    from topk_spark.serve.router import TierSpec

    day0 = 1_704_067_200_000
    r1m = _mk_rollup(spark, MIN, day0, day0 + 6 * HOUR)
    coarse_dir = str(tmp_path / "coarse")
    append_upto(
        _mk_rollup(spark, HOUR, day0, day0 + 2 * HOUR), coarse_dir, day0 + 2 * HOUR
    )
    router = TierRouter(
        {MIN: r1m,
         HOUR: TierSpec(df=_mk_rollup(spark, HOUR, day0, day0 + 6 * HOUR),
                        window_ms=HOUR, frontier_dir=coarse_dir)}
    )
    start, end = day0, day0 + 5 * HOUR

    def coarse_cover():
        return [(s, e) for t, s, e in router.plan(start, end)
                if t.window_ms == HOUR]

    assert coarse_cover() == [(day0, day0 + 2 * HOUR)]
    # the compactor advances: one more committed subdir, same router
    append_upto(
        _mk_rollup(spark, HOUR, day0 + 2 * HOUR, day0 + 4 * HOUR),
        coarse_dir, day0 + 4 * HOUR,
    )
    assert coarse_cover() == [(day0, day0 + 4 * HOUR)]
    # a torn write (no _SUCCESS) must NOT advance the frontier
    os.makedirs(os.path.join(coarse_dir, f"upto_{day0 + 5 * HOUR}"))
    assert coarse_cover() == [(day0, day0 + 4 * HOUR)]
    # scans stay exact across the refreshes
    total = router.scan(start, end).agg(F.sum("order_count")).collect()[0][0]
    assert total == (end - start) // MIN


def test_tier_router_partition_prunes_from_spec(spark, tmp_path):
    """Runtime-pruning pin for TierRouter (the round-11 TrendingRouter
    lesson generalized): a TierSpec carrying the partition layout makes
    router.scan derive the bucket predicates — PartitionFilters in the
    plan, and only the touched day directories actually read."""
    from topk_spark.serve.router import TierSpec

    day0 = 1_704_067_200_000
    day = 24 * HOUR
    fine = _mk_rollup(spark, MIN, day0, day0 + 10 * day).withColumn(
        "db", (F.col("window_start") / F.lit(day)).cast("long")
    )
    path = str(tmp_path / "fine_tier")
    fine.repartition("db").write.partitionBy("db").parquet(path)
    tier = spark.read.parquet(path)
    router = TierRouter(
        {MIN: TierSpec(df=tier, window_ms=MIN, partition_col="db",
                       partition_ms=day)}
    )
    start, end = day0 + 3 * day + 30 * MIN, day0 + 4 * day + 30 * MIN
    df = router.scan(start, end)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "db" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan
    touched = {
        f["f"].rsplit("/", 2)[1]
        for f in df.withColumn("f", F.input_file_name())
        .select("f").distinct().collect()
    }
    want = {f"db={day0 // day + 3}", f"db={day0 // day + 4}"}
    assert touched and touched <= want, (touched, want)
    assert df.count() == (end - start) // MIN


def test_trending_router_freshness_and_row_identity(spark):
    """TrendingRouter (round-10 VERDICT next #4): requests whose newest
    contained hop is materialized route to the pre-ranked tier and return
    EXACTLY the rows rank-on-read computes; requests past the tier's
    high-water mark (or deeper than its rank depth) fall back to
    rank-on-read — correctness never waits on the materializer."""
    from topk_spark.serve.api import trending
    from topk_spark.serve.router import TierSpec, TrendingRouter

    day0 = 1_704_067_200_000
    # sliding 5m/1m rollup tier over 3 h, 3 keys with distinct metrics so
    # ranks are deterministic and key-dependent
    n_hops = 3 * 60
    rollup = (
        spark.range(n_hops)
        .select(
            (F.lit(day0) + F.col("id") * MIN).alias("window_start"),
            (F.lit(day0) + F.col("id") * MIN + 5 * MIN).alias("window_end"),
            F.explode(F.array(F.lit("a"), F.lit("b"), F.lit("c"))).alias(
                "event_type"
            ),
            F.col("id").alias("_i"),
        )
        .withColumn(
            "revenue_cents",
            (
                F.col("_i") * 7
                + F.when(F.col("event_type") == "a", 100)
                .when(F.col("event_type") == "b", 200)
                .otherwise((F.col("_i") % 3) * 250)
            ).cast("long"),
        )
        .drop("_i")
    )
    # materialize the pre-ranked tier ONLY through the first 2 h of hop ends
    through = day0 + 2 * HOUR
    preranked = trending(
        rollup, "event_type", "revenue_cents", day0, through, k=3
    )
    router = TrendingRouter(
        TierSpec(df=preranked, window_ms=5 * MIN, through_ms=through),
        rollup, slide_ms=MIN, preranked_k=3,
    )

    fresh = (day0 + 10 * MIN, day0 + 70 * MIN)
    stale = (day0 + 90 * MIN, day0 + 170 * MIN)  # newest hop end past through
    assert router.route(*fresh, k=3) == "preranked"
    assert router.route(*stale, k=3) == "rank_on_read"
    assert router.route(*fresh, k=5) == "rank_on_read"  # depth exceeded
    assert router.route(day0, day0 + MIN - 1, k=3) == "rank_on_read"  # no hop

    # row identity on BOTH paths, same request: callers can't observe the tier
    direct = trending(rollup, "event_type", "revenue_cents", *fresh, k=3)
    via_router = router.read(*fresh, k=3)
    assert via_router.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_router).count() == 0
    assert direct.count() > 0
    # fallback path answers the stale request identically to rank-on-read
    fb = router.read(*stale, k=3)
    fb_direct = trending(rollup, "event_type", "revenue_cents", *stale, k=3)
    assert fb.exceptAll(fb_direct).count() == 0
    assert fb_direct.exceptAll(fb).count() == 0

    # hour-bucket layout: with the partition column in the TierSpec, the
    # pruned fast path must return exactly the same rows (the hb predicates
    # are a superset of containment, never a filter change)
    pr_hb = preranked.withColumn(
        "hb", (F.col("window_start") / F.lit(HOUR)).cast("long")
    )
    router_hb = TrendingRouter(
        TierSpec(df=pr_hb, window_ms=5 * MIN, partition_col="hb",
                 partition_ms=HOUR, through_ms=through),
        rollup, slide_ms=MIN, preranked_k=3,
    )
    assert router_hb.route(*fresh, k=3) == "preranked"
    via_hb = router_hb.read(*fresh, k=3)
    assert via_hb.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_hb).count() == 0


def test_partition_pruning_on_date(spark, tmp_path):
    """§4.1: a date-partitioned write + date filter must prune at the
    FileSourceScan (PartitionFilters), i.e. the range-index effect — a
    time-range query's cost is proportional to the range, not the table."""
    import re

    from topk_spark.ops.layout import write_partitioned_daily

    df = spark.createDataFrame(
        [(f"E{i}", f"2024-01-{1 + i % 9:02d} 12:00:00", i) for i in range(200)],
        "event_id string, ts string, v int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "daily")
    write_partitioned_daily(df, path)
    rd = spark.read.parquet(path).filter(F.col("event_date") == "2024-01-03")
    plan = rd._jdf.queryExecution().executedPlan().toString()
    # physical proof: only the one matching partition's files are scanned
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1)
    assert rd.count() == len([i for i in range(200) if i % 9 == 2])
    # and a value filter on a data column is pushed to parquet
    rd2 = spark.read.parquet(path).filter(F.col("event_id") == "E7")
    plan2 = rd2._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(event_id), EqualTo(event_id,E7)]" in plan2


def test_health(spark):
    from topk_spark.serve.api import health

    out = health(spark)
    assert out["status"] == "healthy"
    assert out["spark_version"]


def test_trending_containment_rank_and_tiebreak(spark):
    """serve.api.trending over a hand-built sliding tier: closed
    containment keeps only hop windows FULLY inside [start, end] (a window
    straddling either edge is excluded even if it overlaps), rank is
    per-window 1..k with the deterministic (metric desc, key asc)
    tie-break, and k cuts below ties consistently."""
    from topk_spark.serve.api import trending

    m = 60_000
    rows = [
        # window [0, 5m): 4 keys, a/b tie at 100
        (0, 5 * m, "b", 100), (0, 5 * m, "a", 100),
        (0, 5 * m, "c", 50), (0, 5 * m, "d", 10),
        # window [1m, 6m): inside range iff end >= 6m
        (m, 6 * m, "a", 7),
        # window [-1m, 4m): straddles start 0 → excluded for start=0
        (-m, 4 * m, "a", 999),
    ]
    tier = spark.createDataFrame(
        rows, "window_start long, window_end long, event_type string, "
              "revenue_cents long"
    )

    got = trending(tier, "event_type", "revenue_cents", 0, 5 * m, k=3).collect()
    assert [(r.event_type, r.rank) for r in sorted(got, key=lambda r: r.rank)] \
        == [("a", 1), ("b", 2), ("c", 3)]  # tie a/b broken by key asc; d cut

    wide = trending(tier, "event_type", "revenue_cents", 0, 6 * m, k=3).collect()
    by_w = {}
    for r in wide:
        by_w.setdefault(r.window_start, []).append(r)
    assert set(by_w) == {0, m}  # straddling [-1m,4m) still excluded
    assert [(r.event_type, r.rank) for r in by_w[m]] == [("a", 1)]


def test_trending_router_fast_path_partition_prunes(spark, tmp_path):
    """The round-11 measured lesson, pinned at the plan level: on an
    hour-bucket-partitioned pre-ranked tier, the router's fast path must
    push the hb predicates into PartitionFilters (without them the
    'fast' path scanned all ~720 hour directories and measured ~5x slower
    than rank-on-read — bench run 1). The layout now travels IN the
    TierSpec (round-11 VERDICT #4), so the predicates are derived by the
    router, never caller-remembered. Asserts both the pruned file count
    and the PartitionFilters clause."""
    from topk_spark.serve.router import TierSpec, TrendingRouter

    day0 = 1_704_067_200_000
    n_hours = 48
    pre = (
        spark.range(n_hours * 60)
        .select(
            (F.lit(day0) + F.col("id") * MIN).alias("window_start"),
            (F.lit(day0) + F.col("id") * MIN + 5 * MIN).alias("window_end"),
            F.lit("a").alias("event_type"),
            (F.col("id") * 7).cast("long").alias("revenue_cents"),
            F.lit(1).cast("int").alias("rank"),
        )
        .withColumn("hb", (F.col("window_start") / F.lit(HOUR)).cast("long"))
    )
    path = str(tmp_path / "preranked")
    pre.repartition("hb").write.partitionBy("hb").parquet(path)
    tier = spark.read.parquet(path)

    router = TrendingRouter(
        TierSpec(df=tier, window_ms=5 * MIN, partition_col="hb",
                 partition_ms=HOUR, through_ms=day0 + n_hours * HOUR),
        tier, slide_ms=MIN, preranked_k=3,
    )
    with pytest.raises(ValueError):
        TrendingRouter(TierSpec(df=tier, window_ms=5 * MIN), tier)
    rg = (day0 + 10 * HOUR, day0 + 11 * HOUR)
    assert router.route(*rg, k=3) == "preranked"
    df = router.read(*rg, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "hb" in plan.split(
        "PartitionFilters", 1
    )[1][:200], plan
    # runtime proof of pruning (DataFrame.inputFiles ignores pushdown):
    # the rows actually read come from exactly the two hour directories
    # the range can touch, out of 48
    touched = {
        f["f"].rsplit("/", 2)[1]
        for f in df.withColumn("f", F.input_file_name())
        .select("f")
        .distinct()
        .collect()
    }
    want = {f"hb={day0 // HOUR + 9}", f"hb={day0 // HOUR + 10}"}
    assert touched and touched <= want, (touched, want)
