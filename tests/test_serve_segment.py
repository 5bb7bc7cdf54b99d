"""The hot top-K segment (serve/segment.py) behind the three reference
routes: a seeded property test that every response body equals the Spark
facade's byte for byte and names the path that answered in X-TopK-Route,
plus one test per fallback rule (each must answer from Spark)."""

from __future__ import annotations

import random
import sys
import threading

import pytest

flask = pytest.importorskip("flask")

from topk_spark.serve import api, segment  # noqa: E402
from topk_spark.serve.http import create_app  # noqa: E402

MIN = 60_000
HOUR = 60 * MIN
BASE = 1_704_067_200_000  # 2024-01-01T00:00:00Z
HOT = BASE + 30 * HOUR  # recent windows start here; BASE..BASE+1h is cold
NEWEST = HOT + 89 * MIN
CUTOFF = NEWEST - segment.HOT_SPAN_MS
SCHEMA = (
    "restaurant_id string, menu_item_id string, menu_item_name string, "
    "window_start long, window_end long, order_count long, "
    "sum_quantity long, sum_revenue_cents long"
)
NAMES = ["Pad Thai", "pad thai", "Ωmega bowl", "Éclair", "Z", "a"]


def _rows(seed: int = 3) -> list[tuple]:
    """Small integer metrics so order_count and revenue sums tie often; an
    item's name varies by window so min(menu_item_name) matters. R3 has
    only cold windows. TA and TB (R0) tie on count and revenue and differ
    only in their last window_end."""
    rng = random.Random(seed)
    rows = []
    for start in [BASE + m * MIN for m in range(60)] + [HOT + m * MIN for m in range(90)]:
        for r in range(4):
            if r == 3 and start >= HOT:
                continue
            for i in range(6):
                if rng.random() < 0.35:
                    rows.append((
                        f"R{r}", f"I{i}", rng.choice(NAMES[i:i + 2]),
                        start, start + MIN, rng.randint(1, 3),
                        rng.randint(1, 4), rng.choice((100, 200, 300)),
                    ))
    rows.append(("R0", "TA", "ta", HOT + 10 * MIN, HOT + 11 * MIN, 2, 1, 500))
    rows.append(("R0", "TB", "tb", HOT + 20 * MIN, HOT + 21 * MIN, 2, 1, 500))
    return rows


@pytest.fixture(scope="module")
def tier(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("segment") / "tier")
    spark.createDataFrame(_rows(), SCHEMA).write.parquet(path)
    return spark.read.parquet(path)


def _client(spark, rollup):
    app = create_app(spark, rollup)
    app.config["TESTING"] = True
    return app, app.test_client()


def _facade(rollup, rid: str, revenue: bool, start: int, end: int, k: int):
    if revenue:
        df = api.topk_by_revenue(rollup, rid, start, end, k)
    elif rid == "all":
        df = api.topk_global(rollup, start, end, k)
    else:
        df = api.topk_for_restaurant(rollup, rid, start, end, k)
    return [r.asDict() for r in df.collect()]


def _get(client, rid: str, revenue: bool, start: int, end: int, k: int):
    path = f"/api/v1/restaurants/{rid}/topk" + ("/revenue" if revenue else "")
    return client.get(path, query_string={"start_time": start, "end_time": end, "k": k})


def _expected_body(app, rid, revenue, start, end, k, items) -> bytes:
    # /all/topk echoes the sentinel; the revenue route the raw segment
    echo = "ALL" if rid == "all" and not revenue else rid
    with app.app_context():
        return flask.jsonify({"restaurantId": echo, "startTime": start,
                              "endTime": end, "k": k, "items": items}).get_data()


def _assert_same(app, client, rollup, rid, revenue, start, end, k, route):
    r = _get(client, rid, revenue, start, end, k)
    assert r.status_code == 200, r.data
    assert r.headers["X-TopK-Route"] == route, (rid, revenue, start, end, k)
    items = _facade(rollup, rid, revenue, start, end, k)
    assert r.data == _expected_body(app, rid, revenue, start, end, k, items), (
        rid, revenue, start, end, k)
    return r.get_json()["items"]


def test_segment_matches_spark_path_byte_for_byte(spark, tier):
    app, client = _client(spark, tier)
    rng = random.Random(11)
    hot_bounds = [HOT + m * MIN for m in range(0, 91)]
    cold_bounds = [BASE + m * MIN for m in range(0, 61)]
    routes = {"segment": 0, "spark": 0}
    for _ in range(200):
        revenue = rng.random() < 0.4
        rid = rng.choice(
            ["R0", "R1", "R2", "R3", "R9", "ALL", "all"] + (["All"] if revenue else [])
        )
        shape = rng.random()
        if shape < 0.15:  # starts before the cutoff
            start = rng.choice(cold_bounds)
            end = rng.choice(cold_bounds[1:] + hot_bounds)
        elif shape < 0.22:  # inverted
            end = rng.choice(hot_bounds)
            start = end + rng.choice((1, 5 * MIN))
        elif shape < 0.27:  # empty: after the newest window
            start = NEWEST + MIN
            end = start + HOUR
        else:
            start, end = sorted(rng.sample(hot_bounds, 2))
        k = rng.choice((0, 1, 3, 50, rng.randint(1, 8)))
        route = "segment" if start >= CUTOFF else "spark"
        routes[route] += 1
        _assert_same(app, client, tier, rid, revenue, start, end, k, route)
    assert routes["segment"] >= 150 and routes["spark"] >= 25, routes


WIDE = BASE + 40 * HOUR  # a separate tier: 6 hot hours from here


def _wide_rows(seed: int = 5) -> list[tuple]:
    """Six hours of 1- and 5-minute windows, some crossing an hour edge,
    for three restaurants."""
    rng = random.Random(seed)
    rows = []
    for m in range(6 * 60):
        start = WIDE + m * MIN
        for r in range(3):
            for i in range(5):
                if rng.random() < 0.25:
                    length = 5 if rng.random() < 0.2 else 1
                    rows.append((
                        f"R{r}", f"I{i}", rng.choice(NAMES[i:i + 2]),
                        start, start + length * MIN, rng.randint(1, 3),
                        rng.randint(1, 4), rng.choice((100, 200, 300)),
                    ))
    return rows


@pytest.fixture(scope="module")
def wide_tier(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("segment") / "wide")
    spark.createDataFrame(_wide_rows(), SCHEMA).write.parquet(path)
    return spark.read.parquet(path)


def test_segment_matches_spark_on_ranges_across_hours(spark, wide_tier):
    """Bounds off minute boundaries, ranges holding and crossing hour
    edges, against the Spark facade byte for byte."""
    app, client = _client(spark, wide_tier)
    rng = random.Random(12)
    crossed = 0
    for _ in range(100):
        start = WIDE + rng.randrange(-30 * MIN, 6 * HOUR)
        end = start + rng.randrange(-5 * MIN, 4 * HOUR)
        if rng.random() < 0.2:  # one bound on an hour edge
            start = start - start % HOUR
        crossed += end // HOUR - -(-start // HOUR) >= 1  # holds a whole hour
        revenue = rng.random() < 0.4
        rid = rng.choice(["R0", "R1", "R2", "R9", "all"])
        k = rng.choice((0, 1, 3, 50, rng.randint(1, 6)))
        _assert_same(app, client, wide_tier, rid, revenue, start, end, k, "segment")
    assert crossed >= 40, crossed


def test_segment_breaks_ties_like_spark(spark, tier):
    app, client = _client(spark, tier)
    start, end = HOT + 10 * MIN, HOT + 21 * MIN
    by_count = _assert_same(app, client, tier, "R0", False, start, end, 50, "segment")
    by_rev = _assert_same(app, client, tier, "R0", True, start, end, 50, "segment")
    ids = lambda items: [i["menu_item_id"] for i in items if i["menu_item_id"] in ("TA", "TB")]  # noqa: E731
    assert ids(by_count) == ["TA", "TB"]  # order_count tie: menu_item_id asc
    assert ids(by_rev) == ["TB", "TA"]  # revenue tie: later window_end first
    assert [i["rank"] for i in by_rev] == list(range(1, len(by_rev) + 1))


def test_k_outside_int_range_goes_to_spark(spark, tier):
    app, client = _client(spark, tier)
    for k in (-1, 2**31):
        _assert_same(app, client, tier, "R0", False, HOT, NEWEST + MIN, k, "spark")
    # the global route's negative limit still fails inside Spark
    assert _get(client, "all", False, HOT, NEWEST + MIN, -1).status_code == 500
    # an end_time past the long range is Spark's to answer (or reject)
    r = _get(client, "R0", False, HOT, 2**64, 3)
    assert r.headers.get("X-TopK-Route") != "segment", r.data


def test_memory_sink_tier_goes_to_spark(spark, tier):
    q = (
        spark.readStream.schema(tier.schema).parquet(tier.inputFiles()[0].rsplit("/", 1)[0])
        .writeStream.format("memory").queryName("segment_memory_tier")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    mem = spark.table("segment_memory_tier")
    assert not segment.is_snapshot(mem)
    app, client = _client(spark, mem)
    _assert_same(app, client, mem, "R1", False, HOT, NEWEST + MIN, 3, "spark")


def _tier_with(spark, extra: list[tuple]):
    """40 hot rows of the property tier plus `extra`."""
    return spark.createDataFrame([r for r in _rows() if r[3] >= HOT][:40] + extra, SCHEMA)


def test_null_key_goes_to_spark(spark):
    rollup = _tier_with(spark, [("R0", None, "x", HOT, HOT + MIN, 1, 1, 100)])
    app, client = _client(spark, rollup)
    _assert_same(app, client, rollup, "R0", False, HOT, NEWEST + MIN, 5, "spark")


def test_non_string_key_goes_to_spark(spark):
    schema = SCHEMA.replace("menu_item_id string", "menu_item_id long")
    rollup = spark.createDataFrame([("R0", 7, "x", HOT, HOT + MIN, 1, 1, 100)], schema)
    app, client = _client(spark, rollup)
    _assert_same(app, client, rollup, "R0", False, HOT, HOT + MIN, 5, "spark")


def test_overflow_guard_goes_to_spark(spark):
    big = 2**62
    rollup = _tier_with(spark, [
        ("R0", "X", "x", HOT, HOT + MIN, big, 1, 100),
        ("R0", "X", "x", HOT + MIN, HOT + 2 * MIN, big, 1, 100),
    ])
    app, client = _client(spark, rollup)
    _assert_same(app, client, rollup, "R0", False, HOT, HOT + MIN, 5, "spark")
    # both windows summed: the pinned-ANSI Spark sum raises, as before
    r = _get(client, "R0", False, HOT, HOT + 2 * MIN, 5)
    assert r.status_code == 500 and "ARITHMETIC_OVERFLOW" in r.get_json()["error"]


def test_window_ending_before_it_starts_goes_to_spark(spark):
    backwards = ("R0", "X", "x", HOT + 5 * MIN, HOT + 4 * MIN, 1, 1, 100)
    rollup = _tier_with(spark, [backwards])
    app, client = _client(spark, rollup)
    for rid, revenue in (("R0", False), ("all", False), ("R0", True)):
        _assert_same(app, client, rollup, rid, revenue, HOT, HOT + 4 * MIN, 5, "spark")


def test_row_cap_goes_to_spark(spark, tier, monkeypatch):
    monkeypatch.setattr(segment, "MAX_ROWS", 10)
    app, client = _client(spark, tier)
    _assert_same(app, client, tier, "all", True, HOT, NEWEST + MIN, 3, "spark")


def test_segment_is_lazy_and_built_once(spark, tier, monkeypatch):
    calls = []
    real = segment.build

    def counting(rollup):
        calls.append(1)
        return real(rollup)

    monkeypatch.setattr(segment, "build", counting)
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(), default=-1)
    app, _ = _client(spark, tier)
    assert max(tracker.getJobIdsForGroup(), default=-1) == before  # no job
    trending_only = create_app(spark, tier, trending_tier=tier)
    trending_only.test_client().get("/api/v1/trending")
    assert calls == []

    routes = []

    def hit():
        with app.test_client() as c:
            r = c.get("/api/v1/restaurants/all/topk",
                      query_string={"start_time": HOT, "end_time": NEWEST + MIN})
            routes.append(r.headers.get("X-TopK-Route"))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hit) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert calls == [1] and routes == ["segment"] * 8


def test_snapshot_leaves(spark, tier):
    assert segment.is_snapshot(tier)  # parquet files: InMemoryFileIndex
    assert segment.is_snapshot(spark.range(3))
    assert segment.is_snapshot(spark.createDataFrame([(1,)], "a long"))
    assert not segment.is_snapshot(spark.readStream.format("rate").load())


def test_closer_output_answers_from_segment(spark, tmp_path):
    """The rollup the streaming window closer writes (rollup/window_date=<D>/
    files, no sink log) is a snapshot the segment serves."""
    import json
    import os

    import pyspark.sql.functions as F

    from topk_spark.fixtures import FixtureSpec, generate_order_events
    from topk_spark.schemas import ORDER_EVENT
    from topk_spark.streaming.job import (
        build_dedup_stream,
        start_raw_sink,
        start_rollup_from_raw,
    )

    src, raw, out = (str(tmp_path / d) for d in ("src", "raw", "rollup"))
    os.makedirs(src)
    rows = generate_order_events(FixtureSpec(n_events=600))
    with open(os.path.join(src, "b0.json"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    start_raw_sink(build_dedup_stream(spark.readStream.schema(ORDER_EVENT).json(src)),
                   raw, str(tmp_path / "ck_raw"), available_now=True).awaitTermination(120)
    start_rollup_from_raw(spark, raw, out, str(tmp_path / "ck_rollup"),
                          available_now=True).awaitTermination(120)
    rollup = (
        spark.read.parquet(out)
        .withColumnRenamed("window_start_1m", "window_start")
        .withColumn("window_end", F.col("window_start") + F.lit(MIN))
    )
    assert segment.is_snapshot(rollup)
    lo = rollup.agg(F.min("window_start")).first()[0]
    hi = rollup.agg(F.max("window_end")).first()[0]
    rid = rollup.groupBy("restaurant_id").count().orderBy(F.desc("count")).first()[0]
    app, client = _client(spark, rollup)
    for revenue, r in ((False, rid), (True, rid), (False, "all")):
        assert _assert_same(app, client, rollup, r, revenue, lo, hi, 5, "segment")
