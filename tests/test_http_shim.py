"""Integration test for the HTTP shim (VERDICT round-2 item 8): the three
reference routes + health (TopKController.kt:30-129) served by Flask's test
client over a synthetic rollup tier, asserting the exact response envelope
(camelCase wrapper keys, snake_case TopKResult item keys) and the
reference's parameter-default behavior."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

flask = pytest.importorskip("flask")

BASE = 1_704_067_200_000  # 2024-01-01T00:00:00Z
MIN = 60_000


@pytest.fixture(scope="module")
def client(spark):
    from topk_spark.serve.http import create_app

    # 3 restaurants x 4 items x 60 one-minute windows
    rollup = (
        spark.range(3 * 4 * 60)
        .select(
            F.concat(F.lit("R"), (F.col("id") % 3)).alias("restaurant_id"),
            F.concat(F.lit("ITEM"), (F.col("id") % 4)).alias("menu_item_id"),
            F.concat(F.lit("Item "), (F.col("id") % 4)).alias("menu_item_name"),
            (F.lit(BASE) + (F.col("id") % 60) * MIN).alias("window_start"),
            (F.lit(BASE) + ((F.col("id") % 60) + 1) * MIN).alias("window_end"),
            (F.lit(1) + (F.col("id") % 4)).cast("long").alias("order_count"),
            (F.lit(2) * (F.lit(1) + F.col("id") % 4)).cast("long").alias(
                "sum_quantity"
            ),
            (F.lit(500) * (F.lit(1) + F.col("id") % 4)).cast("long").alias(
                "sum_revenue_cents"
            ),
        )
    )
    app = create_app(spark, rollup)
    app.config["TESTING"] = True
    with app.test_client() as c:
        yield c


def test_health(client):
    r = client.get("/health")
    assert r.status_code == 200
    assert r.get_json()["status"] == "healthy"


def test_restaurant_topk_route(client):
    r = client.get(
        "/api/v1/restaurants/R1/topk",
        query_string={
            "start_time": BASE,
            "end_time": BASE + 60 * MIN,
            "k": 2,
        },
    )
    assert r.status_code == 200
    body = r.get_json()
    # envelope: Kotlin property names (TopKResponse, TopKController.kt:132)
    assert set(body) == {"restaurantId", "startTime", "endTime", "k", "items"}
    assert body["restaurantId"] == "R1"
    assert body["k"] == 2
    assert len(body["items"]) == 2
    item = body["items"][0]
    # items: snake_case @JsonProperty names (Models.kt:39-49)
    assert set(item) == {
        "restaurant_id", "menu_item_id", "menu_item_name", "rank",
        "order_count", "total_quantity", "total_revenue_in_cents",
        "window_start", "window_end",
    }
    assert item["rank"] == 1
    # highest order_count item wins: ITEM3 (count 4/window)
    assert item["menu_item_id"] == "ITEM3"


def test_global_topk_route_sentinel(client):
    r = client.get(
        "/api/v1/restaurants/all/topk",
        query_string={"start_time": BASE, "end_time": BASE + 60 * MIN},
    )
    body = r.get_json()
    assert body["restaurantId"] == "ALL"
    assert all(i["restaurant_id"] == "ALL" for i in body["items"])
    assert body["k"] == 10  # default (TopKController.kt:38)
    assert len(body["items"]) == 4  # only 4 items exist


def test_revenue_route_and_all_passthrough(client):
    r = client.get(
        "/api/v1/restaurants/all/topk/revenue",
        query_string={"start_time": BASE, "end_time": BASE + 60 * MIN, "k": 1},
    )
    body = r.get_json()
    # reference echoes the raw 'all' segment (TopKController.kt:117)
    assert body["restaurantId"] == "all"
    assert body["items"][0]["restaurant_id"] == "ALL"
    assert body["items"][0]["rank"] == 1
    top = body["items"][0]
    assert top["menu_item_id"] == "ITEM3"
    assert top["total_revenue_in_cents"] == 3 * 60 * 2000


def test_bad_params_fall_back_to_defaults(client):
    # toLongOrNull() ?: default — malformed numbers are defaults, not 400s
    r = client.get(
        "/api/v1/restaurants/R0/topk",
        query_string={"start_time": "oops", "end_time": "nope", "k": "x"},
    )
    assert r.status_code == 200
    body = r.get_json()
    assert body["k"] == 10
    assert body["endTime"] - body["startTime"] == 3_600_000


def test_unknown_route_is_404_not_500(client):
    # the reference wraps only the handler body in try/catch — Ktor still
    # answers 404 itself for unknown paths (review finding, round 3)
    assert client.get("/nope").status_code == 404
    assert client.post("/health").status_code == 405


def test_defaults_are_independent(client):
    # start_time defaults to now-1h regardless of a caller-supplied
    # end_time (TopKController.kt:34-35) — NOT to end_time-1h
    import time

    r = client.get(
        "/api/v1/restaurants/R0/topk", query_string={"end_time": BASE}
    )
    body = r.get_json()
    assert body["endTime"] == BASE
    now_ms = time.time() * 1000
    assert abs(body["startTime"] - (now_ms - 3_600_000)) < 60_000


def test_trending_route_registered_only_with_tier(spark):
    """The /api/v1/trending extension route: absent without a sliding tier
    (the three-route reference surface stays exact), present with one —
    ranked top-k per hop window in the same response envelope, k default 3."""
    from topk_spark.serve.http import create_app

    tier = spark.createDataFrame(
        [
            (BASE, BASE + 5 * MIN, "purchase", 900),
            (BASE, BASE + 5 * MIN, "click", 500),
            (BASE, BASE + 5 * MIN, "view", 400),
            (BASE, BASE + 5 * MIN, "refund", 100),
            (BASE + MIN, BASE + 6 * MIN, "click", 77),
        ],
        "window_start long, window_end long, event_type string, "
        "revenue_cents long",
    )

    bare = create_app(spark, tier)
    bare.config["TESTING"] = True
    with bare.test_client() as c:
        assert c.get("/api/v1/trending").status_code == 404

    app = create_app(spark, tier, trending_tier=tier)
    app.config["TESTING"] = True
    with app.test_client() as c:
        r = c.get(
            "/api/v1/trending",
            query_string={"start_time": BASE, "end_time": BASE + 6 * MIN},
        )
        assert r.status_code == 200
        body = r.get_json()
        assert body["restaurantId"] == "TRENDING"
        assert body["k"] == 3
        by_w = {}
        for item in body["items"]:
            by_w.setdefault(item["window_start"], []).append(item)
        # first hop: k=3 cuts 'refund'; rank order by revenue desc
        assert [(i["event_type"], i["rank"]) for i in by_w[BASE]] == [
            ("purchase", 1), ("click", 2), ("view", 3)
        ]
        assert [(i["event_type"], i["rank"]) for i in by_w[BASE + MIN]] == [
            ("click", 1)
        ]


def test_trending_route_via_router_when_preranked_supplied(spark, tmp_path):
    """With BOTH a sliding tier and a pre-ranked tier, the trending route
    goes through TrendingRouter: a fresh-and-shallow request must return
    the materialized ranked rows (identical payload to rank-on-read), and a
    request past the pre-ranked high-water mark must still answer — the
    rank-on-read fallback, not an empty tile."""
    from topk_spark.io.tier import append_upto
    from topk_spark.serve.http import create_app

    tier = spark.createDataFrame(
        [
            (BASE, BASE + 5 * MIN, "purchase", 900),
            (BASE, BASE + 5 * MIN, "click", 500),
            (BASE, BASE + 5 * MIN, "view", 400),
            (BASE, BASE + 5 * MIN, "refund", 100),
            (BASE + MIN, BASE + 6 * MIN, "click", 77),
        ],
        "window_start long, window_end long, event_type string, "
        "revenue_cents long",
    )
    # pre-ranked tier materialized only through the FIRST hop's end
    preranked = spark.createDataFrame(
        [
            (BASE, BASE + 5 * MIN, "purchase", 900, 1),
            (BASE, BASE + 5 * MIN, "click", 500, 2),
            (BASE, BASE + 5 * MIN, "view", 400, 3),
        ],
        "window_start long, window_end long, event_type string, "
        "revenue_cents long, rank int",
    )
    ranked_dir = str(tmp_path / "ranked")
    append_upto(preranked, ranked_dir, BASE + 5 * MIN)
    app = create_app(
        spark, tier, trending_tier=tier, preranked_trending=ranked_dir,
        trending_window_ms=5 * MIN,
    )
    app.config["TESTING"] = True
    with app.test_client() as c:
        # fresh: newest contained hop end == pre-ranked high-water mark
        r = c.get(
            "/api/v1/trending",
            query_string={"start_time": BASE, "end_time": BASE + 5 * MIN},
        )
        assert r.status_code == 200
        items = r.get_json()["items"]
        assert [(i["event_type"], i["rank"]) for i in items] == [
            ("purchase", 1), ("click", 2), ("view", 3)
        ]
        # stale: range reaches past the materialized frontier -> fallback
        # must include the second hop the pre-ranked tier does not have
        r2 = c.get(
            "/api/v1/trending",
            query_string={"start_time": BASE, "end_time": BASE + 6 * MIN},
        )
        assert r2.status_code == 200
        ws = {i["window_start"] for i in r2.get_json()["items"]}
        assert ws == {BASE, BASE + MIN}


def test_trending_route_dir_fed_frontier_refreshes_per_request(
    spark, tmp_path
):
    """Round-12 VERDICT #3: pass the pre-ranked tier as a DIRECTORY and the
    facade re-reads the committed `upto_<W>` frontier per request — a
    request arriving AFTER the drain advances serves preranked (including
    the newly materialized subdir's rows: the scan is rebuilt, not a stale
    file-listing snapshot) without an app rebuild, and while the
    materializer lags the same request degrades to rank_on_read, never to
    an empty/wrong tile. The `X-Trending-Route` header is the observable
    (the column contract is identical on both paths by design)."""
    from topk_spark.io.tier import append_upto
    from topk_spark.serve.http import create_app

    tier = spark.createDataFrame(
        [
            (BASE, BASE + 5 * MIN, "purchase", 900),
            (BASE, BASE + 5 * MIN, "click", 500),
            (BASE + MIN, BASE + 6 * MIN, "click", 77),
        ],
        "window_start long, window_end long, event_type string, "
        "revenue_cents long",
    )
    ranked_dir = str(tmp_path / "ranked")
    # materialized through the FIRST hop only
    append_upto(
        spark.createDataFrame(
            [
                (BASE, BASE + 5 * MIN, "purchase", 900, 1),
                (BASE, BASE + 5 * MIN, "click", 500, 2),
            ],
            "window_start long, window_end long, event_type string, "
            "revenue_cents long, rank int",
        ),
        ranked_dir,
        BASE + 5 * MIN,
    )
    app = create_app(
        spark, tier, trending_tier=tier, preranked_trending=ranked_dir,
        trending_window_ms=5 * MIN,
    )
    app.config["TESTING"] = True
    with app.test_client() as c:
        fresh_q = {"start_time": BASE, "end_time": BASE + 5 * MIN}
        lag_q = {"start_time": BASE + MIN, "end_time": BASE + 6 * MIN}
        r = c.get("/api/v1/trending", query_string=fresh_q)
        assert r.headers["X-Trending-Route"] == "preranked"
        assert {i["event_type"] for i in r.get_json()["items"]} == {
            "purchase", "click"
        }
        # newest hop end (BASE+6min) past the committed frontier → degrade
        r2 = c.get("/api/v1/trending", query_string=lag_q)
        assert r2.headers["X-Trending-Route"] == "rank_on_read"
        assert [(i["event_type"], i["revenue_cents"])
                for i in r2.get_json()["items"]
                if i["window_start"] == BASE + MIN] == [("click", 77)]
        # the drain advances: one more committed subdir, SAME app. The
        # divergent revenue (999 vs the rollup's 77) is the provenance
        # probe — a stale file listing would route preranked but still
        # serve the rollup-derived 77.
        append_upto(
            spark.createDataFrame(
                [(BASE + MIN, BASE + 6 * MIN, "click", 999, 1)],
                "window_start long, window_end long, event_type string, "
                "revenue_cents long, rank int",
            ),
            ranked_dir,
            BASE + 6 * MIN,
        )
        r3 = c.get("/api/v1/trending", query_string=lag_q)
        assert r3.headers["X-Trending-Route"] == "preranked"
        assert [(i["event_type"], i["revenue_cents"])
                for i in r3.get_json()["items"]
                if i["window_start"] == BASE + MIN] == [("click", 999)]


def test_percentiles_route_degenerate_range_answers_empty(spark):
    """Round-12 ADVICE (medium): an inverted/degenerate range
    (start_time >= end_time) through a TierRouter histogram tier must
    answer 200 with empty items — the bare-DataFrame path and every other
    route already did; the router's empty-plan ValueError leaked a 500
    only on this one input shape."""
    from topk_spark.ops.rollup import merge_rollup
    from topk_spark.serve.http import create_app
    from topk_spark.serve.router import TierRouter

    HOUR = 3_600_000
    t1m = spark.range(120).select(
        F.lit("purchase").alias("event_type"),
        ((F.col("id") % 60) + 1).cast("long").alias("revenue_cents"),
        (F.lit(BASE) + F.col("id") * MIN).alias("window_start"),
        (F.lit(BASE) + (F.col("id") + 1) * MIN).alias("window_end"),
        F.lit(1).cast("long").alias("n"),
    )
    t1h = merge_rollup(
        t1m, ["event_type", "revenue_cents"], ["n"], target_window_ms=HOUR,
    ).select("event_type", "revenue_cents", "window_start", "window_end", "n")
    for tier_arg in (t1m, TierRouter({MIN: t1m, HOUR: t1h})):
        app = create_app(spark, t1m, histogram_tier=tier_arg)
        app.config["TESTING"] = True
        with app.test_client() as c:
            for s, e in ((BASE + HOUR, BASE), (BASE, BASE)):
                r = c.get(
                    "/api/v1/percentiles",
                    query_string={"start_time": s, "end_time": e},
                )
                assert r.status_code == 200, (s, e, r.get_json())
                assert r.get_json()["items"] == []


def test_percentiles_route(spark):
    """The /api/v1/percentiles extension route: absent without a histogram
    tier, present with one — exact order statistics per key over the range,
    pcts parseable from the query string with the same fall-back-to-default
    discipline as the reference's toLongOrNull params."""
    from topk_spark.serve.http import create_app

    # one key, values 1..100 cents each once, all inside one minute window
    tier = spark.range(100).select(
        F.lit("purchase").alias("event_type"),
        (F.col("id") + 1).cast("long").alias("revenue_cents"),
        F.lit(BASE).alias("window_start"),
        F.lit(BASE + MIN).alias("window_end"),
        F.lit(1).cast("long").alias("n"),
    )
    bare = create_app(spark, tier)
    bare.config["TESTING"] = True
    with bare.test_client() as c:
        assert c.get("/api/v1/percentiles").status_code == 404

    app = create_app(spark, tier, histogram_tier=tier)
    app.config["TESTING"] = True
    with app.test_client() as c:
        r = c.get(
            "/api/v1/percentiles",
            query_string={
                "start_time": BASE,
                "end_time": BASE + MIN,
                "pcts": "50,99",
            },
        )
        assert r.status_code == 200
        body = r.get_json()
        assert body["restaurantId"] == "PERCENTILES"
        assert body["k"] == 2
        (item,) = body["items"]
        assert item["event_type"] == "purchase"
        assert item["n_rows"] == 100
        assert item["p50_cents"] == 50 and item["p99_cents"] == 99
        # malformed pcts falls back to (50, 90, 99), not a 400
        r2 = c.get(
            "/api/v1/percentiles",
            query_string={"start_time": BASE, "end_time": BASE + MIN,
                          "pcts": "fifty"},
        )
        assert r2.status_code == 200
        (item2,) = r2.get_json()["items"]
        assert item2["p90_cents"] == 90
        # integer-valued but INVALID pcts (out of 1..100, duplicates) get
        # the SAME fallback, not a 500 from serve_api's validation —
        # round-11 ADVICE: the discipline must not depend on how the input
        # is malformed
        for bad in ("0,50", "200", "50,50", ""):
            rb = c.get(
                "/api/v1/percentiles",
                query_string={"start_time": BASE, "end_time": BASE + MIN,
                              "pcts": bad},
            )
            assert rb.status_code == 200, bad
            (itemb,) = rb.get_json()["items"]
            assert itemb["p90_cents"] == 90, bad


def test_percentiles_route_via_tier_router(spark):
    """Routed percentiles by default (round-11 VERDICT #3): pass a
    TierRouter (fine 1m + compacted 1h histogram tiers) as the histogram
    tier and the route answers from the ladder — answers must be identical
    to the fine-tier-only read, including on a sub-minute range (empty
    items, not a 500)."""
    from topk_spark.ops.rollup import merge_rollup
    from topk_spark.serve.http import create_app
    from topk_spark.serve.router import TierRouter

    HOUR = 3_600_000
    # 3 hours of minutes, values cycling 1..60 cents, one key
    t1m = spark.range(180).select(
        F.lit("purchase").alias("event_type"),
        ((F.col("id") % 60) + 1).cast("long").alias("revenue_cents"),
        (F.lit(BASE) + F.col("id") * MIN).alias("window_start"),
        (F.lit(BASE) + (F.col("id") + 1) * MIN).alias("window_end"),
        F.lit(1).cast("long").alias("n"),
    )
    t1h = merge_rollup(
        t1m, ["event_type", "revenue_cents"], ["n"],
        target_window_ms=HOUR,
    ).select("event_type", "revenue_cents", "window_start", "window_end", "n")
    router = TierRouter({MIN: t1m, HOUR: t1h})

    for tier_arg in (t1m, router):
        app = create_app(spark, t1m, histogram_tier=tier_arg)
        app.config["TESTING"] = True
        with app.test_client() as c:
            # misaligned 2.5h range: middle hours from t1h, edges from t1m
            r = c.get(
                "/api/v1/percentiles",
                query_string={"start_time": BASE + 30 * MIN,
                              "end_time": BASE + 3 * HOUR},
            )
            assert r.status_code == 200
            (item,) = r.get_json()["items"]
            # 150 minute-rows: values 1..30 twice, 31..60 three times →
            # rank 75 lands on 35, rank 149 on 60
            assert item["n_rows"] == 150
            assert item["p50_cents"] == 35 and item["p99_cents"] == 60
            # sub-minute range: empty answer, not an error
            r0 = c.get(
                "/api/v1/percentiles",
                query_string={"start_time": BASE + 1000,
                              "end_time": BASE + 2000},
            )
            assert r0.status_code == 200
            assert r0.get_json()["items"] == []


def test_percentiles_route_honors_retention_clamp(spark):
    """Round-13 retention through the facade: a retention-carrying
    TierRouter behind /api/v1/percentiles answers (1) a request straddling
    the horizon from retained windows only — identical to requesting the
    clamped range directly — and (2) a wholly-expired range as 200-empty,
    not stale rows and not a 500. No facade code path is retention-aware;
    the router's plan-entry clamp is the whole mechanism."""
    from topk_spark.ops.rollup import merge_rollup
    from topk_spark.serve.http import create_app
    from topk_spark.serve.router import TierRouter

    HOUR = 3_600_000
    t1m = spark.range(180).select(
        F.lit("purchase").alias("event_type"),
        ((F.col("id") % 60) + 1).cast("long").alias("revenue_cents"),
        (F.lit(BASE) + F.col("id") * MIN).alias("window_start"),
        (F.lit(BASE) + (F.col("id") + 1) * MIN).alias("window_end"),
        F.lit(1).cast("long").alias("n"),
    )
    t1h = merge_rollup(
        t1m, ["event_type", "revenue_cents"], ["n"], target_window_ms=HOUR,
    ).select("event_type", "revenue_cents", "window_start", "window_end", "n")
    r_cut = BASE + HOUR  # first hour expired, hours 2-3 retained
    router = TierRouter({MIN: t1m, HOUR: t1h}, retain_from_ms=r_cut)
    app = create_app(spark, t1m, histogram_tier=router)
    app.config["TESTING"] = True
    with app.test_client() as c:
        straddling = c.get(
            "/api/v1/percentiles",
            query_string={"start_time": BASE, "end_time": BASE + 3 * HOUR},
        )
        clamped = c.get(
            "/api/v1/percentiles",
            query_string={"start_time": r_cut, "end_time": BASE + 3 * HOUR},
        )
        assert straddling.status_code == clamped.status_code == 200
        items = straddling.get_json()["items"]
        assert items == clamped.get_json()["items"]
        (item,) = items
        assert item["n_rows"] == 120  # retained 2h of minutes, not all 180
        expired = c.get(
            "/api/v1/percentiles",
            query_string={"start_time": BASE, "end_time": r_cut},
        )
        assert expired.status_code == 200
        assert expired.get_json()["items"] == []
