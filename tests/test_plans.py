"""Physical-plan assertions — the 100 TB posture, checked mechanically.

These tests pin the *plan shape*, not the result: dimension joins must be
broadcast (no sort-merge shuffle of the fact side), scan-level predicates
must reach the parquet reader (PushedFilters), global top-k must use the
distributed bounded heap (TakeOrderedAndProject), and aggregations must be
partial+final. A regression here is a query that still returns the right
rows at sf0.01 but shuffles 100 TB at scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from topk_spark.session import ensure_session_conf
from topk_spark.workload import load_all

REGISTRY = load_all()


def plan_of(name: str, spark, sf_dir: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


BROADCAST_ONLY = [
    # fact⋈dim star joins: every join broadcast, fact never sort-merge-joined
    "top_customers",
    "brand_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_profit_by_nation_year",
    "q10_returned_items",
    "q14_promo_revenue",
    "q16_supplier_variety",
    "q19_bracket_revenue",
]


@pytest.mark.parametrize("name", BROADCAST_ONLY)
def test_dims_broadcast_not_sortmerge(spark, sf_dir, name):
    plan = plan_of(name, spark, sf_dir)
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join\n{plan}"
    assert "SortMergeJoin" not in plan, (
        f"{name}: dimension join fell back to sort-merge (fact-side shuffle)\n{plan}"
    )


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    """Q6 is scan-bound: all four predicates must reach the parquet reader."""
    plan = plan_of("q6_forecast_revenue", spark, sf_dir)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed, f"ship-date range not pushed: [{pushed}]"
    assert "l_quantity" in pushed, f"quantity bound not pushed: [{pushed}]"
    assert "l_discount" in pushed, f"discount range not pushed: [{pushed}]"


def test_q6_prunes_columns(spark, sf_dir):
    """The Q6 scan must read only the 4 referenced columns of 11."""
    plan = plan_of("q6_forecast_revenue", spark, sf_dir)
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    for col in ("l_shipdate", "l_quantity", "l_extendedprice", "l_discount"):
        assert col in read
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in read, f"unpruned column {col} in {read}"


@pytest.mark.parametrize("name", ["q10_returned_items", "q18_large_orders"])
def test_topk_uses_bounded_heap(spark, sf_dir, name):
    """orderBy().limit(k) must compile to TakeOrderedAndProject — a per-
    partition heap + driver merge — never a global Sort."""
    plan = plan_of(name, spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, f"{name}: global sort for top-k\n{plan}"


def test_partial_aggregation_everywhere(spark, sf_dir):
    """Grouped aggregates must be partial+final (map-side combine): two
    HashAggregates around the key exchange."""
    plan = plan_of("pricing_summary", spark, sf_dir)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_semi_join_pushes_filter_first(spark, sf_dir):
    """Q4's EXISTS: the returned-lines filter must sit under the semi join
    (only returned lines enter the join), and the join must stay semi."""
    plan = plan_of("q4_priority_returns", spark, sf_dir)
    assert "LeftSemi" in plan
    assert "PushedFilters: [" in plan
    assert "EqualTo(l_returnflag,R)" in plan, "returnflag filter not pushed to scan"


def test_q13_join_stays_outer(spark, sf_dir):
    """Q13's priority predicate lives in the join condition — the plan must
    keep LeftOuter (a WHERE rewrite would drop zero-order customers)."""
    plan = plan_of("q13_order_count_distribution", spark, sf_dir)
    assert "LeftOuter" in plan


def test_bucketed_join_needs_no_shuffle(spark, sf_dir, tmp_path):
    """Co-bucketed fact tables join with no Exchange on either side: bucket
    lineitem and orders by orderkey once at write time, then the join reads
    bucket i ⋈ bucket i directly. With broadcast disabled (to force the
    shuffle-join path a 100 TB fact⋈fact join would take), the plan must
    contain a SortMergeJoin but zero Exchange operators."""
    from topk_spark.io.sources import load_table
    from topk_spark.ops.layout import write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", ["l_orderkey"], 8, str(tmp_path / "li_b"))
    write_bucketed(o, "o_b", ["o_orderkey"], 8, str(tmp_path / "o_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_b").join(
            spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and the result is actually correct
        assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_contamination_training_side_not_shuffled(spark, sf_dir):
    """eval_contamination: the (huge) training side must meet the (tiny) eval
    gram set via BroadcastHashJoin — a sort-merge here would shuffle every
    training gram. Both scans must prune to <doc_id,text>."""
    plan = plan_of("eval_contamination", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "struct<doc_id:bigint,text:string>" in plan


def test_vocab_topk_is_bounded_heap_and_broadcast(spark, sf_dir):
    """vocab_coverage: the top-16 vocabulary must be TakeOrderedAndProject
    (distributed bounded heap, not a global sort) and must broadcast into the
    per-doc membership probe."""
    plan = plan_of("vocab_coverage", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_outlier_stats_broadcast_onto_fact(spark, sf_dir):
    """robust_outlier_filter: per-group median/MAD stats are tiny and must
    broadcast onto the events fact — the fact is never sort-merge shuffled."""
    plan = plan_of("robust_outlier_filter", spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mixture_sample_is_map_only(spark, sf_dir):
    """mixture_sample: affine-hash thresholding is a pure map — no Exchange,
    no aggregate, no join anywhere in the plan."""
    plan = plan_of("mixture_sample", spark, sf_dir)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_dup_ngram_spans_single_scan_two_exchanges(spark, sf_dir):
    """dup_ngram_spans: the gram table must be built ONCE (no gram-count
    self-join recomputing the tokenize/explode subtree) — per-gram doc
    counts come from a window over the gram partition, so the whole query
    is scan → Exchange(gram) → Window → Exchange(doc_id) → agg."""
    plan = plan_of("dup_ngram_spans", spark, sf_dir)
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") == 2, plan
    assert "Window" in plan, plan


def test_argmax_is_single_aggregate_no_window(spark, sf_dir):
    """latest_event_per_user: max_by must plan as one partial+final aggregate
    pair — no Window operator, and exactly one Exchange (on user_id)."""
    plan = plan_of("latest_event_per_user", spark, sf_dir)
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    # max_by is not hash-aggregable, so Spark picks SortAggregate — the
    # partial/final split (map-side combine) is what matters at scale.
    assert "partial_max_by" in plan, plan
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2, plan


def test_session_scale_posture_confs(spark):
    """Pin the configuration the 100 TB posture depends on: a drive-by
    "simplification" of the session factory that drops AQE, skew-join
    splitting, UTC, or the nanos shim would silently change plans or
    timestamps everywhere — fail loudly here instead."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    )


def test_queries_apply_confs_to_foreign_sessions():
    """The driver imports __spark_entry__ with its OWN vanilla session; every
    query function must self-apply the runtime confs (the nanos shim above
    all — events.parquet is unreadable without it)."""
    from topk_spark.session import _RUNTIME_CONF, ensure_session_conf
    from pyspark.sql import SparkSession

    vanilla = SparkSession.builder.master("local[2]").getOrCreate()
    try:
        ensure_session_conf(vanilla)
        for k, v in _RUNTIME_CONF.items():
            assert vanilla.conf.get(k) == v
    finally:
        pass  # shared session: leave confs applied, do not stop


def test_ensure_session_conf_pins_ansi_overflow(spark):
    """A session built with ANSI off gets it back from ensure_session_conf:
    a long SUM past 2^63 raises instead of wrapping to a negative total."""
    before = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        ensure_session_conf(spark)
        df = spark.createDataFrame([(2**62,), (2**62,)], "v long")
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            df.agg(F.sum("v")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


def test_split_money_sums_raise_instead_of_wrapping(spark):
    """ops/money.py under the pinned ANSI mode: a split sub-sum that passes
    2^63 raises rather than wrapping into a wrong exact total, and `cents`
    on a dollar value whose cents exceed the long range raises rather than
    wrapping to a wrong count."""
    from topk_spark.ops.money import SPLIT_BITS, cents, sum_units_exact

    before = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        ensure_session_conf(spark)
        n = 1_100_000
        # each high part is ~2^43, so n of them pass 2^63
        assert n * ((2**63 - 1 - n) >> SPLIT_BITS) >= 2**63
        units = spark.range(n).select(
            (F.lit(2**63 - 1) - F.col("id")).alias("units")
        )
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            units.agg(sum_units_exact(F.col("units"), 0)).collect()
        dollars = spark.createDataFrame([(1e17,)], "v double")  # 10^19 cents
        with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
            dollars.select(cents("v")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)


def test_novelty_curve_no_cartesian_single_gram_shuffle(spark, sf_dir):
    """ngram_novelty_decay (round 3): the first-appearance reduction and
    the per-doc novel count must both key on the gram — no cartesian or
    nested-loop pairing anywhere — and the decile window must run AFTER
    the per-doc aggregate (window input is one row per doc, never grams)."""
    plan = plan_of("ngram_novelty_decay", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # gram join is an equi-join (shuffled or broadcast, either is keyed)
    assert "Join" in plan
    # the global window exists exactly once (decile rank over per-doc rows)
    assert plan.count("Window") >= 1


def test_heavy_hitters_sketch_is_map_side_and_rescore_broadcast(spark, sf_dir):
    """spacesaving_heavy_cohorts (round 5): the 100 TB contract of the
    two-pass heavy hitter. (1) The Misra-Gries candidate pass is MAP-SIDE:
    MapInPandas must sit directly on the file scan with no Exchange below
    it — shuffling the raw keys is exactly what the sketch exists to avoid.
    (2) The exact rescore must reach the fact rows through a BROADCAST of
    the tiny candidate set (no sort-merge), with partial aggregation before
    the one keyed Exchange. (3) Every scan must read user_id alone."""
    plan = plan_of("spacesaving_heavy_cohorts", spark, sf_dir)
    assert "MapInPandas" in plan
    below_map = plan.split("MapInPandas", 1)[1].split("FileScan", 1)[0]
    assert "Exchange" not in below_map, (
        f"raw keys shuffled before the sketch:\n{below_map}"
    )
    assert "BroadcastHashJoin" in plan, "candidate rescore not broadcast"
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan, "no map-side partial aggregation"
    for scan in plan.split("ReadSchema: ")[1:]:
        schema = scan.split("\n", 1)[0]
        assert schema.strip().rstrip(",") == "struct<user_id:bigint>", (
            f"scan reads more than user_id: {schema}"
        )


def test_kmv_no_global_sort_and_bucketed_local_topk(spark, sf_dir):
    """The KMV sketch plan must never globally sort the hash set: both rank
    windows partition (by (type, bucket) locally, then by type over <= k*32
    survivors), and the distinct is an ordinary partial+final hash
    aggregate."""
    plan = plan_of("kmv_distinct_userdays", spark, sf_dir)
    assert "Sort [" in plan  # window-local sorts exist...
    # ...but none is a GLOBAL sort (second Sort arg `true` would mean the
    # whole distinct-hash set converges before bucketing)
    import re

    for m in re.finditer(r"Sort \[[^\]]*\], (\w+),", plan):
        assert m.group(1) == "false", f"global sort in KMV plan\n{plan}"
    assert "partial_count" in plan or "HashAggregate" in plan


def test_decay_finalize_single_broadcast_no_raw_window(spark, sf_dir):
    """decayed_topk_revenue: the global max bucket is ONE broadcast scalar
    onto the (type,user,bucket) aggregate; the only window runs over the
    per-user decayed table, never raw events; aggregation is partial+final
    (map-side combine touches raw rows exactly once)."""
    plan = plan_of("decayed_topk_revenue", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan


def test_topk_with_others_single_raw_scan(spark, sf_dir):
    """The residual-row read must fold 'others' by re-grouping the ranked
    (type,user) aggregate — one scan of events, no self-join of raw data."""
    plan = plan_of("topk_with_others", spark, sf_dir)
    assert plan.count("FileScan parquet") == 1, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_kmv_weekly_rollup_no_global_sort(spark, sf_dir):
    """Weekly-from-daily sketch re-aggregation: every Sort is window-local
    (partitioned by (type, day) then (type, week)); no stage funnels the
    distinct-hash set through a single partition."""
    plan = plan_of("kmv_weekly_from_daily", spark, sf_dir)
    import re

    for m in re.finditer(r"Sort \[[^\]]*\], (\w+),", plan):
        assert m.group(1) == "false", f"global sort in weekly-rollup plan\n{plan}"
    assert "HashAggregate" in plan and "CartesianProduct" not in plan


def test_sliding_from_slices_amplifies_partials_not_events(spark, sf_dir):
    """rollup_sliding_from_slices: the slice aggregate must run BEFORE the
    hop-window explode — i.e. the plan is scan → partial/final slice agg
    (one Exchange) → Generate(explode) → partial/final hop agg (second
    Exchange), so only per-slice PARTIALS are amplified by the hop ratio.
    A Generate below the first aggregate would mean events amplify (the
    direct form's cost, ratio× shuffle rows) and the two-level design is
    silently lost. Contrast pin: the direct form plans NO Generate (the
    amplification lives inside the window expression) and one event-keyed
    Exchange."""
    plan = plan_of("rollup_sliding_from_slices", spark, sf_dir)
    assert plan.count("Exchange") == 2, plan
    assert "Generate explode" in plan, plan
    # the explode sits ABOVE the first HashAggregate pair: everything below
    # the Generate is the slice rollup, which must contain both aggregates
    below = plan.split("Generate explode", 1)[1]
    assert below.count("HashAggregate") >= 2, plan

    direct = plan_of("rollup_sliding_5m_1m", spark, sf_dir)
    assert "Generate" not in direct, direct
    assert direct.count("Exchange") == 1, direct


def test_epoch_upsample_is_map_only_generate(spark, sf_dir):
    """epoch_upsample: deterministic replication must be a pure map +
    generator over the scan — no Exchange, no Join, no aggregate. A shuffle
    here would move the amplified rows instead of letting downstream
    sharding do one purposeful exchange."""
    plan = plan_of("epoch_upsample", spark, sf_dir)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate explode" in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_trending_1h_from_slices_plan_shape(spark, sf_dir):
    """trending_1h_1m_from_slices: the ratio-60 trending read must keep the
    slice-sharing shape — single scan, slice aggregate BELOW the hop
    explode (so partials, not events, amplify 60×), and exactly three
    exchanges (slice agg, hop agg, rank-per-window); no join anywhere."""
    plan = plan_of("trending_1h_1m_from_slices", spark, sf_dir)
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 3, plan
    below = plan.split("Generate explode", 1)[1]
    assert below.count("HashAggregate") >= 2, plan


def test_serve_percentiles_shares_one_sort_across_windows(spark, sf_dir):
    """serve_percentiles: the exact-percentile read must stay a three-
    exchange plan — tier rollup agg, per-(key,value) histogram agg, then
    ONE key-partitioned exchange + ONE sort shared by BOTH window
    functions (the cumulative ordered sum and the per-key total), with the
    final per-key aggregate reusing that partitioning (no fourth
    exchange). A second Sort or a fourth Exchange means the two window
    specs stopped sharing their frame, doubling the read's shuffle cost;
    a Join anywhere means the rank arithmetic regressed to a self-join."""
    plan = plan_of("serve_percentiles", spark, sf_dir)
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 3, plan
    assert plan.count("Window") == 2, plan
    assert plan.count("+- Sort") == 1, plan
