"""Workload registry: every implemented operator from SURVEY.md §2 exposed as
a named query (spark, sf_dir) -> DataFrame, paired (where SQL-expressible)
with an equivalent DuckDB oracle SQL string over the driver's testdata views.

The registry is what __spark_entry__.py re-exports to the driver harness.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # DuckDB SQL; None → driver runs rows-only check
    headline: bool = False  # timed by perfbench's batch_headline workload
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
):
    def deco(fn):
        assert name not in REGISTRY, f"duplicate query name {name}"
        REGISTRY[name] = Query(fn=fn, oracle=oracle, headline=headline, tags=tags)
        return fn

    return deco


# The driver verifies queries in registration order under a cap (rounds 1-3
# checked exactly the first 50), so load_all() orders the registry to spend
# each round's cap on queries that still lack a driver CORRECTNESS row:
#
#   tier 0 — forced re-samples (_FORCE_RESAMPLE: queries whose newest driver
#            row predates the round their fix/upgrade landed in — round-aware
#            so a recorded re-sample releases the slot automatically),
#            then never-driver-checked queries from the families the
#            round-3 verdict called out as still-unsampled (streaming
#            drains, behavior2, text3/4/5, setstats, governance, sketch2/3,
#            curation, stl/timeseries) — sized past the 50-query cap so the
#            cap, not the list, cuts;
#   tier 1 — every other never-driver-checked query;
#   tier 2 — queries already hash-verified (or rows-only-checked) in a prior
#            round, read dynamically from CORRECTNESS_r*.json at repo root so
#            the ordering self-updates every round with no code change.
#
# _R1_VERIFIED is the static fallback when no CORRECTNESS files are readable
# (e.g. the repo checked out elsewhere): the keys of CORRECTNESS_r01.json.
_PRIORITY_MODULES: tuple[str, ...] = (
    "streaming_drain_queries",
    "behavior2_queries",
    "text3_queries",
    "text4_queries",
    "text5_queries",
    "setstats_queries",
    "governance_queries",
    "sketch2_queries",
    "sketch3_queries",
    "timeseries_queries",
    "curation_queries",
    "io_queries",
    "search_queries",
    "profiling2_queries",
)

# Queries with a stale driver row that must face the gate again: the fix (or
# a behavior-changing upgrade, e.g. a new oracle) landed in round `value`,
# AFTER their last sample, so ordering must treat them as unverified until a
# CORRECTNESS_r{N>=value}.json row exists — at which point they fall back to
# tier 2 automatically, without burning a capped slot every later round
# (round-4 ADVICE: the unconditional form re-sampled `rolling_7d_revenue`
# forever after its r4 row already proved the fix).
#   rolling_7d_revenue: HUGEINT/BIGINT cast fix landed r3, re-proved r4.
#   minhash_lsh_neardup: exact-Jaccard oracle added r5 (was rows-only r1).
#   region_nation_rollup: hash-red r5 (DECIMAL output vs the driver's value
#     hash); r6 re-emits BIGINT cents on both sides. Belt-and-braces with the
#     red-aware tier() — either alone re-queues it, both keep it queued until
#     a green row at round >= 6 exists.
#   round-10 implementation changes (standing window discipline): the embed
#     restart drain's arrival tiling became an explicit pre-tiled schedule,
#     approx_percentile_bound gained an explicit broadcast on its scalar
#     crossJoin, and stream_asof_leftouter_drain dropped a dead local import
#     — all verified result-identical by preflight, but each must face the
#     gate once post-change.
#   round-11 implementation changes (standing window discipline): the exact-
#     quantile drains' state encoding moved from a JSON string to packed
#     binary int64 arrays (same histogram, same oracle — but the state path
#     changed, so both drains face the gate again), and funnel_conversion
#     gained the explicit broadcast on its scalar crossJoin chain.
#   round-12 implementation changes (standing window discipline): the
#     trending-60 drain's frontier derivation became retry-safe (excludes
#     the batch's own upto_<W_cur> subdir — round-11 ADVICE) and moved to
#     the shared io/tier.py helpers; decode_histogram gained the legacy-
#     JSON-state fallback (both exact-quantile drains decode state through
#     it); percentiles_tier_routed now routes through TierSpec-carrying
#     tiers (router layout metadata).
#   round-13 implementation changes (standing window discipline): the tier
#     lifecycle completed — tier_frontier now counts only _SUCCESS-committed
#     subdirs (round-12 ADVICE), the compactor purges compacted fine subdirs
#     behind a retention margin with a committed-skip guard and reads its
#     compaction span at directory level, the trending drain purges dead
#     slice subdirs and prunes its tier read the same way, and TierRouter
#     plans through per-call frontier snapshots (frontier_dir refresh) with
#     the degenerate-range scan fix — so every query composing these paths
#     faces the gate again.
_FORCE_RESAMPLE: dict[str, int] = {
    "rolling_7d_revenue": 4,
    "region_nation_rollup": 6,
    "stream_embed_neardup_restart_drain": 10,
    "approx_percentile_bound": 10,
    "stream_asof_leftouter_drain": 10,
    "stream_exact_quantile_drain": 12,
    "stream_exact_quantile_restart_drain": 12,
    "funnel_conversion": 11,
    "stream_trending_1h_1m_drain": 13,
    "stream_trending_1h_1m_restart_drain": 13,
    "percentiles_tier_routed": 13,
    "stream_compacted_tier_drain": 13,
    "stream_compacted_tier_restart_drain": 13,
    "stream_trending_routed_serve": 13,
    # round-13 optimization rewrites (results proven identical to the old
    # formulations by tests/test_r13_optimizations.py AND pre-flighted
    # against the unchanged oracles; each faces the driver gate again):
    # q21 self-joins → min/max aggregates, int8 + cosine interpreted
    # lambda folds → vectorized Arrow passes.
    "q21_waiting_suppliers": 13,
    "cosine_topk": 13,
    # round-13: the shared MinHash banding kernel was batch-vectorized and
    # its band digest swapped blake2b → rolling polynomial (equality-class
    # preserving — candidate sets and all verified outputs unchanged, pinned
    # by tests/test_r13_optimizations.py); every registered query whose
    # dataflow crosses the kernel faces the gate again. (minhash_lsh_neardup,
    # minhash_lsh_recall and int8_quantized_topk were touched again in
    # round 14 — their entries live in the round-14 block below.)
    "incremental_crawl_dedup": 13,
    "stream_neardup_drain": 13,
    "stream_neardup_restart_drain": 13,
    # round-13: dup_ngram_spans' gram derivation moved to the same shared
    # rolling-hash kernel (gram identity preserved; counts unchanged).
    "dup_ngram_spans": 13,
    # round-14 optimization rewrites (results proven identical to the old
    # formulations by tests/test_r14_optimizations.py AND pre-flighted
    # against the unchanged oracles; each faces the driver gate again):
    # - jaccard(): |A∪B| derived as |A|+|B|−|A∩B| (bit-identical for the
    #   distinct arrays every caller passes) — touches every query whose
    #   dataflow crosses ops.fuzzy_dedup.jaccard / ngram_jaccard_pairs;
    # - minhash banding mapInPandas → mapInArrow (minima bit-identical) and
    #   verify-join build sides pinned to the candidate-pair side;
    # - pricing_summary / q9: decimal sums → exact integer-unit split sums
    #   recombined via decimal(38,6) division;
    # - topk_revenue_raw_24h: broadcast max(ts) anchor → bounded scalar
    #   collect + literal cutoff;
    # - int8_quantized_topk: zero-norm guard (values unchanged on data
    #   without all-zero embeddings — the testdata has none).
    "minhash_lsh_neardup": 14,
    "minhash_lsh_recall": 14,
    "ngram_jaccard_neardup": 14,
    "neardup_cluster_dedup": 14,
    "golden_record_election": 14,
    "pricing_summary": 14,
    "q9_profit_by_nation_year": 14,
    "bloom_prefilter_join": 14,
    "top_customers": 14,
    "topk_revenue_raw_24h": 14,
    "int8_quantized_topk": 14,
}

# (Names pruned from the registry in later rounds are dropped from this
# snapshot too — tier() only consults it for names still registered.)
_R1_VERIFIED: frozenset[str] = frozenset({
    "topk_revenue_raw_24h", "rollup_1m", "merge_rollup_1h",
    "topk_per_key", "filter_eq_project", "dedup_first_seen",
    "distinct_hll", "revenue_by_hour", "pricing_summary",
    "top_customers", "brand_revenue", "customers_without_orders",
    "nations_with_big_suppliers", "running_revenue",
    "token_stats", "quality_score", "docs_exact_dedup", "doc_fingerprint",
    "multimodal_binary_meta", "cosine_topk", "semantic_dedup",
    "embedding_neardup_pairs", "serve_topk_restaurant", "serve_topk_global",
    "serve_topk_revenue", "sql_facade_topk", "ngram_jaccard_neardup",
    "minhash_lsh_neardup", "simhash_neardup", "lsh_ann_topk", "ivf_ann_topk",
    "neardup_cluster_dedup", "lang_id", "json_roundtrip", "revenue_dollars",
    "startree_cube", "regex_token_count", "multimodal_decode",
    "q3_shipping_priority", "q5_region_volume", "asof_view_attribution",
    "sessionize_events",
})


def _driver_rounds(root: str | None = None) -> dict[str, int]:
    """name → newest driver round whose CORRECTNESS row VERIFIES the query,
    from every CORRECTNESS_r{N}.json at the repo root (or `root`, for tests).
    Falls back to the static round-1 snapshot when none are readable.

    Red-aware (round-5 verdict item 2): a row with ``hash_match: false`` is a
    driver-observed FAILURE, not a verification — if a query's newest row is
    red, the query is treated as never-verified (tier 0/1) so it re-enters
    the capped window next round instead of parking in tier 2 forever.
    Rows-only rows (``err: "no_oracle"``, hash_match null) still count: they
    are the driver's weaker-but-recorded check, and the ordering's job is to
    spend the cap on queries with NO evidence, not to re-litigate them."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    # name → (newest round seen, hash_match of that newest row)
    newest: dict[str, tuple[int, object]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for n, row in rows.items():
            hm = row.get("hash_match") if isinstance(row, dict) else True
            if n not in newest or rnd > newest[n][0]:
                newest[n] = (rnd, hm)
    rounds = {n: rnd for n, (rnd, hm) in newest.items() if hm is not False}
    return rounds if newest else {n: 1 for n in _R1_VERIFIED}


def load_all() -> dict[str, Query]:
    """Import all workload modules (side-effect: registration) and return the
    registry, re-ordered so the driver's capped, in-registration-order
    CORRECTNESS pass lands on queries that still lack a row (tiers documented
    at _PRIORITY_MODULES above)."""
    from topk_spark.workload import (  # noqa: F401
        streaming_drain_queries,
        cdc_queries,
        graph_queries,
        sketch3_queries,
        er_queries,
        io_queries,
        layout_queries,
        sketch2_queries,
        corpus_ops_queries,
        recall_queries,
        text4_queries,
        text5_queries,
        changepoint_queries,
        sampling_queries,
        multimodal2_queries,
        graph3_queries,
        containment_queries,
        stats2_queries,
        layout2_queries,
        forecast2_queries,
        behavior2_queries,
        ivm_queries,
        profiling2_queries,
        cluster_queries,
        cover_queries,
        forecast_queries,
        mining_queries,
        curation_queries,
        spectrum_queries,
        augment_queries,
        mmr_queries,
        drift_queries,
        tpch2_queries,
        tpch3_queries,
        behavior_queries,
        hygiene_queries,
        olap_queries,
        relational_queries,
        profiling_queries,
        pipeline2_queries,
        events_queries,
        tpch_queries,
        text_queries,
        similarity_queries,
        serving_queries,
        fuzzy_queries,
        text2_queries,
        joins_queries,
        search_queries,
        timeseries_queries,
        text3_queries,
        graph2_queries,
        governance_queries,
        quant_queries,
        skyline_queries,
        setstats_queries,
        # Round-5 additions: imported LAST so their (unsampled, tier-1)
        # queries sort AFTER the 50 queries already steered into this
        # round's driver window (stable sort preserves import order).
        heavyhitter_queries,
        streaming_join_queries,
        # Round-8: per-event top-K on the StatefulProcessor API; event-time
        # timer-driven emission.
        per_event_topk_queries,
        timer_queries,
        # Round-8 late: KMV distinct sketches (hash-gated mergeability) and
        # the continuous weighted priority sample.
        bottomk_queries,
        # Round-8 late: time-decayed top-K (batch read + continuous state).
        decay_queries,
        # Round-8 late: dashboard serving patterns (top-k + others row,
        # leaderboard rank movement).
        serving2_queries,
        # Round-8 late: continuous CDC last-value materialization (upsert
        # semantics live; late updates provably cannot regress the row).
        cdc2_queries,
    )

    ordered = _ordered_names(_driver_rounds())
    return {n: REGISTRY[n] for n in ordered}


def _ordered_names(rounds: dict[str, int]) -> list[str]:
    """The tier ordering over the CURRENT registry given a name→verified-round
    map. Split out of load_all() so gate tests can exercise the ordering
    against SIMULATED driver histories (round-6 verdict item 1: no test may
    assert the content of the repo's mutable CORRECTNESS artifacts for a
    fixed round — inject the history instead)."""
    prio = {m: i for i, m in enumerate(_PRIORITY_MODULES)}

    def tier(name: str) -> tuple[int, int]:
        last = rounds.get(name, 0)
        if name in _FORCE_RESAMPLE and last < _FORCE_RESAMPLE[name]:
            return (0, -1)
        if last > 0:
            return (2, 0)
        mod = REGISTRY[name].fn.__module__.rsplit(".", 1)[-1]
        return (0, prio[mod]) if mod in prio else (1, 0)

    return sorted(REGISTRY, key=tier)  # stable: in-module order preserved
