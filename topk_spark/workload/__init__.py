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


def load_all() -> dict[str, Query]:
    """Import all workload modules (side-effect: registration) and return the
    registry in import order. The list is in registration order: a module
    imported by another registers when first imported."""
    from topk_spark.workload import (  # noqa: F401
        events_queries,
        streaming_drain_queries,
        cdc_queries,
        graph_queries,
        sketch3_queries,
        er_queries,
        layout_queries,
        io_queries,
        sketch2_queries,
        corpus_ops_queries,
        recall_queries,
        text4_queries,
        text5_queries,
        changepoint_queries,
        sampling_queries,
        multimodal2_queries,
        graph2_queries,
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
        similarity_queries,
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
        tpch_queries,
        text_queries,
        serving_queries,
        fuzzy_queries,
        text2_queries,
        joins_queries,
        search_queries,
        timeseries_queries,
        text3_queries,
        governance_queries,
        quant_queries,
        skyline_queries,
        setstats_queries,
        heavyhitter_queries,
        streaming_join_queries,
        per_event_topk_queries,
        timer_queries,
        bottomk_queries,
        decay_queries,
        serving2_queries,
        cdc2_queries,
    )

    return dict(REGISTRY)


