"""Continuous heavy hitters: a global Misra-Gries summary as streaming
state — the bounded-memory frequent-items sibling of the continuous global
top-k (reference: TopKStreamingJob.kt:543-548 funnels all traffic to one
sentinel key; ProcessFunctions.kt:62-134 keeps the bounded per-key heap).

Topology, mirroring the G4 pre-reduce answer to the reference's sentinel
hotspot: each micro-batch first collapses map-side into per-partition MG
summaries (`mapInPandas`, <= cap rows per task — the raw key stream never
shuffles), and only those summary rows converge on the sentinel key, where
`applyInPandasWithState` merges them into the persistent summary (add
counters, prune to cap). By the mergeable-summaries composition
(ops/mg_sketch.py module doc), the state's deficit for any key is at most
2W/(cap+1) of the TOTAL weight processed across all batches — so every key
whose cumulative weight exceeds that bound is guaranteed present, even a
key whose weight arrived entirely in early batches and was never
distinguishable in later ones (what makes cross-batch state continuity
load-bearing, not decorative).

State size: one row of <= cap counters (~1 KiB JSON at cap 63), regardless
of traffic. Per-batch cost at the sentinel: O(partitions x cap) summary
rows, not O(events).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from topk_spark.ops.mg_sketch import mg_add, mg_prune, mg_summarize

SUMMARY_OUTPUT = StructType(
    [
        StructField("cohort", LongType(), False),
        StructField("est", LongType(), False),
    ]
)

_STATE_SCHEMA = StructType([StructField("summary_json", StringType(), True)])


def streaming_mg_summary(stream: DataFrame, cap: int = 63) -> DataFrame:
    """The continuous MG operator over a streaming (cohort, w) frame.
    Emits the full current summary (<= cap rows of (cohort, est)) every
    micro-batch; downstream consumers take the last emission per run (the
    drain filters to the final micro-batch id)."""
    pre = stream.select("cohort", "w").mapInPandas(lambda it: mg_summarize(it, cap), schema="cohort long, est long")

    def merge(
        _key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        counters: dict[int, int] = (
            {int(k): int(v) for k, v in json.loads(state.get[0]).items()}
            if state.exists
            else {}
        )
        for pdf in pdfs:
            mg_add(counters, pdf["cohort"], pdf["est"])
            counters = mg_prune(counters, cap)
        state.update((json.dumps(counters),))
        yield pd.DataFrame(
            {
                "cohort": pd.Series(list(counters), dtype="int64"),
                "est": pd.Series(list(counters.values()), dtype="int64"),
            }
        )

    return (
        pre.withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandasWithState(
            merge,
            SUMMARY_OUTPUT,
            _STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
