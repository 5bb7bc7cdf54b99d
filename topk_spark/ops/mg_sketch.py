"""Weighted Misra-Gries frequent-items kernels, shared by the batch
two-pass heavy hitter (workload/heavyhitter_queries.py) and the streaming
summary-state operator (streaming/heavyhitters.py).

The invariant everything rests on [Misra & Gries 1982; Agarwal et al.,
"Mergeable Summaries", PODS 2012 — public results]: a capacity-`cap`
summary built by "accumulate, then prune by subtracting the (cap+1)-th
largest residual" undercounts any item by at most (total weight
processed)/(cap+1) — each prune destroys >= (cap+1) x cut of tracked
weight, so the cuts any single item can absorb sum to <= W/(cap+1).
Merging summaries (summing their counters, then pruning again) composes:
the merged deficit is bounded by (pre-summary deficits) + (merge cuts),
each <= W/(cap+1), so a summary-of-summaries pipeline with equal caps
guarantees every item above 2W/(cap+1) survives with a positive counter.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd


def mg_add(counters: dict[int, int], keys, weights) -> None:
    """Fold (key, weight) pairs into `counters` (no prune)."""
    for k, w in zip(keys, weights):
        k = int(k)
        counters[k] = counters.get(k, 0) + int(w)


def mg_prune(counters: dict[int, int], cap: int) -> dict[int, int]:
    """If over capacity, subtract the (cap+1)-th largest residual from every
    counter and drop the non-positive ones. Returns the (possibly new)
    dict; <= cap entries."""
    if len(counters) <= cap:
        return counters
    cut = sorted(counters.values(), reverse=True)[cap]
    return {k: v - cut for k, v in counters.items() if v > cut}


def mg_summarize(batches: Iterator[pd.DataFrame], cap: int) -> Iterator[pd.DataFrame]:
    """Weighted Misra-Gries fold over one partition's Arrow batches of
    (cohort, w) (mapInPandas kernel). Accumulates exact (cohort -> w) per
    batch via a vectorized groupby, pruning at each batch boundary. Memory
    is O(cap + batch_distinct) regardless of partition size; the emitted
    summary is <= cap rows (cohort, est)."""
    counters: dict[int, int] = {}
    for pdf in batches:
        part = pdf["w"].groupby(pdf["cohort"]).sum()
        mg_add(counters, part.index, part.values)
        counters = mg_prune(counters, cap)
    yield pd.DataFrame(
        {"cohort": pd.Series(list(counters), dtype="int64"),
         "est": pd.Series(list(counters.values()), dtype="int64")}
    )
