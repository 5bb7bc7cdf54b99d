"""Distinct-count operators, exact and sketched (SURVEY.md §2 A6-A8).

The reference *intends* HLL (rollup schema declares BYTES,
orders_1m_rollup_schema.json:50-53; queries call DISTINCTCOUNTHLL,
pinot/README.md:5) but actually materializes a fake string
"hll:<setSize>:<hashCode>" (TopKStreamingJob.kt:168-169). We implement the
declared capability properly with Spark 3.5+ Datasketches HLL:

- build:  hll_sketch_agg(col)        → binary sketch per group
- merge:  hll_union_agg(sketch)      → re-aggregable across windows (A9)
- read:   hll_sketch_estimate(sketch)

Scale note: exact distinct (`collect_set`, A6) holds the whole set in state —
fine per 1-minute window, catastrophic at 100 TB global grain. The rollup
ladder stores sketches (fixed ~KB per group) so hourly/daily uniques come from
sketch merges, never from rescanning raw data.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def exact_distinct(col: str) -> Column:
    """Exact distinct count (A6 — the reference's MutableSet union)."""
    return F.count_distinct(F.col(col)).cast("long")


# log2 of the HLL register count: 4096 registers, ~1.6% standard error.
_HLL_LG_K = 12


def hll_sketch(col: str) -> Column:
    """HLL sketch aggregate (A8 done right): binary, mergeable,
    2^_HLL_LG_K registers."""
    return F.hll_sketch_agg(F.col(col), F.lit(_HLL_LG_K))


def hll_estimate(sketch_col: str | Column) -> Column:
    """Sketch → estimated distinct count (A7, DISTINCTCOUNTHLL analog)."""
    c = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    return F.hll_sketch_estimate(c).cast("long")


