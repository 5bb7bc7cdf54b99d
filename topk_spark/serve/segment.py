"""Hot top-K segment: the newest 24 h of the rollup tier held as one
driver-side Arrow table, answering the three reference top-K routes with
`pyarrow.compute` and no Spark job per request — the role Pinot's in-memory
realtime segments play for the reference's REST reads (PAPER.md §1.1).

Built once, on the first top-K request (`HotSegment.read`, under a lock:
Flask's server is threaded), by two Spark actions: one scalar
`max(window_start)` and one `toArrow()` of the rows at or after
`cutoff = max(window_start) - HOT_SPAN_MS`. A read then runs the same four
steps as serve/api.py's plan: closed-containment mask, group-by with
sum-of-sums / min / max, the same deterministic sort keys, first k rows.

Every rule below keeps a segment answer byte-identical to the Spark path;
a request the segment cannot answer exactly gets `None` and goes to Spark.

- Snapshot only. A DataFrame read from files fixes its file listing when it
  is created, so copying it once serves the rows every per-request plan
  would read. The segment is built only when the DataFrame is not streaming
  and every leaf of its analyzed plan is a file relation over a fixed
  listing (`InMemoryFileIndex`, `MetadataLogFileIndex`) or local data
  (`LocalRelation`, `LogicalRDD`, `Range`). Any other leaf — a memory
  sink's `MemoryPlan` re-reads a growing buffer, a `DataSourceV2Relation`
  may too — keeps every request on Spark.
- Bounded. The table holds the hot span only, at most `MAX_ROWS` rows (no
  segment past that). A request is answered iff `start >= cutoff`: closed
  containment then puts every window it sums inside the table.
- Exact. No segment when a key, window bound or summed column holds a null
  (Arrow sorts nulls last for ascending keys, Spark first), when a key
  column is not a string or a number column not an integer, or when
  `max|x| * rows >= 2^63` for a summed column (Arrow's hash sum wraps,
  the pinned-ANSI Spark sum raises). k outside 0..2^31-1 and range bounds
  outside the long range go to Spark, so its errors stay as they are.
"""

from __future__ import annotations

import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StringType

from topk_spark.schemas import GLOBAL_SENTINEL
from topk_spark.serve.api import _TOPK_COLUMNS

HOT_SPAN_MS = 24 * 3_600_000
MAX_ROWS = 1_000_000

_STRINGS = ("restaurant_id", "menu_item_id", "menu_item_name")
_WINDOW = ("window_start", "window_end")
_SUMMED = ("order_count", "sum_quantity", "sum_revenue_cents")
_NOT_NULL = ("restaurant_id", "menu_item_id", *_WINDOW, *_SUMMED)
_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1
_INT_MAX = 2**31 - 1

_SNAPSHOT_LEAVES = {"LocalRelation", "LogicalRDD", "Range"}
_SNAPSHOT_INDEXES = {"InMemoryFileIndex", "MetadataLogFileIndex"}

# group-by output → response column (serve/api._aggregate_range's names)
_AGGS = (
    ("order_count", "sum", "order_count"),
    ("sum_quantity", "sum", "total_quantity"),
    ("sum_revenue_cents", "sum", "total_revenue_in_cents"),
    ("window_start", "min", "window_start"),
    ("window_end", "max", "window_end"),
    ("menu_item_name", "min", "menu_item_name"),
)
_OUT = {f"{c}_{fn}": out for c, fn, out in _AGGS}
_BY_COUNT = [("order_count", "descending"), ("menu_item_id", "ascending")]
_BY_REVENUE = [
    ("total_revenue_in_cents", "descending"),
    ("window_end", "descending"),
    ("menu_item_id", "ascending"),
]


def is_snapshot(df: DataFrame) -> bool:
    """True when every leaf of `df`'s analyzed plan reads a fixed set of
    rows: a file relation over a listing taken at creation, or local data."""
    if df.isStreaming:
        return False
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()  # noqa: SLF001
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation":
            try:
                kind = leaf.relation().location().getClass().getSimpleName()
            except Py4JError:  # not a file relation
                return False
            if kind not in _SNAPSHOT_INDEXES:
                return False
        elif kind not in _SNAPSHOT_LEAVES:
            return False
    return True


def _exact_types(df: DataFrame) -> bool:
    types = {f.name: f.dataType for f in df.schema.fields}
    return all(isinstance(types.get(c), StringType) for c in _STRINGS) and all(
        isinstance(types.get(c), _INTEGRAL) for c in (*_WINDOW, *_SUMMED)
    )


def build(rollup: DataFrame) -> tuple[pa.Table, int] | None:
    """The hot span of `rollup` as an Arrow table and its cutoff, or None
    when a segment could not answer exactly."""
    if not _exact_types(rollup) or not is_snapshot(rollup):
        return None
    newest = rollup.agg(F.max("window_start")).first()[0]
    if newest is None:
        return None
    cutoff = newest - HOT_SPAN_MS
    table = (
        rollup.filter(F.col("window_start") >= F.lit(cutoff))
        .select(*_STRINGS, *_WINDOW, *_SUMMED)
        .limit(MAX_ROWS + 1)
        .toArrow()
    )
    if table.num_rows > MAX_ROWS:
        return None
    if any(table[c].null_count for c in _NOT_NULL):
        return None
    for c in _SUMMED:
        lo, hi = pc.min_max(table[c]).values()
        if max(abs(lo.as_py()), abs(hi.as_py())) * table.num_rows >= 2**63:
            return None
    return table, cutoff


class HotSegment:
    """Lazily built hot segment over one rollup DataFrame; `read` answers a
    top-K request from it or returns None for the Spark path."""

    def __init__(self, rollup: DataFrame):
        self._rollup = rollup
        self._lock = threading.Lock()
        self._built = False
        self._segment: tuple[pa.Table, int] | None = None

    def _load(self) -> tuple[pa.Table, int] | None:
        if not self._built:
            with self._lock:
                if not self._built:
                    self._segment = build(self._rollup)
                    self._built = True
        return self._segment

    def read(
        self,
        restaurant_id: str | None,
        start_ms: int,
        end_ms: int,
        k: int,
        by_revenue: bool = False,
    ) -> list[dict] | None:
        """Items of the top-k over [start, end] for one restaurant (None:
        all restaurants, sentinel 'ALL'), ranked by order_count or by
        revenue — what serve/api.py's three reads collect, or None when
        the request must go to Spark."""
        if not (0 <= k <= _INT_MAX and _LONG_MIN <= end_ms <= _LONG_MAX
                and start_ms <= _LONG_MAX):
            return None
        segment = self._load()
        if segment is None or start_ms < segment[1]:
            return None
        table = segment[0]
        mask = pc.and_(
            pc.greater_equal(table["window_start"], start_ms),
            pc.less_equal(table["window_end"], end_ms),
        )
        if restaurant_id is not None:
            mask = pc.and_(mask, pc.equal(table["restaurant_id"], restaurant_id))
        agg = table.filter(mask).group_by("menu_item_id").aggregate(
            [(c, fn) for c, fn, _ in _AGGS]
        )
        agg = agg.rename_columns([_OUT.get(c, c) for c in agg.column_names])
        top = agg.sort_by(_BY_REVENUE if by_revenue else _BY_COUNT).slice(0, k)
        cols = top.to_pydict()
        cols["restaurant_id"] = [
            GLOBAL_SENTINEL if restaurant_id is None else restaurant_id
        ] * top.num_rows
        cols["rank"] = range(1, top.num_rows + 1)
        return [dict(zip(_TOPK_COLUMNS, row))
                for row in zip(*(cols[c] for c in _TOPK_COLUMNS))]

