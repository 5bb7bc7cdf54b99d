"""Hot top-K segment: the newest 24 h of the rollup tier copied once into
driver memory and indexed, answering the three reference top-K routes with
numpy over the index and no Spark job per request — the role Pinot's
in-memory realtime segments play for the reference's REST reads (PAPER.md §1.1).

Built once, on the first top-K request (`HotSegment.read`, under a lock:
Flask's server is threaded), by two Spark actions: one scalar
`max(window_start)` and one `toArrow()` of the rows at or after
`cutoff = max(window_start) - HOT_SPAN_MS`. `index` then lays the rows out
the way Pinot lays out the reference's 1-minute rollup table, sorted on
`(restaurant_id, window_start_1m)` (`orders_1m_rollup_table.json:16-20`),
in Arrow and numpy kernels:

- Rows sorted by (restaurant, window_start), with per-restaurant offsets:
  a point read is a dict lookup and two binary searches. A global read is
  one masked pass over all rows.
- Item ids and names coded against their distinct values sorted ascending,
  so code order is Arrow's and Spark's UTF-8 byte order and
  `min(menu_item_name)` is the name of the smallest code.

A read then runs serve/api.py's plan on the rows it selected: group per
item code with int64 sum-of-sums / min / max (`np.add.at` and its min/max
twins into one slot per code present), rank with the same keys and
tie-breaks (`np.lexsort`), first k rows.

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
  (the index's int64 columns have none; Spark groups and sorts them), when
  a key column is not a string or a number column not an integer, when
  `max|x| * rows >= 2^63` for a summed column (an int64 sum would wrap,
  the pinned-ANSI Spark sum raises), or when a window ends before it
  starts (point reads bound window_start by the range end). k outside
  0..2^31-1 and range bounds outside the long range go to Spark, so its
  errors stay as they are.
"""

from __future__ import annotations

import threading
from itertools import count, repeat

import numpy as np
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

# The rows of an index matrix: one int64 row per field, one column per
# rollup row (or per item, once grouped). Summed fields, then min, then max.
_ITEM, _COUNT, _QTY, _REV, _START, _NAME, _END = range(7)
_SUMS, _MINS = slice(_COUNT, _START), slice(_START, _END)


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


def build(rollup: DataFrame) -> _Index | None:
    """The hot span of `rollup`, indexed, or None when a segment could not
    answer exactly."""
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
    return index(table, cutoff)


def _coded(col: pa.ChunkedArray) -> tuple[np.ndarray, pa.Array]:
    """`col` as int64 codes into its distinct values sorted ascending, and
    those values followed by one null: a null codes to that last slot."""
    enc = col.combine_chunks().dictionary_encode()
    order = pc.sort_indices(enc.dictionary)
    rank = np.empty(len(order) + 1, np.int64)
    rank[order.to_numpy()] = np.arange(len(order))
    rank[-1] = len(order)
    values = pa.concat_arrays(
        [enc.dictionary.take(order), pa.nulls(1, enc.dictionary.type)]
    )
    return rank[enc.indices.fill_null(len(order)).to_numpy()], values


def _group(rows: np.ndarray) -> np.ndarray:
    """One column per item code in `rows`, in code order: its rows' fields
    summed, min'd or max'd. Costs one pass over `rows` plus one over the
    codes up to the largest present, with no sort."""
    present = np.bincount(rows[_ITEM])
    items = np.flatnonzero(present)
    slot = np.empty(present.size, np.intp)
    slot[items] = np.arange(items.size)
    slot = slot[rows[_ITEM]]
    out = np.empty((rows.shape[0], items.size), np.int64)
    out[_ITEM], out[_SUMS], out[_MINS], out[_END] = items, 0, _LONG_MAX, _LONG_MIN
    for f in range(_COUNT, _START):
        np.add.at(out[f], slot, rows[f])
    for f in range(_START, _END):
        np.minimum.at(out[f], slot, rows[f])
    np.maximum.at(out[_END], slot, rows[_END])
    return out


def index(table: pa.Table, cutoff: int) -> _Index | None:
    """`table`'s rollup rows (the hot span from `cutoff` on) indexed for
    `_Index.read`, or None when the index could not answer exactly."""
    if not table.num_rows or any(table[c].null_count for c in _NOT_NULL):
        return None
    ints = {c: table[c].to_numpy().astype(np.int64, copy=False)
            for c in (*_WINDOW, *_SUMMED)}
    for c in _SUMMED:
        bound = max(abs(int(ints[c].min())), abs(int(ints[c].max())))
        if bound * table.num_rows >= 2**63:
            return None
    if np.any(ints["window_end"] < ints["window_start"]):
        return None
    rids, restaurants = _coded(table["restaurant_id"])
    items, item_ids = _coded(table["menu_item_id"])
    names, item_names = _coded(table["menu_item_name"])
    rows = np.stack([items, *(ints[c] for c in _SUMMED), ints["window_start"],
                     names, ints["window_end"]])
    order = np.lexsort((rows[_START], rids))
    rows, rids = rows.take(order, axis=1), rids[order]
    offsets = np.searchsorted(rids, np.arange(len(restaurants))).tolist()
    # the trailing null slot has no next offset, so zip leaves it out
    blocks = dict(zip(restaurants.to_pylist(), zip(offsets, offsets[1:])))
    return _Index(cutoff, rows, blocks, item_ids, item_names)


class _Index:
    """The indexed hot span (see the module docstring); read-only once
    built, so concurrent reads need no lock."""

    def __init__(self, cutoff, rows, blocks, item_ids, item_names):
        self.cutoff = cutoff
        self._rows = rows  # sorted by (restaurant, start)
        self._blocks = blocks  # restaurant_id -> its (lo, hi) columns
        self._item_ids = item_ids
        self._item_names = item_names

    def read(self, restaurant_id: str | None, start: int, end: int, k: int,
             by_revenue: bool) -> list[dict]:
        """serve/api.py's top-k rows over [start, end] (closed containment)
        for one restaurant, or for all under the sentinel id when None."""
        if restaurant_id is None:
            rows = self._rows
            rows = rows.compress((rows[_START] >= start) & (rows[_END] <= end), axis=1)
        else:
            rows = self._point(restaurant_id, start, end)
        g = _group(rows)
        if by_revenue:
            keys = (g[_ITEM], ~g[_END], ~g[_REV])  # ~x: descending, no overflow
        else:
            keys = (g[_ITEM], ~g[_COUNT])
        top = g[:, np.lexsort(keys)[:k]]
        rid = GLOBAL_SENTINEL if restaurant_id is None else restaurant_id
        cols = zip(
            repeat(rid),
            self._item_ids.take(top[_ITEM]).to_pylist(),
            self._item_names.take(top[_NAME]).to_pylist(),
            count(1),
            *top[[_COUNT, _QTY, _REV, _START, _END]].tolist(),
        )
        return [dict(zip(_TOPK_COLUMNS, row)) for row in cols]

    def _point(self, restaurant_id: str, start: int, end: int) -> np.ndarray:
        lo, hi = self._blocks.get(restaurant_id, (0, 0))
        starts = self._rows[_START, lo:hi]
        # a window ends no earlier than it starts: none starting after end
        a = lo + np.searchsorted(starts, start)
        b = lo + np.searchsorted(starts, end, "right")
        rows = self._rows[:, a:b]
        return rows.compress(rows[_END] <= end, axis=1)


class HotSegment:
    """Lazily built hot segment over one rollup DataFrame; `read` answers a
    top-K request from it or returns None for the Spark path."""

    def __init__(self, rollup: DataFrame):
        self._rollup = rollup
        self._lock = threading.Lock()
        self._built = False
        self._segment: _Index | None = None

    def _load(self) -> _Index | None:
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
        if not (0 <= k <= _INT_MAX and _LONG_MIN <= start_ms <= _LONG_MAX
                and _LONG_MIN <= end_ms <= _LONG_MAX):
            return None
        segment = self._load()
        if segment is None or start_ms < segment.cutoff:
            return None
        return segment.read(restaurant_id, start_ms, end_ms, k, by_revenue)
