"""The drain harness: how every oracle-gated streaming query replays its
fixture through a REAL streaming query and hands the output back as a batch
DataFrame a DuckDB oracle can hash against.

`drain()` writes each source as parquet "arrivals", runs `build(*streams)`
over file streams of them with `trigger(availableNow=True)` into a parquet
sink, and returns the sink's rows. State store, checkpoint and Arrow state
serde are the same execution path the continuous-trigger deployment uses;
only the trigger differs.

Source layouts:

* Untiled (default): each source is ONE file, so the drain is a single
  micro-batch and update-mode emissions are final-state rows. The `last_per`
  guard (max batch id per key) keeps the result well-defined if the engine
  ever splits the drain.
* Tiled (`tiles=n`): every source carries a `_tile` column in [0, n) and is
  written as n single-file arrivals with mtimes staggered 10 s apart; each
  FileStreamSource (maxFilesPerTrigger=1, latestFirst=false) replays them
  oldest-first, so micro-batch i sees exactly tile i of EVERY source — one
  shared arrival timeline for multi-source (join) drains. `range_tile`
  attaches equal-WIDTH event-time ranges (one min/max aggregate plus a
  broadcast, no global-order window), which makes arrival order ==
  event-time order: what lets a relational oracle predict cross-batch
  first-seen, join-emission and window-close semantics exactly (the oracles
  reproduce the boundary arithmetic via `TILE_EXPR_SQL`/`bounds_sql`). This
  is the topology a production backfill uses too: range-split by time
  partitions. A caller-built `_tile` expresses NON-monotone schedules (e.g.
  stale replays of early rows arriving in a late tile).

`restart_after=k` (tiled only) splits the drain into TWO query generations
on the SAME checkpoint: generation 1 sees only tiles < k (later tile files
are held out of every source dir), terminates believing the stream is
drained, and a freshly-built query — new readStream lineage, nothing shared
but the checkpoint — processes the restored tiles. Everything a restart must
preserve (state, per-operator watermarks, the source's processed-files log)
comes from the checkpoint alone.

Every temp root a drain (or a drain's side tier) creates is listed in one
module-level list and removed at interpreter exit. A drain deletes its own
sources, tile scratch and checkpoint as soon as its last generation ends,
leaving only the sink the returned DataFrame reads.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

_TMP_ROOTS: list[str] = []


def _cleanup() -> None:
    for d in _TMP_ROOTS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup)


def drain_tmpdir(prefix: str) -> str:
    """A fresh temp directory removed at interpreter exit."""
    root = tempfile.mkdtemp(prefix=prefix)
    _TMP_ROOTS.append(root)
    return root


def range_tile(df: DataFrame, col: str, n: int) -> DataFrame:
    """Attach `_tile` in [0, n): equal-WIDTH event-time ranges between the
    column's min and max, computed from ONE min/max aggregate broadcast back
    onto the rows — no global-order window (an `ntile(n) OVER (ORDER BY
    col)` is a single-partition sort of the whole source; a 100×-scale
    fixture prep cannot afford that). Exact integer microsecond arithmetic,
    reproduced verbatim in the DuckDB oracles via `TILE_EXPR_SQL`:

        tile = least(n-1, (us - tmin) * n div (tmax - tmin + 1))

    Monotone in `col`, so tile order == event-time order (what the ordered
    replay needs); the +1 keeps the max row in tile n-1 without a branch.

    `col` may also be an integer column (e.g. doc_id for a corpus stream):
    the ranges are then over the raw values — same arithmetic, no epoch
    conversion."""
    us = (
        f"unix_micros({col})"
        if dict(df.dtypes)[col].startswith("timestamp")
        else f"CAST({col} AS BIGINT)"
    )
    b = df.agg(
        F.expr(f"min({us})").alias("_tmin"), F.expr(f"max({us})").alias("_tmax")
    )
    return (
        df.crossJoin(F.broadcast(b))
        .withColumn(
            "_tile",
            F.least(
                F.lit(n - 1),
                F.expr(f"({us} - _tmin) * {n} div (_tmax - _tmin + 1)"),
            ).cast("int"),
        )
        .drop("_tmin", "_tmax")
    )


# Oracle-side twin of `range_tile(df, "ts", 3)`'s arithmetic, expecting a
# joined relation `b(tmin, tmax)` in scope (see `bounds_sql`). DuckDB `//`
# is BIGINT floor division; both operands are non-negative, so it agrees
# exactly with Spark's `div`.
TILE_EXPR_SQL = "CAST(least(2, (epoch_us(ts) - b.tmin) * 3 // (b.tmax - b.tmin + 1)) AS INT)"


def bounds_sql(rel: str) -> str:
    """`b AS (...)` body: the min/max microsecond bounds of `rel`.`ts` —
    MUST range over exactly the rows the Spark side passed to range_tile."""
    return f"(SELECT epoch_us(min(ts)) AS tmin, epoch_us(max(ts)) AS tmax FROM {rel})"


_WRITERS = "spark.sql.maxConcurrentOutputFileWriters"


def _write_ordered_tiles(
    part_df: DataFrame,
    root: str,
    name: str,
    n: int,
    base_mtime: float | None,
) -> tuple[str, float]:
    """Write `part_df` (carrying a `_tile` column in [0, n)) as n single-file
    parquet 'arrivals' under root/name, mtimes staggered 10 s apart from
    `base_mtime` (the first file's own mtime when None); the returned base
    puts the next source on the same arrival timeline.

    An empty tile is a fixture bug, not an engine condition: Spark may emit
    zero part files for an empty write, which would silently collapse the
    batch schedule the oracles derive — fail loudly instead."""
    src = os.path.join(root, name)
    os.makedirs(src, exist_ok=True)
    tiled = os.path.join(root, f"{name}_tiles")
    # One job writes every tile: its single task appends each row to its
    # tile's file in source order. With a writer per tile held open, Spark
    # plans no sort by `_tile`, which would not keep that order.
    conf = part_df.sparkSession.conf
    writers = conf.get(_WRITERS)
    conf.set(_WRITERS, str(n))
    try:
        part_df.coalesce(1).write.mode("overwrite").partitionBy("_tile").parquet(tiled)
    finally:
        conf.set(_WRITERS, writers)
    for i in range(n):
        tdir = os.path.join(tiled, f"_tile={i}")
        parts = [f for f in os.listdir(tdir) if f.endswith(".parquet")] if os.path.isdir(tdir) else []
        if len(parts) != 1:
            raise RuntimeError(
                f"tile {i}/{n} of drain source '{name}' produced "
                f"{len(parts)} part files — every tile must be non-empty "
                f"for the ordered replay (batch i == tile i) the oracle "
                f"assumes; regenerate the fixture or lower the tile count"
            )
        dst = os.path.join(src, f"{i:04d}.parquet")
        os.replace(os.path.join(tdir, parts[0]), dst)
        if base_mtime is None:
            base_mtime = os.stat(dst).st_mtime
        os.utime(dst, (base_mtime + 10 * i, base_mtime + 10 * i))
    return src, base_mtime


def _restart_generations(
    run_generation: Callable[[], None],
    src_dirs: list[str],
    restart_after: int | None,
    root: str,
) -> None:
    """Hold tile files >= `restart_after` out of every source dir, run
    generation 1, restore the held files with their original mtimes
    (preserving the oldest-first arrival order), and run a freshly-built
    generation 2 on the same checkpoint. With `restart_after=None`, runs a
    single generation."""
    held: list[tuple[str, str, float]] = []
    if restart_after is not None:
        holdout = os.path.join(root, "holdout")
        os.makedirs(holdout)
        for src in src_dirs:
            for fn in sorted(os.listdir(src)):
                if fn.endswith(".parquet") and int(fn.split(".")[0]) >= restart_after:
                    p = os.path.join(src, fn)
                    h = os.path.join(holdout, os.path.basename(src) + "_" + fn)
                    mt = os.stat(p).st_mtime
                    shutil.move(p, h)
                    held.append((h, p, mt))

    run_generation()

    if restart_after is not None:
        for h, p, mt in held:
            shutil.move(h, p)
            os.utime(p, (mt, mt))
        run_generation()


def drain(
    spark: SparkSession,
    sources: DataFrame | Sequence[DataFrame],
    build: Callable[..., DataFrame],
    output_mode: str = "update",
    last_per: list[str] | None = None,
    tiles: int | None = None,
    keep_bid: bool = False,
    restart_after: int | None = None,
    batch_transform: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Run `build(*streams)` — one file stream per source, in order — drained
    with availableNow into a parquet sink; return the drained rows (layouts
    and restarts: module docstring).

    `last_per`: for update-mode stateful operators that re-emit a key's
    state every micro-batch, keep only each key-group's final (max batch id)
    emission.

    `tiles=n`: replay every source (each must carry `_tile` in [0, n)) as n
    ordered arrivals, micro-batch i == tile i.

    `keep_bid`: surface the sink's micro-batch id as `_bid` so the caller
    can PROVE multi-batch execution inside the hashed output.

    `restart_after=k` (requires `tiles`): stop after tiles < k and resume
    the rest in a freshly-built query on the same checkpoint.

    `batch_transform`: applied to each micro-batch INSIDE foreachBatch
    before the sink write — the rank-on-close hook. In append mode a
    window's rows are all flushed in the one micro-batch whose watermark
    closes it, so a per-window transform (e.g. rank within window) sees
    every row of each window it touches and composes correctly across
    batches and restarts.
    """
    srcs = [sources] if isinstance(sources, DataFrame) else list(sources)
    if restart_after is not None and tiles is None:
        raise ValueError(
            "restart_after requires a tile count — the tiled layout is the "
            "only one with a defined per-batch schedule to hold out and restore"
        )
    if tiles is not None and any("_tile" not in df.columns for df in srcs):
        raise ValueError(
            f"tiles={tiles} requires every source to carry a `_tile` column "
            f"(range_tile attaches event-time ranges)"
        )
    root = drain_tmpdir("topk_spark_drain_")
    out = os.path.join(root, "out")
    dirs: list[str] = []
    schemas = []
    base = None
    for i, df in enumerate(srcs):
        if tiles is None:
            src = os.path.join(root, f"src{i}")
            df.coalesce(1).write.mode("overwrite").parquet(src)
        else:
            src, base = _write_ordered_tiles(df, root, f"src{i}", tiles, base)
            df = df.drop("_tile")
        dirs.append(src)
        schemas.append(df.schema)

    result_schema = None

    def write_batch(df: DataFrame, bid: int) -> None:
        if batch_transform is not None:
            df = batch_transform(df)
        df.withColumn("_bid", F.lit(int(bid))).write.mode("append").parquet(out)

    def run_generation() -> None:
        nonlocal result_schema
        streams = []
        for src, schema in zip(dirs, schemas):
            reader = spark.readStream.schema(schema)
            if tiles is not None:
                reader = reader.option("maxFilesPerTrigger", 1).option(
                    "latestFirst", "false"
                )
            streams.append(reader.parquet(src))
        result = build(*streams)
        # the zero-emission fallback must carry the SINK schema: apply the
        # batch transform to an empty batch twin to derive it
        result_schema = (
            result.schema
            if batch_transform is None
            else batch_transform(spark.createDataFrame([], result.schema)).schema
        )
        q = (
            result.writeStream.foreachBatch(write_batch)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _restart_generations(run_generation, dirs, restart_after, root)
    # Only `out` is read from here on. Free the sources, checkpoint and
    # holdout now: on a disk with slow unlinks, one exit-time sweep over
    # every drain's files stalls a full-registry run for minutes.
    for name in os.listdir(root):
        if name != "out":
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)

    if not os.path.isdir(out):  # zero emissions end-to-end
        return spark.createDataFrame([], result_schema)
    drained = spark.read.parquet(out)
    if last_per:
        w = Window.partitionBy(*last_per)
        drained = drained.withColumn("_mb", F.max("_bid").over(w)).where(
            F.col("_bid") == F.col("_mb")
        ).drop("_mb")
    return drained if keep_bid else drained.drop("_bid")


def under_rocksdb(spark: SparkSession, run: Callable[[], DataFrame]) -> DataFrame:
    """Execute a drain under the RocksDB state-store provider, restoring the
    previous conf afterwards (it is read at streaming-query start, so a
    driver-owned session is left untouched; the drain's streaming queries
    have fully terminated before the restore — the returned DataFrame is a
    batch read of the sink). Falls back to the default store on a build
    without the provider; results are identical either way."""
    from topk_spark.session import _STATE_STORE_CONF, set_state_store

    try:
        prev = spark.conf.get(_STATE_STORE_CONF)
    except Exception:
        prev = None
    applied = set_state_store(spark, "rocksdb")
    try:
        return run()
    finally:
        if applied:
            if prev is None:
                spark.conf.unset(_STATE_STORE_CONF)
            else:
                spark.conf.set(_STATE_STORE_CONF, prev)
