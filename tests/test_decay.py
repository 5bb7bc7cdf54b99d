"""Time-decayed top-K (round-8 late): reset counterfactual, lossless
prune at the 63-shift horizon, and checkpoint-restart continuity."""

from __future__ import annotations

import pyspark.sql.functions as F

from topk_spark.workload.decay_queries import _bucketed, _finalize_decay


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _bucket_sums(df):
    return df.groupBy("event_type", "user_id", "bucket").agg(
        F.sum("w").cast("long").alias("w_sum")
    )


def test_state_reset_counterfactual(spark, sf_dir):
    """A sampler whose bucket state reset per batch would finalize from the
    last tile's buckets only — the decayed values (and generally the
    ranking) differ, so the drain oracle catches the reset."""
    from topk_spark.workload.drain import range_tile

    src = _bucketed(spark, sf_dir)
    tiled = range_tile(src, "bucket", 3)
    full = _rows(_finalize_decay(_bucket_sums(src)))
    reset = _rows(
        _finalize_decay(
            _bucket_sums(tiled.where(F.col("_tile") == 2).drop("_tile"))
        )
    )
    assert full != reset


def test_prune_is_lossless_beyond_63_shifts(spark):
    """Synthetic stream spanning 100 half-life buckets: the streaming
    state prunes buckets >= 63 shifts behind each key's newest, and the
    finalize defines those contributions as zero — so the drained result
    must equal the batch finalize over the UNPRUNED bucket sums."""
    from topk_spark.streaming.decayed_topk import streaming_decayed_buckets
    from topk_spark.workload.drain import drain, range_tile

    src = (
        spark.range(100)
        .select(
            F.lit("t").alias("event_type"),
            (F.col("id") % 7).cast("long").alias("user_id"),
            F.col("id").cast("long").alias("bucket"),
            (F.lit(1_000_000_000) + F.col("id") * 17).cast("long").alias("w"),
        )
    )
    drained = drain(
        spark,
        range_tile(src, "bucket", 3),
        lambda s: streaming_decayed_buckets(s),
        output_mode="update",
        last_per=["event_type", "user_id"],
        tiles=3,
    )
    # prune actually engaged: no surviving bucket is >= 63 behind its
    # key's newest
    spans = drained.groupBy("user_id").agg(
        (F.max("bucket") - F.min("bucket")).alias("span")
    )
    assert all(r["span"] <= 62 for r in spans.collect())
    assert _rows(_finalize_decay(drained)) == _rows(
        _finalize_decay(_bucket_sums(src))
    )


def test_restart_continuity(spark, sf_dir):
    """Generation 1 sees tile 0 only; the restarted query must restore the
    early bucket sums from the checkpoint — their shifted contributions
    are nonzero at HL=3d, so loss would change decayed_cents."""
    from topk_spark.workload.decay_queries import _decay_drain

    drained_topk = _decay_drain(spark, sf_dir, restart_after=1)
    batch = _bucket_sums(_bucketed(spark, sf_dir))
    assert _rows(drained_topk) == _rows(_finalize_decay(batch))
