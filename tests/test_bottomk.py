"""KMV bottom-k sketch + continuous priority sample (round-8 late).

What must hold:
- the two-level (bucketed local sketches -> merge) plan returns EXACTLY
  the direct single-level bottom-k — the mergeability identity the 100 TB
  story leans on, as frame equality, not estimate closeness;
- a group holding fewer than k distinct hashes reports its exact count;
- the k=64 estimate lands within the estimator's statistical error of the
  true distinct count on real data;
- the streaming sample's cross-batch state is load-bearing (last tile
  alone gives a DIFFERENT sample) and survives a checkpoint restart.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from topk_spark.ops.kmv import bottom_k_distinct, kmv_estimate, u48_expr
from topk_spark.workload.bottomk_queries import (
    _M_PER_SOURCE,
    _ud_hashed,
    _with_priority,
)
from topk_spark.io.sources import load_table


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_two_level_equals_direct(spark, sf_dir):
    h = _ud_hashed(spark, sf_dir)
    direct = bottom_k_distinct(h, ["event_type"], "u", k=64, pre_buckets=1)
    merged = bottom_k_distinct(h, ["event_type"], "u", k=64, pre_buckets=32)
    assert _sorted_rows(direct) == _sorted_rows(merged)
    # and not vacuously: every group is at the cap
    per_group = {r[0]: r[1] for r in direct.groupBy("event_type").count().collect()}
    assert per_group and all(v == 64 for v in per_group.values())


def test_below_k_exact_fallback(spark):
    df = spark.range(10).select(
        F.lit("g").alias("g"), u48_expr(F.col("id")).alias("u")
    )
    sk = bottom_k_distinct(df, ["g"], "u", k=64, pre_buckets=4)
    [row] = kmv_estimate(sk, ["g"], "u", k=64).collect()
    assert row["est_distinct"] == 10


def test_estimate_within_statistical_error(spark, sf_dir):
    h = _ud_hashed(spark, sf_dir)
    sk = bottom_k_distinct(h, ["event_type"], "u", k=64, pre_buckets=32)
    est = {
        r["event_type"]: r["est_distinct"]
        for r in kmv_estimate(sk, ["event_type"], "u", k=64).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in h.groupBy("event_type")
        .agg(F.countDistinct("u").alias("n"))
        .collect()
    }
    # KMV relative stderr ~ 1/sqrt(k-2) ~ 12.7% at k=64; 3 sigma = 38%.
    # The md5 hash is fixed, so this is a deterministic regression pin,
    # not a flaky statistical test.
    for g, n in exact.items():
        assert n >= 64, "fixture too small to exercise the estimator"
        assert abs(est[g] - n) <= 0.38 * n, (g, est[g], n)


def test_merge_across_groups_equals_direct_global(spark, sf_dir):
    h = _ud_hashed(spark, sf_dir)
    per_type = bottom_k_distinct(h, ["event_type"], "u", k=64, pre_buckets=32)
    merged = per_type.select("u").distinct().withColumn("_g", F.lit(0))
    via_merge = bottom_k_distinct(merged, ["_g"], "u", k=64, pre_buckets=1)
    direct = bottom_k_distinct(
        h.select("u").withColumn("_g", F.lit(0)), ["_g"], "u", k=64,
        pre_buckets=1,
    )
    assert _sorted_rows(via_merge.select("u", "rn")) == _sorted_rows(
        direct.select("u", "rn")
    )


def test_streaming_kmv_reset_counterfactual(spark, sf_dir):
    """A KMV state that reset per batch would hold only the last tile's
    bottom-k: the kth min inflates ~3x and the estimate collapses to
    ~1/3 of the truth — far outside anything the shared oracle would
    hash-match. Also pins that tile-0 hashes populate the true bottom-k
    (what makes restart recovery observable)."""
    from topk_spark.workload.drain import range_tile

    h = _ud_hashed(spark, sf_dir)
    tiled = range_tile(h, "ts", 3)
    full = {
        r["event_type"]: r["est_distinct"]
        for r in kmv_estimate(
            bottom_k_distinct(h, ["event_type"], "u", k=64), ["event_type"],
            "u", k=64,
        ).collect()
    }
    last_only = {
        r["event_type"]: r["est_distinct"]
        for r in kmv_estimate(
            bottom_k_distinct(
                tiled.where(F.col("_tile") == 2).drop("_tile"),
                ["event_type"], "u", k=64,
            ),
            ["event_type"], "u", k=64,
        ).collect()
    }
    for g, est in full.items():
        assert last_only[g] < 0.6 * est, (g, last_only[g], est)
    # tile-0 rows sit inside the true bottom-k for every type
    early = bottom_k_distinct(h, ["event_type"], "u", k=64).join(
        tiled.where(F.col("_tile") == 0).select("event_type", "u").distinct(),
        ["event_type", "u"],
    )
    per_type = {r[0]: r[1] for r in early.groupBy("event_type").count().collect()}
    assert per_type and all(v >= 10 for v in per_type.values())


# ---------------------------------------------------------------------------
# continuous priority sample
# ---------------------------------------------------------------------------


def _batch_sample(spark, sf_dir, docs=None):
    """The batch truth: per-source top-m by (priority desc, doc_id)."""
    from pyspark.sql import Window

    docs = docs if docs is not None else load_table(
        spark, sf_dir, "documents"
    ).select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy(
        F.desc("priority"), F.asc("doc_id")
    )
    return (
        _with_priority(docs)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _M_PER_SOURCE)
        .select("source", "doc_id", "weight", "priority")
    )


def test_state_continuity_is_load_bearing(spark, sf_dir):
    """The final tile's local top-m differs from the global top-m for most
    sources — so a sampler whose state reset per batch could not match the
    drain oracle. (The divergence is structural: md5 priorities are
    independent of the doc_id tiling.)"""
    from topk_spark.workload.drain import range_tile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    tiled = range_tile(docs, "doc_id", 3)
    last_tile = tiled.where(F.col("_tile") == 2).drop("_tile")
    global_rows = set(_sorted_rows(_batch_sample(spark, sf_dir)))
    reset_rows = set(
        _sorted_rows(_batch_sample(spark, sf_dir, docs=last_tile))
    )
    diverged = {r[0] for r in global_rows - reset_rows}
    assert len(diverged) >= 10, (
        f"only {len(diverged)} sources diverge — counterfactual too weak"
    )


def test_priority_sample_restart_continuity(spark, sf_dir):
    """Mid-stream stop/reschedule: generation 1 sees tile 0 only, a fresh
    query restores the sample state from the checkpoint and finishes. The
    drained sample must still equal the batch truth — possible only if
    tile-0 winners survived the restart inside state."""
    from topk_spark.streaming.priority_sample import streaming_priority_sample
    from topk_spark.workload.drain import drain, range_tile

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    drained = drain(
        spark,
        range_tile(docs, "doc_id", 3),
        lambda s: streaming_priority_sample(
            _with_priority(s), m=_M_PER_SOURCE
        ),
        output_mode="update",
        last_per=["source"],
        tiles=3,
        restart_after=1,
    )
    assert _sorted_rows(drained) == _sorted_rows(_batch_sample(spark, sf_dir))
