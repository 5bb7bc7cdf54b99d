"""Frontier-named tier layout (topk_spark/io/tier.py): the idempotent
upto_<W> append + O(#batches) frontier recovery shared by the live drains
and the serving routers — including the round-11 ADVICE retry hole: a
foreachBatch retry that has ALREADY written its own upto_<W_cur> subdir
must still derive the PREVIOUS frontier, or it silently skips its hops."""

from __future__ import annotations

import os
from datetime import date

import pyspark.sql.functions as F

from topk_spark.io.tier import (
    append_upto,
    drop_expired_partitions,
    purge_upto,
    read_tier,
    tier_frontier,
    tier_subdirs_overlapping,
)


def _mk_committed(root: str, *ws: int) -> None:
    """A committed upto_<W> subdir carries Spark's _SUCCESS marker — the
    round-12 ADVICE contract (a torn subdir must be invisible)."""
    for w in ws:
        d = os.path.join(root, f"upto_{w}")
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, "_SUCCESS"), "w").close()


def test_tier_frontier_empty_and_basic(tmp_path):
    d = str(tmp_path / "tier")
    assert tier_frontier(d) is None  # absent dir
    os.makedirs(d)
    assert tier_frontier(d) is None  # empty dir
    _mk_committed(d, 100, 200)
    os.makedirs(os.path.join(d, "_spark_metadata"))  # non-frontier noise
    assert tier_frontier(d) == 200


def test_tier_frontier_ignores_torn_subdir(tmp_path):
    """Round-12 ADVICE: a subdir without _SUCCESS is a torn (or in-flight)
    write — the frontier must NOT advance past the last committed batch, or
    a concurrent preranked reader claims freshness for rows that are not
    materialized yet."""
    d = str(tmp_path / "tier")
    _mk_committed(d, 100)
    os.makedirs(os.path.join(d, "upto_200"))  # no _SUCCESS: torn
    assert tier_frontier(d) == 100
    assert tier_frontier(d, below=300) == 100


def test_tier_frontier_retry_excludes_own_batch(tmp_path):
    """The at-most-once hole (round-11 ADVICE): on a retry, upto_<W_cur>
    already exists — possibly fully COMMITTED (crash between tier commit
    and sink commit) — and `below=W_cur` must yield the PREDECESSOR
    frontier so the retried batch re-emits the same `W_prev < hop_end <=
    W_cur` hops instead of none. The _SUCCESS gate does not subsume this."""
    d = str(tmp_path / "tier")
    _mk_committed(d, 100, 200)
    # first attempt of the W=200 batch saw frontier 100; the retry (own dir
    # present and committed) must see the same
    assert tier_frontier(d, below=200) == 100
    # very first batch's retry: no predecessor
    first = str(tmp_path / "tier2")
    _mk_committed(first, 100)
    assert tier_frontier(first, below=100) is None


def test_tier_subdirs_overlapping_selects_span_plus_straddler(tmp_path):
    """Directory-level span read (round-12 VERDICT #2): subdirs wholly at
    or below the span floor are skipped, in-span subdirs kept, and exactly
    ONE subdir past the ceiling (the straddler covering (last-in-span,
    first-beyond]) is included; torn subdirs are never selected."""
    d = str(tmp_path / "tier")
    _mk_committed(d, 100, 200, 300, 400, 500)
    os.makedirs(os.path.join(d, "upto_250"))  # torn → invisible

    def ends(lo, hi):
        return sorted(
            int(p.rsplit("upto_", 1)[1])
            for p in tier_subdirs_overlapping(d, lo, hi)
        )

    assert ends(100, 300) == [200, 300, 400]  # 400 straddles (300, 400]
    assert ends(150, 350) == [200, 300, 400]
    assert ends(-(1 << 62), 500) == [100, 200, 300, 400, 500]
    assert ends(500, 1 << 62) == []
    assert ends(-(1 << 62), 50) == [100]  # straddler only


def test_purge_upto_keeps_survivors_and_frontier(tmp_path):
    """Retention (round-12 VERDICT #1): purge deletes subdirs (torn ones
    included) wholly at or below the cut, is idempotent, and never moves
    the frontier of the surviving tier."""
    d = str(tmp_path / "tier")
    _mk_committed(d, 100, 200, 300)
    os.makedirs(os.path.join(d, "upto_150"))  # torn → also purged
    assert sorted(purge_upto(d, 200)) == [100, 150, 200]
    assert sorted(purge_upto(d, 200)) == []  # idempotent retry
    assert tier_frontier(d) == 300
    assert sorted(os.listdir(d)) == ["upto_300"]
    assert purge_upto(str(tmp_path / "absent"), 10) == []


def test_drop_expired_partitions(spark, tmp_path):
    """S10 retention on an `event_date=` layout: partitions older than the
    horizon go, newer ones and non-date directories stay."""
    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") < 50, "2024-01-01").otherwise("2024-01-20").alias("event_date"),
    )
    path = str(tmp_path / "raw")
    df.write.partitionBy("event_date").parquet(path)
    os.makedirs(os.path.join(path, "event_date=__HIVE_DEFAULT_PARTITION__"))

    dropped = drop_expired_partitions(path, retention_days=7, today=date(2024, 1, 21))
    assert dropped == ["event_date=2024-01-01"]
    assert spark.read.parquet(path).count() == 50
    assert drop_expired_partitions(path, retention_days=7, today=date(2024, 1, 21)) == []
    assert drop_expired_partitions(str(tmp_path / "absent"), retention_days=7) == []


def test_append_upto_retry_is_idempotent(spark, tmp_path):
    """A retry overwrites its own subdir — the tier never double-counts —
    and read_tier sees the union of batches."""
    d = str(tmp_path / "tier")
    b1 = spark.range(3).select(F.col("id").alias("v"))
    append_upto(b1, d, 100)
    b2 = spark.range(3, 5).select(F.col("id").alias("v"))
    append_upto(b2, d, 200)
    append_upto(b2, d, 200)  # retry of the same batch
    got = sorted(
        r.v for r in read_tier(spark, d, b1.schema).collect()
    )
    assert got == [0, 1, 2, 3, 4]
    assert tier_frontier(d) == 200


def test_rank_new_hops_dense_batches_purge_keeps_reachable_slices(
    spark, tmp_path
):
    """Slice-tier retention under DENSE batches (many subdirs inside one
    window span — the shape the 3-tile fixture drains never produce): the
    purge cut must be W_prev − window + slide, the oldest slice this
    batch's hops can reach. A cut at W_cur − window (the 'obvious'
    everything-a-future-frontier-needs bound) deletes subdirs holding
    slices the CURRENT batch's hops still aggregate whenever a batch
    advances more than one slide — silently shrinking hop sums. Feeds
    5-minute batches through a 60/1 hop ranker and checks every emitted
    hop row against a from-scratch recomputation, plus that old subdirs
    really are being retired."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from topk_spark.workload.streaming_drain_queries import make_rank_new_hops

    HOUR, MIN = 3_600_000, 60_000
    ranked_schema = StructType(
        [
            StructField("window_start", LongType(), False),
            StructField("window_end", LongType(), False),
            StructField("event_type", StringType(), True),
            StructField("revenue_cents", LongType(), True),
            StructField("rank", IntegerType(), False),
        ]
    )
    tier = str(tmp_path / "slices")
    fn = make_rank_new_hops(tier, ranked_schema)
    day0 = 1_704_067_200_000
    types = ("click", "view")

    def val(m: int, i: int) -> int:
        return 100 * (m + 1) + i

    n_minutes = 70  # 14 batches of 5 minutes: crosses the window span
    emitted: list[tuple] = []
    for b in range(n_minutes // 5):
        batch = spark.createDataFrame(
            [
                (t, day0 + m * MIN, day0 + (m + 1) * MIN, val(m, i))
                for m in range(5 * b, 5 * b + 5)
                for i, t in enumerate(types)
            ],
            "event_type string, window_start long, window_end long, "
            "revenue_cents long",
        )
        emitted.extend(map(tuple, fn(batch).collect()))

    # retention really happened: far fewer subdirs than batches survive
    n_sub = len([d for d in os.listdir(tier) if d.startswith("upto_")])
    assert n_sub < n_minutes // 5, n_sub

    # from-scratch expectation: every minute-aligned hop end <= W_last,
    # top-3 by revenue desc then type asc (leading partial hops included)
    w_last = day0 + n_minutes * MIN
    expect: list[tuple] = []
    for we in range(day0 + MIN, w_last + MIN, MIN):
        ws = we - HOUR
        sums = {
            t: sum(
                val(m, i)
                for m in range(n_minutes)
                if ws <= day0 + m * MIN and day0 + (m + 1) * MIN <= we
            )
            for i, t in enumerate(types)
        }
        sums = {t: v for t, v in sums.items() if v > 0}
        ranked = sorted(sums.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.extend(
            (ws, we, t, v, r + 1) for r, (t, v) in enumerate(ranked[:3])
        )
    assert sorted(emitted) == sorted(expect)


def test_rank_new_hops_retry_reemits_same_hops(spark, tmp_path):
    """The round-11 ADVICE at-most-once hole, pinned at the behavior level:
    a foreachBatch RETRY (the batch's own upto_<W_cur> subdir already on
    disk from the failed attempt) must re-emit exactly the hop rows the
    first attempt computed — the unfixed derivation saw its own directory,
    concluded W_prev == W_cur, and emitted zero rows, silently dropping
    that batch's hop windows forever."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from topk_spark.workload.streaming_drain_queries import make_rank_new_hops

    HOUR, MIN = 3_600_000, 60_000
    ranked_schema = StructType(
        [
            StructField("window_start", LongType(), False),
            StructField("window_end", LongType(), False),
            StructField("event_type", StringType(), True),
            StructField("revenue_cents", LongType(), True),
            StructField("rank", IntegerType(), False),
        ]
    )
    tier = str(tmp_path / "slices")
    fn = make_rank_new_hops(tier, ranked_schema)

    day0 = 1_704_067_200_000

    def slice_batch(minutes):
        return spark.createDataFrame(
            [
                (t, day0 + m * MIN, day0 + (m + 1) * MIN, 100 * (m + 1) + i)
                for m in minutes
                for i, t in enumerate(("click", "view"))
            ],
            "event_type string, window_start long, window_end long, "
            "revenue_cents long",
        )

    # batch 1 closes minutes 0..60 -> W1 = day0 + 61 min; every hop ending
    # <= W1 is decidable (the leading partial hops included, exactly as the
    # drain's oracle models them): ws in [day0 - 59 min, day0 + 1 min]
    b1 = slice_batch(range(61))
    first = sorted(map(tuple, fn(b1).collect()))
    assert {r[0] for r in first} == {day0 + k * MIN for k in range(-59, 2)}
    # RETRY of the same batch: upto_<W1> exists; must re-emit identically
    retry = sorted(map(tuple, fn(b1).collect()))
    assert retry == first
    # and the tier must not have double-counted (one subdir, same rows)
    import os

    assert len([d for d in os.listdir(tier) if d.startswith("upto_")]) == 1
    # batch 2 closes minutes 61..121 -> W2 = day0 + 122 min; the new hops
    # are exactly W1 < hop_end <= W2 (ws in [day0+2min, day0+62min]) —
    # nothing from batch 1 re-emits on a CLEAN advance
    b2 = slice_batch(range(61, 122))
    second = fn(b2).collect()
    assert {r.window_start for r in second} == {
        day0 + k * MIN for k in range(2, 63)
    }
