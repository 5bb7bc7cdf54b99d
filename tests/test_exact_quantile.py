"""Behavioral pins for the exact integer-histogram streaming quantile
(streaming/exact_quantile.py) beyond the driver drains: the reset
counterfactual that makes the restart gate non-vacuous, and the operator's
multi-chunk fold path."""

from __future__ import annotations

import pyspark.sql.functions as F

from topk_spark.workload.events_queries import order_stream
from topk_spark.workload.drain import range_tile


def _order_stats(df):
    """(event_type → (n, p50)) via the registered integer rank arithmetic,
    computed relationally — the same derivation the DuckDB oracle runs."""
    return {
        r["event_type"]: (r["n"], r["p50"])
        for r in df.selectExpr(
            "event_type",
            "revenue_cents",
            "row_number() OVER (PARTITION BY event_type "
            "                   ORDER BY revenue_cents) AS rn",
            "count(*) OVER (PARTITION BY event_type) AS n",
        )
        .where("rn = (n * 50 + 99) div 100")
        .selectExpr("event_type", "n", "revenue_cents AS p50")
        .collect()
    }


def test_exact_quantile_reset_counterfactual(spark, sf_dir):
    """Non-vacuity of `stream_exact_quantile_restart_drain`'s gate: a
    restarted query whose histogram RESET at the checkpoint would fold only
    the post-restart terciles (tiles 1-2), and the fixture pins that this
    is observably different from the full-stream answer — n_rows shrinks
    for EVERY event type (the mechanical catch: n is in the hashed output)
    and the exact P50 moves at cents granularity for (nearly) every type,
    so the counterfactual fails the oracle on values too, not just counts.
    Measured at both sf0.001 and sf0.01 before pinning: 5/5 types differ
    in p50 at both scales."""
    ev = range_tile(
        order_stream(spark, sf_dir).select("ts", "event_type", "revenue_cents"),
        "ts",
        3,
    )
    full = _order_stats(ev.drop("_tile"))
    reset = _order_stats(ev.where(F.col("_tile") >= 1).drop("_tile"))

    assert set(full) == set(reset) and len(full) >= 3
    assert all(reset[t][0] < full[t][0] for t in full), (
        "every type must lose tile-0 rows under a reset — n_rows alone "
        "catches it in the hashed output"
    )
    p50_moved = sum(reset[t][1] != full[t][1] for t in full)
    assert p50_moved >= len(full) - 1, (
        f"P50 moved for only {p50_moved}/{len(full)} types under the reset "
        f"counterfactual — the fixture's value-level sensitivity degraded; "
        f"re-measure before trusting the restart drain's quantile pins"
    )


def test_streaming_exact_quantile_multi_chunk_fold(spark, tmp_path):
    """The operator folds Arrow CHUNKS incrementally (value_counts merge per
    chunk): a group large enough to arrive as several pandas chunks must
    produce identical output to the relational order statistic. Also pins
    ties: duplicated values accumulate counts, not distinct entries."""
    import json
    import os

    from topk_spark.streaming.exact_quantile import streaming_exact_quantile

    # one group, 40k rows with heavy ties (values 0..99 repeated), plus a
    # spike group proving per-key isolation
    rows = [{"k": "a", "v": i % 100} for i in range(40_000)]
    rows += [{"k": "b", "v": 7}] * 10
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "f0.json"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))

    stream = spark.readStream.schema("k string, v long").json(src)
    out = str(tmp_path / "out")
    q = (
        streaming_exact_quantile(stream, key="k", value_col="v", pcts=(50, 99))
        .writeStream.foreachBatch(
            lambda df, bid: df.write.mode("append").parquet(out)
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["k"]: (r["n_rows"], r["p50_cents"], r["p99_cents"])
           for r in spark.read.parquet(out).collect()}
    # 40k uniform over 0..99: rank(50%)=20000 → value 49; rank(99%)=39600 → 98
    assert got["a"] == (40_000, 49, 98)
    assert got["b"] == (10, 7, 7)


def test_exact_order_statistics_pcts_validation_and_order():
    """Round-10 ADVICE pins: unsorted pcts must return each percentile's own
    value in the CALLER'S order (the shared forward cursor used to hand a
    smaller percentile the larger one's value when listed after it); p
    outside 1..100 must raise ValueError, not crash via int(None) or
    StopIteration-in-generator."""
    import pytest

    from topk_spark.streaming.exact_quantile import exact_order_statistics

    values, counts = list(range(1, 101)), [1] * 100
    n, qs = exact_order_statistics(values, counts, (99, 50, 90))
    assert n == 100 and qs == [99, 50, 90]  # caller order, correct values
    n, qs = exact_order_statistics(values, counts, (50, 50, 1))
    assert qs == [50, 50, 1]  # duplicates fine at this layer
    for bad in (0, -5, 101, 1000):
        with pytest.raises(ValueError):
            exact_order_statistics(values, counts, (50, bad))


def test_streaming_exact_quantile_pcts_normalization():
    """The operator sorts pcts (column names are generated from them, so
    p50 < p99 reads left-to-right regardless of caller order) and rejects
    duplicates (duplicate output column names) and out-of-range p."""
    import pytest

    from topk_spark.streaming.exact_quantile import streaming_exact_quantile

    class _Probe:
        """Duck-typed stand-in: validation must fire before any Spark call."""

        def select(self, *a):  # pragma: no cover - reached only on a bug
            raise AssertionError("validation must precede plan construction")

    with pytest.raises(ValueError):
        streaming_exact_quantile(_Probe(), pcts=(50, 50))
    with pytest.raises(ValueError):
        streaming_exact_quantile(_Probe(), pcts=(0, 50))
    with pytest.raises(ValueError):
        streaming_exact_quantile(_Probe(), pcts=(50, 101))


def test_histogram_binary_codec_roundtrip():
    """encode_histogram/decode_histogram: fixed 16 bytes per distinct value,
    exact round-trip including int64 extremes, and byte-identical re-encode
    (the state blob must be deterministic for checkpoint comparisons)."""
    from topk_spark.streaming.exact_quantile import (
        decode_histogram,
        encode_histogram,
    )

    values = [-(2**63), -7, 0, 42, 2**63 - 1]
    counts = [1, 3, 2**40, 5, 9]
    blob = encode_histogram(values, counts)
    assert len(blob) == 16 * len(values)
    v2, c2 = decode_histogram(blob)
    assert v2.tolist() == values and c2.tolist() == counts
    assert encode_histogram(v2, c2) == blob
    assert decode_histogram(encode_histogram([], []))[0].size == 0
