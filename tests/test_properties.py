"""Property-based tests (hypothesis) for the core operator laws.

Each law is the invariant the DuckDB oracles rely on, checked here against an
independent pure-Python model on adversarial inputs (duplicate keys, ties,
negative values, window-boundary timestamps) that the fixture distributions
may never hit.
"""

from __future__ import annotations

import datetime as dt
import struct

import numpy as np
import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from topk_spark.ops.dedup import dedup_first_seen
from topk_spark.ops.multimodal import (
    _JPEG_APP0,
    _dct_basis,
    _dqt_body,
    _encode_block,
    _jpeg_dht,
    _jpeg_quant,
    _jpeg_seg,
    _MsbBitWriter,
    _pad_edge,
)
from topk_spark.ops.timeparts import floor_to_window_ms, iso_dayofweek
from topk_spark.ops.topk import rank_topk

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),  # key
        st.integers(-100, 100),  # metric (ties + negatives likely)
        st.integers(0, 50),  # seq / tiebreak
    ),
    min_size=1,
    max_size=40,
)


@_SETTINGS
@given(rows=rows_strategy)
def test_dedup_first_seen_law(spark, rows):
    """Survivor per key == the row with the minimal (order_by) tuple."""
    df = spark.createDataFrame(rows, "key int, metric int, seq int")
    got = {
        (r["key"], r["metric"], r["seq"])
        for r in dedup_first_seen(
            df, ["key"], [F.col("seq").asc(), F.col("metric").asc()]
        ).collect()
    }
    want = {}
    for k, m, s in rows:
        cur = want.get(k)
        if cur is None or (s, m) < (cur[1], cur[0]):
            want[k] = (m, s)
    assert got == {(k, m, s) for k, (m, s) in want.items()}


@_SETTINGS
@given(rows=rows_strategy, k=st.integers(1, 5))
def test_rank_topk_law(spark, rows, k):
    """Per key: ranks are exactly 1..min(k, n_key) and ordered by
    (metric desc, seq asc) over DISTINCT (key, metric, seq) rows."""
    uniq = sorted(set(rows))
    df = spark.createDataFrame(uniq, "key int, metric int, seq int")
    got = rank_topk(df, ["key"], [F.desc("metric"), F.asc("seq")], k).collect()
    by_key: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r["key"], r["rank"])):
        by_key.setdefault(r["key"], []).append((r["metric"], r["seq"], r["rank"]))
    for key in {r[0] for r in uniq}:
        members = sorted(
            [(m, s) for kk, m, s in uniq if kk == key], key=lambda t: (-t[0], t[1])
        )[:k]
        assert by_key.get(key, []) == [
            (m, s, i + 1) for i, (m, s) in enumerate(members)
        ]


@_SETTINGS
@given(
    ts=st.lists(st.integers(0, 2**41), min_size=1, max_size=30),
    window_ms=st.sampled_from([1_000, 60_000, 3_600_000]),
)
def test_window_floor_law(spark, ts, window_ms):
    """floor_to_window_ms == epoch-aligned bucket (P7,
    KafkaConsumerTopKJob.kt:145-150) and agrees with Spark's window()."""
    df = spark.createDataFrame([(t,) for t in ts], "ts_ms long")
    out = df.select(
        "ts_ms",
        floor_to_window_ms(F.timestamp_millis(F.col("ts_ms")), window_ms).alias(
            "floored"
        ),
        F.unix_millis(
            F.window(
                F.timestamp_millis(F.col("ts_ms")), f"{window_ms} milliseconds"
            ).start
        ).alias("spark_window_start"),
    ).collect()
    for r in out:
        assert r["floored"] == r["ts_ms"] - r["ts_ms"] % window_ms
        assert r["spark_window_start"] == r["floored"]


@_SETTINGS
@given(days=st.lists(st.integers(0, 365 * 80), min_size=1, max_size=30))
def test_iso_dayofweek_law(spark, days):
    """ISO day (1=Mon..7=Sun, DayOfWeek.value semantics,
    TopKStreamingJob.kt:179) matches Python's isoweekday."""
    dates = [dt.date(1970, 1, 1) + dt.timedelta(days=d) for d in days]
    df = spark.createDataFrame([(d,) for d in dates], "d date")
    out = df.select("d", iso_dayofweek(F.col("d").cast("timestamp")).alias("dow"))
    for r in out.collect():
        assert r["dow"] == r["d"].isoweekday()


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10**6), st.integers(-50, 50)),
        min_size=1,
        max_size=40,
    )
)
def test_rollup_reaggregation_law(spark, rows):
    """Sums of 1-minute-rollup sums == direct sums (A5/A9: the ladder is
    exactly re-aggregable at every tier)."""
    df = spark.createDataFrame(rows, "key int, ts_ms long, qty int")
    r1m = (
        df.withColumn(
            "w", floor_to_window_ms(F.timestamp_millis(F.col("ts_ms")), 60_000)
        )
        .groupBy("key", "w")
        .agg(F.sum("qty").alias("s"), F.count("*").alias("c"))
    )
    reagg = {
        r["key"]: (r["s"], r["c"])
        for r in r1m.groupBy("key")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .collect()
    }
    direct = {
        r["key"]: (r["s"], r["c"])
        for r in df.groupBy("key")
        .agg(F.sum("qty").alias("s"), F.count("*").alias("c"))
        .collect()
    }
    assert reagg == direct


@_SETTINGS
@given(
    rows=st.lists(
        # tiny x-domain forces band collisions and x-ties; y ties likely
        st.tuples(st.integers(0, 7), st.integers(0, 5)),
        min_size=1,
        max_size=30,
    ),
    bands=st.sampled_from([1, 2, 4, 1024]),
)
def test_pareto_front_band_prune_law(spark, rows, bands):
    """Band-pruned skyline == brute-force dominance filter, at every band
    count (bands=1 disables pruning entirely; small band counts force
    cross-band ties — the cases the losslessness induction must cover)."""
    from topk_spark.ops.skyline import pareto_front_2d

    df = spark.createDataFrame(rows, "x long, y long")
    got = sorted(
        (r["x"], r["y"]) for r in pareto_front_2d(df, "x", "y", bands=bands).collect()
    )
    want = sorted(
        (x, y)
        for (x, y) in rows
        if not any(
            (qx >= x and qy > y) or (qx > x and qy >= y) for (qx, qy) in rows
        )
    )
    assert got == want


@given(
    data=st.binary(min_size=0, max_size=3000),
    mcs=st.integers(2, 8),
)
@settings(max_examples=60, deadline=None)
def test_gif_lzw_roundtrip_law(data, mcs):
    """decode(encode(x)) == x for the GIF LZW codec on arbitrary index
    streams at every legal min-code-size — hypothesis hunts the code-width
    boundary and table-reset cases the fixed tests may miss (the round-4
    desync bug lived exactly on such a boundary)."""
    from topk_spark.ops.multimodal import _lzw_decode_gif, _lzw_encode_gif

    indices = bytes(b % (1 << mcs) for b in data)
    enc = _lzw_encode_gif(indices, mcs)
    assert _lzw_decode_gif(enc, mcs, len(indices)) == indices


@given(
    w=st.integers(1, 300),
    h=st.integers(1, 120),
    seed=st.binary(min_size=0, max_size=8),
)
@settings(max_examples=25, deadline=None)
def test_gif_pixel_roundtrip_law(w, h, seed):
    """Full-container law: encode_gif → decode_gif_pixels returns the exact
    (h, w) index matrix the encoder drew, for arbitrary dimensions."""
    import hashlib

    from topk_spark.ops.multimodal import decode_gif_pixels, encode_gif

    arr = decode_gif_pixels(encode_gif(w, h, seed=seed))
    assert arr.shape == (h, w)
    row_src = hashlib.sha256(seed).digest()
    expect = bytes((row_src * (w // 32 + 1))[x] & 3 for x in range(w))
    assert bytes(arr[0]) == expect and bytes(arr[h - 1]) == expect


@given(
    w=st.integers(1, 120),
    h=st.integers(1, 60),
    seed=st.binary(min_size=0, max_size=8),
)
@settings(max_examples=20, deadline=None)
def test_jpeg_roundtrip_law(w, h, seed):
    """encode_jpeg → decode_jpeg_pixels: exact dims, reconstruction within
    the quantizer bound, for arbitrary dimensions (MCU padding edges)."""
    import hashlib

    import numpy as np

    from topk_spark.ops.multimodal import decode_jpeg_pixels, encode_jpeg

    arr = decode_jpeg_pixels(encode_jpeg(w, h, seed=seed))
    assert arr.shape == (h, w)
    row_src = hashlib.sha256(seed).digest()
    expect = np.frombuffer(
        (row_src * (w // 32 + 1))[:w], dtype=np.uint8
    )
    assert np.abs(arr.astype(int) - np.tile(expect, (h, 1)).astype(int)).max() <= 12


@given(
    w=st.integers(1, 64),
    h=st.integers(1, 32),
    data=st.binary(min_size=0, max_size=64),
)
@settings(max_examples=25, deadline=None)
def test_png_pixel_roundtrip_law(w, h, data):
    """encode_png_rows → decode_png_pixels is LOSSLESS for arbitrary pixel
    content (the invariant the cross-format resize's bit-equality verify
    rests on)."""
    import numpy as np

    from topk_spark.ops.multimodal import decode_png_pixels, encode_png_rows

    row_src = (data + b"\x00") * (w // max(1, len(data) + 1) + 1)
    rows = [bytes((row_src[r:] + row_src)[:w]) for r in range(h)]
    arr = decode_png_pixels(encode_png_rows(rows, w))
    assert arr.shape == (h, w)
    assert [bytes(arr[r]) for r in range(h)] == rows


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=15, deadline=None)
def test_jpeg_content_bound_law(seed):
    """Arbitrary random pixel content survives the JPEG cycle within the
    quantizer bound at exact dims — the alphabet-coverage guarantee (DC
    category <= 11, AC size <= 10) means no content can overflow the fixed
    Huffman tables."""
    import numpy as np

    from topk_spark.ops.multimodal import decode_jpeg_pixels, encode_jpeg_pixels

    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(1, 48)), int(rng.integers(1, 48))
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    arr = decode_jpeg_pixels(encode_jpeg_pixels(img))
    assert arr.shape == (h, w)
    assert np.abs(arr.astype(int) - img.astype(int)).max() <= 40


# ---------------------------------------------------------------------------
# Color JPEG fixture encoder: the 3-component YCbCr 4:2:0 baseline stream the
# engine's decoder (`decode_jpeg_pixels` → `_decode_scan_420`) reads back,
# built from the codec's own block/segment writers.
# ---------------------------------------------------------------------------

# ITU-R BT.601 full-range YCbCr, the JFIF convention (JFIF 1.02 §7).
_YCC = np.array(
    [
        [0.299, 0.587, 0.114],
        [-0.168735892, -0.331264108, 0.5],
        [0.5, -0.418687589, -0.081312411],
    ]
)


def _rgb_to_ycbcr(img: "np.ndarray") -> "np.ndarray":
    out = img.astype(np.float64) @ _YCC.T
    out[..., 1:] += 128.0
    return out


def encode_jpeg_color_pixels(img: "np.ndarray") -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as baseline JFIF with the
    standard corpus layout: YCbCr color, chroma subsampled 4:2:0, MCUs
    interleaved 4×Y + Cb + Cr (16×16 pixels per MCU), separate luma/chroma
    quant tables, per-component DC predictors. Same self-built fixed-width
    Huffman tables as the grayscale path (shipped in the DHT), so the
    alphabet-coverage guarantee (DC category ≤ 11, AC size ≤ 10 at these
    quantizers) carries over — any 8-bit content encodes."""
    h, w, _ = img.shape
    T = _dct_basis()
    quant = _jpeg_quant()
    ycc = _rgb_to_ycbcr(img)
    yp = _pad_edge(ycc[..., 0], 16) - 128.0
    ph, pw = yp.shape
    # 4:2:0 chroma: 2×2 mean of the 16-padded plane → 8-multiple planes
    def sub(c: "np.ndarray") -> "np.ndarray":
        p = _pad_edge(c, 16)
        return p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3)) - 128.0

    cb, cr = sub(ycc[..., 1]), sub(ycc[..., 2])
    bw = _MsbBitWriter()
    dc = {"y": 0, "cb": 0, "cr": 0}
    for my in range(0, ph, 16):
        for mx in range(0, pw, 16):
            for dy in (0, 8):
                for dx in (0, 8):
                    dc["y"] = _encode_block(
                        bw,
                        yp[my + dy : my + dy + 8, mx + dx : mx + dx + 8],
                        quant, dc["y"], T,
                    )
            cy, cx = my // 2, mx // 2
            dc["cb"] = _encode_block(
                bw, cb[cy : cy + 8, cx : cx + 8], quant, dc["cb"], T
            )
            dc["cr"] = _encode_block(
                bw, cr[cy : cy + 8, cx : cx + 8], quant, dc["cr"], T
            )
    dqt = _jpeg_seg(0xDB, _dqt_body(quant, 0)) + _jpeg_seg(
        0xDB, _dqt_body(quant, 1)
    )
    sof = _jpeg_seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + b"\x01\x22\x00"  # Y: 2×2 sampling, quant table 0
        + b"\x02\x11\x01"  # Cb: 1×1, quant table 1
        + b"\x03\x11\x01",  # Cr: 1×1, quant table 1
    )
    app0 = _jpeg_seg(0xE0, _JPEG_APP0)
    sos = _jpeg_seg(
        0xDA, b"\x03" + b"\x01\x00" + b"\x02\x00" + b"\x03\x00" + b"\x00\x3f\x00"
    )
    return (
        b"\xff\xd8" + app0 + dqt + sof + _jpeg_dht() + sos
        + bw.finish() + b"\xff\xd9"
    )


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=15, deadline=None)
def test_jpeg_color_420_cycle_law(seed):
    """Color (YCbCr 4:2:0) JPEG cycle on ARBITRARY random RGB content:
    exact dims, and the LUMA plane — the channel 4:2:0 does not subsample —
    reconstructs within the quantizer bound. Chroma on random content is
    destroyed by design (2×2 averaging of uncorrelated values), so the law
    a lossy-color codec can honestly promise is luma fidelity; chroma
    fidelity is pinned by the smooth-content law below, where subsampling
    is near-lossless."""
    import numpy as np

    from topk_spark.ops.multimodal import decode_jpeg_pixels

    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    dec = decode_jpeg_pixels(encode_jpeg_color_pixels(img))
    assert dec.shape == (h, w, 3)
    bt601 = np.array([0.299, 0.587, 0.114])
    y_in = img.astype(float) @ bt601
    y_out = dec.astype(float) @ bt601
    assert np.abs(y_in - y_out).max() <= 45


@given(
    r=st.integers(0, 255), g=st.integers(0, 255), b=st.integers(0, 255),
    w=st.integers(1, 40), h=st.integers(1, 40),
)
@settings(max_examples=20, deadline=None)
def test_jpeg_color_smooth_cycle_law(r, g, b, w, h):
    """On chroma-smooth content (any constant color, any dims — MCU padding
    edges included) the full RGB cycle through 4:2:0 is tight: subsampling
    averages equal values, so the only loss is the quantizer's."""
    import numpy as np

    from topk_spark.ops.multimodal import decode_jpeg_pixels

    img = np.zeros((h, w, 3), np.uint8)
    img[...] = (r, g, b)
    dec = decode_jpeg_pixels(encode_jpeg_color_pixels(img))
    assert dec.shape == (h, w, 3)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 8


# ---------------------------------------------------------------------------
# pure-arithmetic laws the round-8-late operators lean on (no Spark jobs:
# these are the set/integer identities themselves)
# ---------------------------------------------------------------------------


@given(
    sets=st.lists(
        st.sets(st.integers(0, 1 << 48), max_size=40), min_size=1, max_size=6
    ),
    k=st.integers(1, 16),
)
def test_kmv_merge_identity_law(sets, k):
    """bottomk(distinct(union of bottomk(S_i))) == bottomk(distinct(union S_i))
    — the mergeability identity ops/kmv.py executes as its physical plan."""
    direct = sorted(set().union(*sets))[:k]
    merged = sorted(set().union(*(set(sorted(s)[:k]) for s in sets)))[:k]
    assert merged == direct


@given(
    a=st.integers(0, (1 << 63) - 1),
    x=st.integers(0, 62),
    y=st.integers(0, 62),
)
def test_shift_composition_law(a, x, y):
    """floor division by powers of two composes under iterated shifts —
    why decayed bucket sums can be finalized at ANY later Bmax without
    rescaling state (streaming/decayed_topk.py module doc)."""
    assert (a >> x) >> y == a >> min(x + y, 63)


@given(
    weights=st.lists(st.integers(0, (1 << 40)), min_size=2, max_size=20),
    shift=st.integers(1, 62),
)
def test_floor_shift_does_not_distribute_over_sum(weights, shift):
    """sum-of-shifts <= shift-of-sum, with equality NOT guaranteed — the
    reason decay must apply to per-bucket SUMS, never per event, for the
    batch/stream/oracle triple to agree."""
    assert sum(w >> shift for w in weights) <= sum(weights) >> shift


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),            # key
            st.integers(0, 10_000),       # ts offset seconds (~2.7 h span)
            st.integers(-1000, 1000),     # metric (negatives too)
        ),
        min_size=1,
        max_size=40,
    ),
    ratio=st.integers(2, 7),
)
def test_sliding_slices_equivalence_law(spark, rows, ratio):
    """The round-10 slice-sharing rewrite law: for ANY event set and any
    hop ratio, `sliding_rollup_from_slices` must be row-for-row identical
    to the direct `windowed_rollup(slide=...)` form — same (key, window)
    row set, same sums, same counts. This is the invariant that lets the
    slices twin share the direct form's driver oracle verbatim and lets
    bench's ratio-60 point assert equality instead of re-deriving."""
    from topk_spark.ops.rollup import sliding_rollup_from_slices, windowed_rollup

    slide_ms = 60_000
    window_ms = slide_ms * ratio
    base = 1_704_067_200_000
    df = spark.createDataFrame(
        [(k, base + s * 1000, v) for k, s, v in rows], "k long, ms long, v long"
    ).select("k", F.timestamp_millis("ms").alias("ts"), "v")

    direct = windowed_rollup(
        df,
        "ts",
        ["k"],
        [F.sum("v").cast("long").alias("v_sum"), F.count("*").alias("n")],
        f"{window_ms} milliseconds",
        slide=f"{slide_ms} milliseconds",
    ).select("k", "window_start", "window_end", "v_sum", "n")
    slices = sliding_rollup_from_slices(
        df,
        "ts",
        ["k"],
        [F.sum("v").cast("long").alias("v_sum"), F.count("*").alias("n")],
        ["v_sum", "n"],
        window_ms=window_ms,
        slide_ms=slide_ms,
    ).select("k", "window_start", "window_end", "v_sum", "n")

    got_d = sorted(tuple(r) for r in direct.collect())
    got_s = sorted(tuple(r) for r in slices.collect())
    assert got_d == got_s


@settings(max_examples=200, deadline=None)
@given(
    hist=st.lists(
        st.tuples(st.integers(-10**9, 10**9), st.integers(1, 50)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    pcts=st.lists(st.integers(1, 100), min_size=1, max_size=5),
)
def test_exact_order_statistics_law(hist, pcts):
    """exact_order_statistics vs the brute-force model: expand the
    histogram to a sorted multiset and index the ceil(p·n/100)-th element
    directly (1-based). Integer rank arithmetic means the two can never
    disagree — including at exact rank boundaries, with ties, and with
    negative values. pcts stay in GENERATED (arbitrary, possibly
    duplicated) order: results must line up per caller index — the
    round-10 ADVICE bug handed a smaller percentile the larger one's
    value whenever it was listed after it."""
    import math

    from topk_spark.streaming.exact_quantile import exact_order_statistics

    hist.sort()
    values = [v for v, _ in hist]
    counts = [c for _, c in hist]
    expanded = sorted(v for v, c in hist for _ in range(c))
    n, qs = exact_order_statistics(values, counts, pcts)
    assert n == len(expanded)
    for p, q in zip(pcts, qs):
        rank = math.ceil(n * p / 100)  # exact: n*p < 2**52
        assert q == expanded[rank - 1], (p, rank, n)


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),        # key
            st.integers(0, 90),       # minute window index
            st.integers(-500, 500),   # cents value (ties + negatives likely)
            st.integers(1, 9),        # in-window count
        ),
        min_size=1,
        max_size=40,
    ),
    pcts=st.lists(
        st.integers(1, 100), min_size=1, max_size=4, unique=True
    ),
)
def test_serve_percentiles_matches_order_statistics_law(spark, rows, pcts):
    """serve.api.percentiles vs the registered rank arithmetic: for ANY
    windowed histogram tier (arbitrary keys, windows, duplicate values
    across windows, arbitrary counts) the endpoint's cumulative-window
    derivation must equal exact_order_statistics on each key's MERGED
    histogram — the law that lets the serving read, the streaming
    operator, and every DuckDB oracle share one definition of q(p)."""
    from topk_spark.serve.api import percentiles
    from topk_spark.streaming.exact_quantile import exact_order_statistics

    base = 1_704_067_200_000
    pcts = sorted(pcts)
    tier = spark.createDataFrame(
        [
            (str(k), base + w * 60_000, base + (w + 1) * 60_000, v, c)
            for k, w, v, c in rows
        ],
        "event_type string, window_start long, window_end long, "
        "revenue_cents long, n long",
    )
    got = {
        r["event_type"]: tuple(r)[1:]
        for r in percentiles(
            tier,
            key_col="event_type",
            value_col="revenue_cents",
            count_col="n",
            pcts=tuple(pcts),
            start_ms=0,
            end_ms=1 << 53,
        ).collect()
    }
    # model: merge each key's histogram across windows, then the shared
    # integer rank arithmetic
    merged: dict[str, dict[int, int]] = {}
    for k, w, v, c in rows:
        merged.setdefault(str(k), {})
        merged[str(k)][v] = merged[str(k)].get(v, 0) + c
    assert set(got) == set(merged)
    for k, hist in merged.items():
        values = sorted(hist)
        counts = [hist[v] for v in values]
        n, qs = exact_order_statistics(values, counts, pcts)
        assert got[k] == (n, *qs), (k, got[k], (n, *qs))


# --- TierRouter cover law (round 12) --------------------------------------
# The router's plan is PURE PYTHON (no Spark), so the law runs on raw
# hypothesis inputs: for any tier ladder (coarsest w3 > w2 > w1, each a
# multiple of the next-finer), any frontiers, and any range, the plan's
# segments must (1) be disjoint and sorted inside [start, end); (2) align
# each segment to its tier's window; (3) never let a frontier'd tier cover
# past floor(through); (4) leave uncovered ONLY edge remainders smaller
# than the finest window (closed containment cannot use partial windows —
# anything larger uncovered would silently drop data from a scan).

@settings(max_examples=200, deadline=None)
@given(
    data=st.data(),
    w1=st.sampled_from([1, 2, 5]),
    m2=st.integers(2, 6),
    m3=st.integers(2, 6),
)
def test_tier_router_cover_law(data, w1, m2, m3):
    from topk_spark.serve.router import TierRouter, TierSpec

    w2 = w1 * m2
    w3 = w2 * m3
    tiers = {}
    for w in (w1, w2, w3):
        through = data.draw(
            st.one_of(st.none(), st.integers(0, 20 * w3)),
            label=f"through_{w}",
        )
        # df is never touched by plan(); a sentinel stands in
        tiers[w] = TierSpec(df=None, window_ms=w, through_ms=through)
    start = data.draw(st.integers(0, 10 * w3), label="start")
    end = data.draw(st.integers(start + 1, start + 10 * w3), label="end")
    router = TierRouter(tiers)
    plan = router.plan(start, end)

    prev_end = start
    for tier, s, e in plan:
        w = tier.window_ms
        assert start <= s < e <= end
        assert s >= prev_end, "segments overlap or unsorted"
        assert s % w == 0 and e % w == 0, "segment not window-aligned"
        if tier.through_ms is not None:
            assert e <= tier.through_ms - tier.through_ms % w
        prev_end = e
    # uncovered gaps: only where even the finest tier cannot tile — each
    # gap must be shorter than one finest window UNLESS the finest tier's
    # own frontier truncates it (then everything past the frontier floor
    # is legitimately unservable)
    fine = tiers[w1]
    fine_limit = (
        end
        if fine.through_ms is None
        else min(end, fine.through_ms - fine.through_ms % w1)
    )
    gaps = []
    prev_end = start
    for _, s, e in plan:
        if s > prev_end:
            gaps.append((prev_end, s))
        prev_end = e
    if prev_end < end:
        gaps.append((prev_end, end))
    for gs, ge in gaps:
        servable_start = gs + (-gs) % w1  # first aligned fine start in gap
        servable = min(ge, fine_limit) - servable_start
        assert servable < w1, (
            f"gap [{gs},{ge}) holds a full servable fine window "
            f"(plan={[(t.window_ms, s, e) for t, s, e in plan]})"
        )


# --- TierRouter retention law (round 13) ----------------------------------
# retain_from_ms is ONE clamp at plan entry: for any ladder, any frontiers,
# any range, and any retention horizon R, the retained plan must equal the
# unretained plan over the clamped range [max(start, R), end) — retention
# adds no new routing behavior, it only shrinks the question. (The physical
# side — purged segments — is pinned at the drain level in
# test_streaming_drains.py; this law is why the purge is unobservable: no
# plan ever routes below R, purged or not.)

@settings(max_examples=200, deadline=None)
@given(
    data=st.data(),
    w1=st.sampled_from([1, 2, 5]),
    m2=st.integers(2, 6),
    m3=st.integers(2, 6),
)
def test_tier_router_retention_is_range_clamp(data, w1, m2, m3):
    from topk_spark.serve.router import TierRouter, TierSpec

    w2 = w1 * m2
    w3 = w2 * m3
    tiers = {}
    for w in (w1, w2, w3):
        through = data.draw(
            st.one_of(st.none(), st.integers(0, 20 * w3)),
            label=f"through_{w}",
        )
        tiers[w] = TierSpec(df=None, window_ms=w, through_ms=through)
    start = data.draw(st.integers(0, 10 * w3), label="start")
    end = data.draw(st.integers(start + 1, start + 10 * w3), label="end")
    retain = data.draw(st.integers(0, 12 * w3), label="retain")

    def shape(plan):
        return [(t.window_ms, s, e) for t, s, e in plan]

    retained = TierRouter(tiers, retain_from_ms=retain).plan(start, end)
    clamped = TierRouter(tiers).plan(max(start, retain), end)
    assert shape(retained) == shape(clamped)
