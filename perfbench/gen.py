"""Seeded input generators for `ingest_catchup` and `serve_topk`. The same
seed always gives the same inputs; the program under test only ever sees
the files and requests made here (and, in `batch_headline`, the fixed
tables under `data/`).

- `write_order_log`: the order-event log `ingest_catchup` replays and
  `serve_topk` builds its tier from (JSON lines, one file per "topic batch").
- `request_mix`: the `serve_topk` request sequence.
"""

from __future__ import annotations

import os

import numpy as np

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
RESTAURANTS = 100
ITEMS = 500
STEP_MS = 15  # event spacing: 250k events span ~62 minutes
JITTER_MS = 5_000  # out-of-order bound, inside the 10 s lateness bound
DUP_SHARE = 0.01
FILES = 16  # JSON-lines files per log, each one "topic batch"
RANGE_MS = 3_600_000  # serve_topk request ranges: 1 h


def _item_price(item: np.ndarray) -> np.ndarray:
    return 199 + 100 * ((item * 7) % 30)


def write_order_log(out_dir: str, n: int, seed: int, step_ms: int = STEP_MS) -> dict:
    """Write `n` order events, `step_ms` apart, as FILES JSON-lines files
    under `out_dir`.

    About 1% of the lines re-emit an event seen up to 200 lines earlier
    (same `event_id`, same payload), and every timestamp carries up to 5 s
    of jitter, so events arrive out of order but never later than the 10 s
    watermark. Returns the log's shape (counts and time span)."""
    rng = np.random.default_rng(seed)
    n_dup = int(round(n * DUP_SHARE))
    m = n - n_dup
    idx = np.arange(m)
    rest = rng.integers(0, RESTAURANTS, m)
    item = rng.integers(0, ITEMS, m)
    cust = rng.integers(1000, 10000, m)
    qty = rng.integers(1, 5, m)
    ts = BASE_MS + idx * step_ms + rng.integers(0, JITTER_MS, m)
    price = _item_price(item)
    line = (
        '{{"event_id":"EVT{s}-{i}","order_id":"ORD{s}-{i:08x}",'
        '"customer_id":"CUST{c}","restaurant_id":"REST{r:03d}",'
        '"menu_item_id":"ITEM{it:03d}","category_id":"CAT{cat:02d}",'
        '"menu_item_name":"Item {it}","quantity":{q},'
        '"price_in_cents":{p},"timestamp":{t}}}'
    ).format
    lines = [
        line(s=seed, i=i, c=c, r=r, it=it, cat=it % 20, q=q, p=p, t=t)
        for i, r, it, c, q, p, t in zip(
            idx.tolist(), rest.tolist(), item.tolist(), cust.tolist(),
            qty.tolist(), price.tolist(), ts.tolist(),
        )
    ]
    # duplicates: inserted right after original `pos`, copying an event up
    # to 200 positions back
    pos = np.sort(rng.integers(200, m, n_dup))
    src = pos - rng.integers(0, 200, n_dup)
    key = np.concatenate([idx * 2, pos * 2 + 1])
    order = np.argsort(key, kind="stable")
    all_src = np.concatenate([idx, src])[order]
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, n, FILES + 1).astype(int)
    for f in range(FILES):
        chunk = all_src[bounds[f]:bounds[f + 1]]
        with open(os.path.join(out_dir, f"part-{f:05d}.json"), "w") as fh:
            fh.write("\n".join(lines[j] for j in chunk.tolist()))
            fh.write("\n")
    return {
        "events": n,
        "distinct_events": m,
        "min_ts": int(ts.min()),
        "max_ts": int(ts.max()),
    }


ROUTES = ("point", "revenue", "global")
_ROUTE_P = (0.6, 0.25, 0.15)


def request_mix(seed: int, min_ts: int, max_ts: int, chunk: int = 256):
    """An endless sequence of (route class, path) pairs: per-restaurant
    `/topk`, `/topk/revenue` (a tenth of them for `all`) and
    `/restaurants/all/topk`, Zipf(1.1) restaurant ids, minute-aligned 1 h
    ranges inside the tier's time span, k = 10."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, RESTAURANTS + 1)
    zipf = ranks ** -1.1
    zipf /= zipf.sum()
    lo = (min_ts // 60_000 + 1) * 60_000
    n_starts = max(1, (max_ts - RANGE_MS - lo) // 60_000)
    while True:
        for cls, r, s, rev_all in zip(
            rng.choice(ROUTES, chunk, p=_ROUTE_P).tolist(),
            rng.choice(RESTAURANTS, chunk, p=zipf).tolist(),
            rng.integers(0, n_starts, chunk).tolist(),
            (rng.random(chunk) < 0.1).tolist(),
        ):
            start = lo + s * 60_000
            q = f"?start_time={start}&end_time={start + RANGE_MS}&k=10"
            rid = f"REST{r:03d}"
            if cls == "point":
                path = f"/api/v1/restaurants/{rid}/topk{q}"
            elif cls == "revenue":
                path = f"/api/v1/restaurants/{'all' if rev_all else rid}/topk/revenue{q}"
            else:
                path = f"/api/v1/restaurants/all/topk{q}"
            yield cls, path
