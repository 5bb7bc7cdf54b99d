"""The hot segment's index (serve/segment.py `index`), without Spark: every
read on seeded random Arrow tables equals a plain-Python dict reference of
serve/api.py's plan — closed containment, sums of sums, min(window_start),
max(window_end), min(menu_item_name), ranked by order_count desc or by
revenue desc, window_end desc, then menu_item_id asc in byte order."""

from __future__ import annotations

import random

import pyarrow as pa

from topk_spark.serve import segment

MIN = 60_000
HOUR = 60 * MIN
BASE = 1_704_067_200_000  # 2024-01-01T00:00:00Z, an hour edge
IDS = ["a", "ab", "B", "é", "e", "Z", "ω", "z"]
NAMES = ["Pad Thai", "pad thai", "Ωmega bowl", "Éclair", "Z", "a", None]
COLUMNS = (
    "restaurant_id", "menu_item_id", "menu_item_name", "window_start",
    "window_end", "order_count", "sum_quantity", "sum_revenue_cents",
)


def _table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) or [[]] * len(COLUMNS)
    types = [pa.string()] * 3 + [pa.int64()] * 5
    return pa.table({c: pa.array(v, t) for c, v, t in zip(COLUMNS, cols, types)})


def _random_rows(seed: int) -> list[tuple]:
    """Four restaurants over 5 hours of 1-, 2- and 10-minute windows, some
    crossing an hour edge; small metrics so counts and revenues tie; names
    that vary per window and are sometimes null."""
    rng = random.Random(seed)
    rows = []
    for m in range(5 * 60):
        start = BASE + m * MIN
        for r in range(4):
            for item in IDS:
                if rng.random() < 0.15:
                    length = rng.choice((1, 1, 2, 10))
                    rows.append((
                        f"R{r}", item, rng.choice(NAMES), start,
                        start + length * MIN, rng.randint(0, 3),
                        rng.randint(1, 4), rng.choice((100, 200, 300)),
                    ))
    rng.shuffle(rows)
    return rows


def _reference(rows, rid, start, end, k, by_revenue) -> list[dict]:
    groups: dict[str, list] = {}
    for r_id, item, name, ws, we, cnt, qty, rev in rows:
        if ws < start or we > end or (rid is not None and r_id != rid):
            continue
        g = groups.setdefault(item, [0, 0, 0, ws, we, None])
        g[0] += cnt
        g[1] += qty
        g[2] += rev
        g[3] = min(g[3], ws)
        g[4] = max(g[4], we)
        if name is not None and (g[5] is None or name.encode() < g[5].encode()):
            g[5] = name
    if by_revenue:
        key = lambda kv: (-kv[1][2], -kv[1][4], kv[0].encode())  # noqa: E731
    else:
        key = lambda kv: (-kv[1][0], kv[0].encode())  # noqa: E731
    ranked = sorted(groups.items(), key=key)[:k]
    return [
        {"restaurant_id": "ALL" if rid is None else rid, "menu_item_id": item,
         "menu_item_name": g[5], "rank": i, "order_count": g[0],
         "total_quantity": g[1], "total_revenue_in_cents": g[2],
         "window_start": g[3], "window_end": g[4]}
        for i, (item, g) in enumerate(ranked, 1)
    ]


def _check(ix, rows, rid, start, end, k, by_revenue):
    got = ix.read(rid, start, end, k, by_revenue)
    assert got == _reference(rows, rid, start, end, k, by_revenue), (
        rid, start, end, k, by_revenue)
    return got


def test_index_matches_reference_on_random_tables():
    for seed in range(4):
        rows = _random_rows(seed)
        ix = segment.index(_table(rows), BASE)
        rng = random.Random(seed)
        bounds = [BASE + m * MIN for m in range(0, 5 * 60 + 1, 10)]
        for _ in range(150):
            start, end = sorted(rng.sample(bounds, 2))
            if rng.random() < 0.7:  # off minute boundaries
                start += rng.randrange(-MIN + 1, MIN)
                end += rng.randrange(-MIN + 1, MIN)
            rid = rng.choice(["R0", "R1", "R2", "R3", "R9", None, None])
            k = rng.choice((0, 1, 3, 10**6, rng.randint(1, 8)))
            _check(ix, rows, rid, start, end, k, rng.random() < 0.4)


def test_ties_break_by_window_end_then_item_id():
    rows = [
        ("R0", "b", "x", BASE, BASE + MIN, 2, 1, 500),
        ("R0", "a", "x", BASE + 5 * MIN, BASE + 6 * MIN, 2, 1, 500),
        ("R0", "é", "x", BASE + 5 * MIN, BASE + 6 * MIN, 2, 1, 500),
        ("R0", "e", "x", BASE + 2 * MIN, BASE + 3 * MIN, 1, 1, 900),
    ]
    ix = segment.index(_table(rows), BASE)
    for rid in ("R0", None):
        by_count = _check(ix, rows, rid, BASE, BASE + HOUR, 10, False)
        assert [i["menu_item_id"] for i in by_count] == ["a", "b", "é", "e"]
        by_rev = _check(ix, rows, rid, BASE, BASE + HOUR, 10, True)
        assert [i["menu_item_id"] for i in by_rev] == ["e", "a", "é", "b"]
        assert [i["rank"] for i in by_rev] == [1, 2, 3, 4]


def test_min_name_is_the_byte_order_minimum():
    names = ["Éclair", "eclair", "Ωmega", None, "Z"]
    rows = [("R0", "i", n, BASE + m * MIN, BASE + (m + 1) * MIN, 1, 1, 1)
            for m, n in enumerate(names)]
    ix = segment.index(_table(rows), BASE)
    for rid in ("R0", None):
        got = _check(ix, rows, rid, BASE, BASE + HOUR, 3, False)
        assert got[0]["menu_item_name"] == "Z"
        got = _check(ix, rows, rid, BASE + MIN, BASE + 3 * MIN, 3, False)
        assert got[0]["menu_item_name"] == "eclair"
        got = _check(ix, rows, rid, BASE + 3 * MIN, BASE + 4 * MIN, 3, False)
        assert got[0]["menu_item_name"] is None  # every name in range null


def test_k_zero_and_k_past_the_groups():
    rows = _random_rows(7)
    ix = segment.index(_table(rows), BASE)
    for rid in ("R1", None):
        assert _check(ix, rows, rid, BASE, BASE + 3 * HOUR, 0, False) == []
        got = _check(ix, rows, rid, BASE, BASE + 3 * HOUR, 2**31 - 1, True)
        assert len(got) == len(IDS)


def test_empty_inverted_and_unknown_reads():
    rows = _random_rows(8)
    ix = segment.index(_table(rows), BASE)
    after = BASE + 6 * HOUR
    for rid, start, end in [
        (None, after, after + HOUR),  # after the newest window
        ("R0", after, after + HOUR),
        (None, BASE + 2 * HOUR, BASE + HOUR),  # inverted
        ("R2", BASE + 2 * HOUR + 1, BASE + 2 * HOUR),
        (None, BASE + 30 * MIN + 1, BASE + 31 * MIN),  # shorter than a window
        ("R9", BASE, BASE + 5 * HOUR),  # unknown restaurant
    ]:
        for revenue in (False, True):
            assert _check(ix, rows, rid, start, end, 5, revenue) == []


def test_rows_at_the_cutoff_and_an_hour_edge():
    edge = BASE + HOUR
    rows = [
        ("R0", "a", "x", BASE, BASE + MIN, 1, 1, 100),  # starts at the cutoff
        ("R0", "b", "y", edge - MIN, edge, 2, 1, 100),  # ends at the edge
        ("R0", "c", "z", edge, edge + MIN, 3, 1, 100),  # starts at the edge
        ("R1", "b", "w", edge - 10 * MIN, edge, 4, 2, 200),
        ("R1", "d", "v", edge - 1, edge, 5, 1, 100),  # the hour's last ms
    ]
    ix = segment.index(_table(rows), BASE)
    for rid in ("R0", None):
        for start, end in [
            (BASE, edge), (BASE, edge - 1), (BASE + 1, edge), (edge - MIN, edge),
            (edge, edge + MIN), (edge - MIN, edge + MIN), (BASE, edge + HOUR),
            (edge - 1, edge + MIN), (edge + 1, edge + HOUR), (edge - 1, edge + HOUR),
        ]:
            for revenue in (False, True):
                _check(ix, rows, rid, start, end, 10, revenue)


def test_tables_the_index_refuses():
    ok = ("R0", "a", "x", BASE, BASE + MIN, 1, 1, 100)
    assert segment.index(_table([ok]), BASE) is not None
    assert segment.index(_table([]), BASE) is None
    for bad in [
        ("R0", None, "x", BASE, BASE + MIN, 1, 1, 1),  # a null key
        ("R0", "b", "x", BASE, BASE - 1, 1, 1, 1),  # ends before it starts
        ("R0", "b", "x", BASE, BASE + MIN, 2**62, 1, 1),  # sums could pass 2^63
    ]:
        assert segment.index(_table([ok, bad]), BASE) is None, bad
