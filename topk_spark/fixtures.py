"""Deterministic order-event fixture generator (FIXTURES.md §1).

Mirrors the reference's synthetic generator domain (DataGenerator.kt:55-74:
5 restaurants × 15 menu items × 4 categories, fixed prices, quantity ∈ [1,4])
with the test-critical additions the reference lacks: injected duplicate
event_ids (~5%) and out-of-order / late timestamps, to exercise dedup (D1-D4)
and watermark semantics (T1/T5).

Pure-Python + seeded RNG so tests and oracles see identical data; returns
plain row dicts convertible to Spark or pandas frames.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# (menu_item_id, name, category_id, price_in_cents) — same shape as the
# reference's fixed menu (DataGenerator.kt:58-74).
MENU = [
    ("ITEM001", "Margherita Pizza", "CAT001", 1299),
    ("ITEM002", "Pepperoni Pizza", "CAT001", 1499),
    ("ITEM003", "Veggie Supreme", "CAT001", 1399),
    ("ITEM004", "Classic Burger", "CAT002", 999),
    ("ITEM005", "Cheese Burger", "CAT002", 1099),
    ("ITEM006", "Bacon Burger", "CAT002", 1249),
    ("ITEM007", "Caesar Salad", "CAT003", 899),
    ("ITEM008", "Greek Salad", "CAT003", 949),
    ("ITEM009", "Garden Salad", "CAT003", 799),
    ("ITEM010", "Spaghetti Carbonara", "CAT004", 1349),
    ("ITEM011", "Fettuccine Alfredo", "CAT004", 1299),
    ("ITEM012", "Lasagna", "CAT004", 1449),
    ("ITEM013", "Tiramisu", "CAT004", 699),
    ("ITEM014", "Garlic Bread", "CAT004", 499),
    ("ITEM015", "Soda", "CAT004", 249),
]
RESTAURANTS = [f"REST{i:03d}" for i in range(1, 6)]


START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
GAP_MS = 900  # mean inter-event gap → span ≳ 30 one-minute windows
DUP_RATE = 0.05
JITTER_RATE = 0.10  # fraction with out-of-order jitter ≤ 10s
LATE_RATE = 0.01  # fraction far beyond the 10s watermark


@dataclass
class FixtureSpec:
    n_events: int = 2000
    seed: int = 42


def generate_order_events(spec: FixtureSpec = FixtureSpec()) -> list[dict]:
    """Rows in OrderEvent shape (schemas.ORDER_EVENT), duplicates injected
    with identical payload but later arrival position."""
    rng = random.Random(spec.seed)
    rows: list[dict] = []
    ts = START_MS
    for i in range(spec.n_events):
        ts += rng.randint(1, 2 * GAP_MS)
        event_ts = ts
        if rng.random() < JITTER_RATE:
            event_ts -= rng.randint(0, 10_000)  # within watermark bound
        elif rng.random() < LATE_RATE:
            event_ts -= rng.randint(60_000, 300_000)  # hopelessly late
        item_id, name, cat, price = MENU[rng.randrange(len(MENU))]
        row = {
            "event_id": f"EVT{i:08d}",
            "order_id": f"ORD{rng.randrange(16**8):08x}",
            "customer_id": f"CUST{rng.randint(1000, 9999)}",
            "restaurant_id": RESTAURANTS[rng.randrange(len(RESTAURANTS))],
            "menu_item_id": item_id,
            "category_id": cat,
            "menu_item_name": name,
            "quantity": rng.randint(1, 4),
            "price_in_cents": price,
            "timestamp": event_ts,
        }
        rows.append(row)
        if rng.random() < DUP_RATE:
            rows.append(dict(row))  # exact duplicate, re-delivered later
    return rows
