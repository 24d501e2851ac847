"""Seeded stand-in for the reference's six batch CSVs (standard library
only, plus the engine's own schemas for the column lists).

Columns follow ``schemas.ECOM_TABLES`` and FIXTURES.md §A1; sizes match
the reference sample data (13 categories, 20,000 products, 10,000 users
and orders, 2-5 items per order, 15,000 reviews). The dirty-value
classes the silver layer cleans are planted on purpose: mixed-case and
padded emails, duplicate product and user keys (a later ``updated_at``
/ ``created_at`` row per duplicate), null name parts, non-positive item
quantities, out-of-range ratings and reviews with a null user.

    write_batch(out_dir) -> out_dir   # writes <table>.csv per table
"""

from __future__ import annotations

import csv
import os
import random
from datetime import datetime, timedelta

from e_commerce_lakehouse_spark import schemas

CATEGORIES = (
    "Electronics", "Fashion", "Home", "Beauty", "Sports", "Books", "Toys",
    "Grocery", "Automotive", "Health", "Garden", "Music", "Office",
)
BRANDS = ("Acme", "Nova", "Apex", "Zen", "Orbit", "Vista", "Peak", "Lumo")
WORDS = ("Pro", "Max", "Lite", "One", "Air", "Plus", "Mini", "Prime", "Go")
FIRST = ("Anna", "Binh", "Carlos", "Dana", "Emeka", "Fatima", "Goran", "Hana")
LAST = ("Nguyen", "Smith", "Garcia", "Kowalski", "Okafor", "Tanaka", "Silva")
CITIES = (("Hanoi", "Vietnam"), ("Lyon", "France"), ("Austin", "USA"),
          ("Osaka", "Japan"), ("Lagos", "Nigeria"), ("Porto", "Portugal"))

N_PRODUCTS, N_USERS, N_ORDERS, N_REVIEWS = 20_000, 10_000, 10_000, 15_000
N_DUP_PRODUCTS, N_DUP_USERS = 20, 10
START = datetime(2020, 1, 1)
SPAN_S = 5 * 365 * 24 * 3600  # five years of event time


def _ts(rng: random.Random) -> str:
    return (START + timedelta(seconds=rng.randrange(SPAN_S))).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _money(x: float) -> str:
    return f"{x:.2f}"


def _dirty(rng: random.Random, email: str) -> str:
    r = rng.random()
    if r < 0.1:
        return email.upper()
    if r < 0.2:
        return f"  {email.capitalize()} "
    return email


def _user(rng: random.Random, uid: int, dirty: bool) -> list:
    first, last = rng.choice(FIRST), rng.choice(LAST)
    email = f"{first}.{last}{uid}@example.com".lower()
    if dirty:
        email = _dirty(rng, email)
        first = None if rng.random() < 0.05 else first
        last = None if rng.random() < 0.05 else last
    city, country = rng.choice(CITIES)
    return [
        uid, first, last, email,
        f"+84{rng.randrange(10**8, 10**9)}", f"{rng.randrange(1, 999)} Main St",
        city, country, _ts(rng),
    ]


def write_batch(out_dir: str, seed: int = 20240601) -> str:
    rng = random.Random(seed)
    tables: dict[str, list[list]] = {}

    tables["categories"] = [
        [i + 1, name, _ts(rng)] for i, name in enumerate(CATEGORIES)
    ]

    products = []
    for pid in range(1, N_PRODUCTS - N_DUP_PRODUCTS + 1):
        brand = rng.choice(BRANDS)
        products.append([
            pid, f"{brand} {rng.choice(WORDS)}", rng.randrange(1, len(CATEGORIES) + 1),
            brand, _money(rng.uniform(5, 2000)), _ts(rng),
        ])
    # duplicate keys: a re-issued row per product with a later update
    for src in rng.sample(products, N_DUP_PRODUCTS):
        products.append([*src[:4], _money(rng.uniform(5, 2000)), "2025-06-01 00:00:00"])
    tables["products"] = products
    prices = {p[0]: float(p[4]) for p in products}

    # user 1 stays clean: the silver test reads its full_name back
    users = [_user(rng, uid, dirty=uid > 1) for uid in range(1, N_USERS - N_DUP_USERS + 1)]
    for src in rng.sample(users[1:], N_DUP_USERS):
        users.append([*src[:8], "2025-06-01 00:00:00"])
    tables["users"] = users

    orders, items = [], []
    for oid in range(1, N_ORDERS + 1):
        total = 0.0
        for _ in range(rng.randrange(2, 6)):
            pid = rng.randrange(1, N_PRODUCTS - N_DUP_PRODUCTS + 1)
            qty = rng.randrange(1, 4) if rng.random() > 0.01 else 0
            price = prices[pid]
            items.append([len(items) + 1, oid, pid, qty, _money(price), _money(price * qty)])
            total += price * qty
        orders.append([oid, rng.randrange(1, N_USERS - N_DUP_USERS + 1), _money(total), _ts(rng)])
    tables["orders"], tables["order_items"] = orders, items

    tables["reviews"] = [
        [
            rid,
            rng.randrange(1, N_USERS - N_DUP_USERS + 1) if rng.random() > 0.01 else None,
            rng.randrange(1, N_PRODUCTS - N_DUP_PRODUCTS + 1),
            rng.randrange(1, 6) if rng.random() > 0.02 else rng.choice((0, 6)),
            f"review {rid}: {rng.choice(WORDS).lower()} quality",
            _ts(rng),
        ]
        for rid in range(1, N_REVIEWS + 1)
    ]

    os.makedirs(out_dir, exist_ok=True)
    for name, schema in schemas.ECOM_TABLES.items():
        with open(os.path.join(out_dir, f"{name}.csv"), "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(schema.fieldNames())
            w.writerows(tables[name])
    return out_dir
