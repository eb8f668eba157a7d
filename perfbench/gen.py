"""Seeded input generators for the benchmark workloads.

Everything the program receives is written here as plain files (bronze
JSON dumps) or is a deterministic function (the item API); the
generators also return the expectations the output checks compare
against. The same seed always
gives the same files and the same expectations.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import math
import os
import random
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# daily_refresh / api_serving: bronze auction dumps

FIRST_DAY = dt.date(2026, 1, 1)
CATALOG_BASE = 100_000  # item ids of the set-up catalog
NEW_ITEM_BASE = 900_000  # item ids first seen on a given day
NOT_FOUND_MOD = 13  # item_fetch answers 404 for ids divisible by this (assumed share)
QUALITIES = ("Poor", "Common", "Uncommon", "Rare", "Epic")
CLASSES = ("Consumable", "Trade Goods", "Armor", "Weapon", "Recipe", "Gem")


@dataclass(frozen=True)
class BronzeSpec:
    """Traffic dimensions of the generated auction house.

    The window is the program's own (``run_pipeline``'s default
    ``retention_days=30``), so a refresh rebuilds gold over 31 days of
    history, as in production. The day is small so that the whole history
    stays near 20k auctions. Every share below is an assumption made for
    the benchmark, not a figure measured on real auction-house traffic.
    """

    history_days: int = 31  # silver history = retention window + the day it drops
    retention_days: int = 30
    auctions_per_day: int = 600
    catalog_items: int = 300
    new_items_per_day: int = 4
    zipf_s: float = 1.1  # item popularity
    commodity_share: float = 0.6  # unit_price auctions; the rest are item-style (buyout)
    persist_share: float = 0.25  # auctions relisted from yesterday (insert-if-absent conflicts)
    bad_numeric_share: float = 0.02
    missing_field_share: float = 0.03
    new_item_share: float = 0.05  # listings of an item first seen in the last four days


@dataclass
class BronzeDay:
    day: dt.date
    path: str  # directory holding the day's JSON dump
    nbytes: int
    # (auction id, item id or None) of the auctions first listed this day
    first_listed: list[tuple[int, int | None]] = field(default_factory=list)


def zipf_cdf(n: int, s: float) -> list[float]:
    w = [1.0 / (k + 1) ** s for k in range(n)]
    tot = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / tot
        out.append(acc)
    return out


def pick(rng: random.Random, cdf: list[float]) -> int:
    return min(bisect.bisect_left(cdf, rng.random()), len(cdf) - 1)


def _auction(rng: random.Random, spec: BronzeSpec, aid: int, item_id: int,
             base_price: int) -> dict:
    price = max(1, int(base_price * math.exp(rng.gauss(0.0, 0.25))))
    if rng.random() < spec.commodity_share:
        a = {"id": aid, "item": {"id": item_id}, "unit_price": price,
             "quantity": rng.randint(1, 200), "time_left": "LONG"}
        price_key = "unit_price"
    else:
        a = {"id": aid,
             "item": {"id": item_id,
                      "modifiers": [{"type": 9, "value": rng.randint(1, 80)}]},
             "buyout": price, "quantity": 1, "time_left": "VERY_LONG"}
        price_key = "buyout"
    r = rng.random()
    if r < spec.bad_numeric_share:
        a[price_key] = rng.choice(["garbage", "", "NaN?", "12,5"])
    elif r < 2 * spec.bad_numeric_share:
        a[price_key] = str(a[price_key])  # numeric string: still valid
    r = rng.random()
    if r < spec.missing_field_share:
        del a["quantity"]
    elif r < 2 * spec.missing_field_share:
        del a["time_left"]
    elif r < 2 * spec.missing_field_share + spec.missing_field_share / 3:
        del a["item"]  # no item: the silver transform drops the row
    return a


def item_base_price(item_id: int) -> int:
    """Deterministic per-item price level in copper (log-uniform 10..1e6)."""
    h = random.Random(item_id * 7919).random()
    return int(10 ** (1 + 5 * h))


def generate_bronze(root: str, seed: int, spec: BronzeSpec) -> list[BronzeDay]:
    """Write ``spec.history_days + 1`` daily dumps under ``root``; the last
    one is the refresh day. Auction ids grow with listing order, and a
    relisted auction keeps its id (and so is never inserted twice)."""
    rng = random.Random(seed)
    cdf = zipf_cdf(spec.catalog_items, spec.zipf_s)
    next_id = 10_000_000
    days: list[BronzeDay] = []
    yesterday_fresh: list[dict] = []
    new_items: list[int] = []
    for k in range(spec.history_days + 1):
        day = FIRST_DAY + dt.timedelta(days=k)
        drift = 1.0 + 0.01 * k + (0.3 if rng.random() < 0.1 else 0.0)
        new_items.extend(
            NEW_ITEM_BASE + k * spec.new_items_per_day + j
            for j in range(spec.new_items_per_day)
        )
        n_persist = int(len(yesterday_fresh) * spec.persist_share) if k else 0
        relisted = []
        for a in rng.sample(yesterday_fresh, n_persist):
            a = dict(a)
            if "time_left" in a:
                a["time_left"] = "SHORT"
            relisted.append(a)
        fresh = []
        for _ in range(spec.auctions_per_day - n_persist):
            if new_items and rng.random() < spec.new_item_share:
                iid = rng.choice(new_items[-4 * spec.new_items_per_day:])
            else:
                iid = CATALOG_BASE + pick(rng, cdf)
            base = int(item_base_price(iid) * drift)
            fresh.append(_auction(rng, spec, next_id, iid, base))
            next_id += 1
        auctions = relisted + fresh
        rng.shuffle(auctions)
        d = os.path.join(root, f"{day:%Y-%m-%d}")
        os.makedirs(d, exist_ok=True)
        body = json.dumps({"_links": {"self": {"href": "generated"}},
                           "auctions": auctions})
        with open(os.path.join(d, f"raw_auctions_{day:%Y-%m-%d}.json"), "w") as f:
            f.write(body)
        days.append(BronzeDay(
            day, d, len(body.encode()),
            [(a["id"], a["item"]["id"] if "item" in a else None) for a in fresh],
        ))
        yesterday_fresh = fresh
    return days


def expected_refresh(days: list[BronzeDay], spec: BronzeSpec) -> dict:
    """What one pipeline run on the last day must leave behind, derived
    from the generator alone: silver keeps each auction's first listing
    inside the retention window; gold holds one row per (item, day) over
    every day the run saw (gold is rebuilt before retention drops the
    oldest day)."""
    snap = days[-1].day
    cutoff = snap - dt.timedelta(days=spec.retention_days)
    silver = sum(1 for d in days if d.day >= cutoff
                 for _, iid in d.first_listed if iid is not None)
    pairs = {(iid, d.day) for d in days for _, iid in d.first_listed if iid is not None}
    return {
        "silver_rows": silver,
        "gold_pairs": len(pairs),
        "cutoff": cutoff,
        "retention_deleted": sum(
            1 for d in days if d.day < cutoff
            for _, iid in d.first_listed if iid is not None
        ),
    }


def item_fetch(url: str) -> tuple[int, dict | None]:
    """Deterministic in-process item API: 404 for ids divisible by
    ``NOT_FOUND_MOD``, otherwise a record derived from the id."""
    item_id = int(url.rsplit("/", 1)[1])
    if item_id % NOT_FOUND_MOD == 0:
        return 404, None
    return 200, {
        "name": f"Item {item_id}",
        "quality": {"name": QUALITIES[item_id % len(QUALITIES)]},
        "item_class": {"name": CLASSES[item_id % len(CLASSES)]},
        "item_subclass": {"name": f"Sub{item_id % 7}"},
        "icon_url": f"https://icons.example/{item_id}.jpg",
    }
