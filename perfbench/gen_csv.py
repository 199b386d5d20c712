"""Seeded IndiaMART-style raw CSV for the ``etl_csv`` workload.

Every row is a listing in the reference scraper's 15-column layout.
Known shares of defects are planted, and the generator records what the
pipeline must make of them:

- ``(product_url, dispid)`` duplicates with a higher ``itemid``;
- "Ask Price" / "Get Quote" and comma-grouped rupee prices, and zero
  prices;
- keyword aliases and state misspellings (case, spacing, "tamilnadu");
- missing product or supplier names (empty or a null token);
- out-of-range ratings and invalid product or supplier URLs.

``generate(path, seed, n_listings)`` writes the file and returns the
ground truth as a dict of plain counts.
"""

from __future__ import annotations

import csv
import random
from collections import Counter

RAW_HEADER = [
    "Search Keyword", "Product Name", "Supplier Name", "City", "State", "Rating",
    "Price", "Phone", "Product URL", "Supplier URL", "CatId", "McatId", "ItemId",
    "DispId", "Scraped At",
]

#: canonical keyword -> raw spellings that normalize to it
KEYWORDS = {
    "bakery oven": ["bakery oven", "Bakery Oven", "bakery oven,"],
    "wet and dry vacuum cleaner": ["wet and dry vacuum cleaner", "Wet & Dry Vacuum Cleaner"],
    "built in dishwasher": ["built in dishwasher", "Built-in Dishwasher"],
    "semi-automatic washing machine": [
        "semi-automatic washing machine", "semi  automatic washing machine",
    ],
    "mixer grinder": ["mixer grinder", "  Mixer   Grinder "],
    "water purifier": ["water purifier", "WATER PURIFIER"],
    "air cooler": ["air cooler"],
    "deep freezer": ["deep freezer", "Deep Freezer"],
    "commercial refrigerator": ["commercial refrigerator"],
    "induction cooktop": ["induction cooktop", "Induction  Cooktop"],
    "chimney": ["chimney", "Chimney"],
    "microwave oven": ["microwave oven"],
}

#: canonical (title-cased) state -> (region, raw spellings)
STATES = {
    "Tamil Nadu": ("South", ["tamil nadu", "Tamilnadu", "TAMILNADU", "Tamil  Nadu"]),
    "Kerala": ("South", ["kerala", " KERALA "]),
    "Karnataka": ("South", ["Karnataka"]),
    "Maharashtra": ("West", ["maharashtra", "Maharashtra"]),
    "Gujarat": ("West", ["GUJARAT", "gujarat"]),
    "Delhi": ("North", ["delhi", "Delhi"]),
    "Punjab": ("North", ["punjab"]),
    "West Bengal": ("East", ["west bengal", "West  Bengal"]),
    "Odisha": ("East", ["odisha"]),
    "Sikkim": ("Other/Unknown", ["sikkim"]),
}

CITIES = ["chennai", "kochi", "bengaluru", "mumbai", "ahmedabad", "new delhi",
          "ludhiana", "kolkata", "bhubaneswar", "gangtok", "pune", "surat"]
UNITS = ["Piece", "Unit", "Set", "Kg", "Box"]
NULL_NAMES = ["", "NaN", "none", "NULL"]

#: planted shares (of listings, before duplication)
SHARES = {
    "duplicate": 0.10,
    "ask_price": 0.08,
    "zero_price": 0.01,
    "missing_product_name": 0.03,
    "missing_supplier_name": 0.02,
    "missing_state": 0.03,
    "rating_out_of_range": 0.03,
    "invalid_product_url": 0.02,
    "invalid_supplier_url": 0.01,
}


def _price(rng: random.Random, kind: str) -> str:
    if kind == "ask":
        return rng.choice(["Ask Price", "Get Quote"])
    if kind == "zero":
        return f"₹ 0/{rng.choice(UNITS)}"
    value = rng.randint(2, 200_000)
    return f"₹ {value:,}/{rng.choice(UNITS)}"


def generate(path: str, seed: int, n_listings: int) -> dict:
    """Write the raw CSV to ``path``; return the ground-truth counts."""
    rng = random.Random(seed)
    rows: list[list[str]] = []
    dup_rows: list[list[str]] = []
    issues: Counter = Counter()
    curated = 0
    curated_null_price = 0
    by_region: Counter = Counter()
    by_keyword: Counter = Counter()
    planted: Counter = Counter()
    keywords = list(KEYWORDS)
    states = list(STATES)

    def flags() -> dict[str, bool]:
        return {k: rng.random() < v for k, v in SHARES.items()}

    for i in range(n_listings):
        f = flags()
        planted.update(k for k, v in f.items() if v)
        kw = rng.choice(keywords)
        state = rng.choice(states)
        dispid = 10_000_000 + i
        itemid = 50_000_000 + 2 * i
        price_kind = "ask" if f["ask_price"] else ("zero" if f["zero_price"] else "num")
        product = rng.choice(NULL_NAMES) if f["missing_product_name"] else (
            f"{kw.title()} Model {rng.randint(1, 999)}"
        )
        supplier = rng.choice(NULL_NAMES) if f["missing_supplier_name"] else (
            f"supplier {rng.randint(1, 5000)} traders"
        )
        rating = (
            rng.choice(["9.9", "-1", "7.5"]) if f["rating_out_of_range"]
            else f"{rng.randint(10, 50) / 10:.1f}"
        )
        purl = f"notaurl/{i}" if f["invalid_product_url"] else f"https://im.example/p/{i}"
        surl = (
            f"www.supplier{i}" if f["invalid_supplier_url"]
            else f"https://im.example/s/{rng.randint(1, 5000)}"
        )
        row = [
            rng.choice(KEYWORDS[kw]),
            product,
            supplier,
            rng.choice(CITIES),
            "" if f["missing_state"] else rng.choice(STATES[state][1]),
            rating,
            _price(rng, price_kind),
            f"+91 9{rng.randint(100000000, 999999999)}",
            purl,
            surl,
            str(rng.randint(1, 50)),
            str(rng.randint(100, 999)),
            str(itemid),
            str(dispid),
            f"2026-01-{1 + i % 28:02d}T{i % 24:02d}:00:00",
        ]
        copies = 2 if f["duplicate"] else 1
        rows.append(row)
        if copies == 2:
            # same (product_url, dispid), later itemid: keep-first drops it
            dup = list(row)
            dup[12] = str(itemid + 1)
            dup_rows.append(dup)
        for name, hit in (
            ("missing_product_name", f["missing_product_name"]),
            ("missing_supplier_name", f["missing_supplier_name"]),
            ("invalid_product_url", f["invalid_product_url"]),
            ("invalid_supplier_url", f["invalid_supplier_url"]),
            ("non_positive_price", price_kind == "zero"),
            ("rating_out_of_range", f["rating_out_of_range"]),
        ):
            if hit:
                issues[name] += copies
        if not (f["missing_product_name"] or f["missing_supplier_name"]):
            curated += 1
            curated_null_price += price_kind == "ask"
            by_region["Unknown" if f["missing_state"] else STATES[state][0]] += 1
            by_keyword[kw] += 1

    # scatter the duplicates through the file; keep-first picks the
    # lower itemid, so their position does not matter
    for dup in dup_rows:
        rows.insert(rng.randint(int(dup[13]) - 10_000_000 + 1, len(rows)), dup)
    with open(path, "w", newline="", encoding="utf-8-sig") as fh:
        w = csv.writer(fh)
        w.writerow(RAW_HEADER)
        w.writerows(rows)
    return {
        "rows": len(rows),
        "listings": n_listings,
        "planted": dict(sorted(planted.items())),
        "curated_rows": curated,
        "curated_null_price": curated_null_price,
        "curated_by_region": dict(sorted(by_region.items())),
        "curated_by_keyword": dict(sorted(by_keyword.items())),
        "issues": dict(sorted(issues.items())),
    }
