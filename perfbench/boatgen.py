"""Seeded boat-listings CSV with the reference input's quirks.

Every listing is drawn from ``random.Random(seed)``, so one seed always
gives the same bytes. Each row carries the quirks of the reference
``boat_data.csv``: ``"<CUR> <int>"`` prices including the mojibake
pound sign ``Â£``, comma-bearing multi-tag boat types, the ``Â»``
location hierarchy, other non-ASCII bytes, the year-0 sentinel and
future years, empty Length/Width/Material/Manufacturer/Type cells, and
quoted fields that wrap across physical lines.

While writing, the generator records the answer the pipeline's
summary must give: rows and the sum of ``price_eur`` in integer cents
per output country. It derives that from what it chose to write (the
country each location stands for, the price and its currency), not
by re-running any cleaning step.
"""

from __future__ import annotations

import random

HEADER = (
    "Price,Boat Type,Manufacturer,Type,Year Built,Length,Width,Material,"
    "Location,Number of views last 7 days"
)

# currency as written -> euro cents per unit (reference euro() rates)
CURRENCIES = {"EUR": 100, "CHF": 106, "DKK": 13, "Â£": 117}
CURRENCY_WEIGHTS = [85, 10, 2, 3]

# first location segment as written -> the summary's country. Names
# the reference maps keep their spelling; places and variants map to
# their country; a name it does not map is passed through lowercased;
# an empty location becomes "None".
LOCATIONS = {
    "Switzerland": "Switzerland",
    "Germany": "Germany",
    "Italy": "Italy",
    "France": "France",
    "Netherlands": "Netherlands",
    "Croatia": "Croatia",
    "Spain": "Spain",
    "United Kingdom": "United Kingdom",
    "Denmark": "Denmark",
    "Austria": "Austria",
    "Mallorca": "Spain",
    "Lake Geneva": "Switzerland",
    "Bodensee": "Germany",
    "Jersey": "United Kingdom",
    "italien": "Italy",
    "Belgium": "belgium",
    "Russian Federation": "russian federation",
    "": "None",
}
LOCATION_WEIGHTS = [20, 25, 10, 8, 6, 6, 5, 4, 3, 3, 2, 2, 2, 1, 1, 1, 1, 0.5]
REGIONS = ["Lake Zurich", "Bayern", "Liguria", "CÃ´te d'Azur", "Istrien", "Balearen"]
CITIES = ["VÃ©senaz", "MÃ¼nchen", "Genova", "Nice", "Pula", "Palma"]

BOAT_TYPES = ["Motor Yacht", "Sport Boat", "Cabin Boat", "Fishing Boat", "Trawler",
              "Pilothouse", "Catamaran", "Deck Boat"]
MANUFACTURERS = ["Sunseeker", "Princess", "BÃ©nÃ©teau", "Bavaria", "Sea Ray",
                 "Jeanneau", "Azimut", "Quicksilver"]
CONDITIONS = ["Used boat", "new boat from stock", "new boat on order", "Display Model"]
FUELS = ["Diesel", "Unleaded", "Electric", "Gas", "Hybrid", "Propane"]
MATERIALS = ["GRP", "GRP", "GRP", "Wood", "Steel", "Aluminium", "PVC", "Plastic",
             "Carbon Fiber", "Rubber", "Hypalon", "Thermoplastic"]


def _location(rng: random.Random, first: str) -> str:
    if not first:
        return ""
    shape = rng.random()
    if shape < 0.15:
        return first
    if shape < 0.6:
        return f"{first} Â» {rng.choice(REGIONS)}"
    return f"{first} Â» {rng.choice(REGIONS)} Â» {rng.choice(CITIES)}"


def _boat_type(rng: random.Random, wrap: bool) -> str:
    if wrap:
        a, b = rng.sample(BOAT_TYPES, 2)
        return f'"{a},\n{b}"'
    if rng.random() < 0.04:
        a, b = rng.sample(BOAT_TYPES, 2)
        return f'"{a}, {b}"'
    return rng.choice(BOAT_TYPES)


def _type(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.01:
        return ""
    if r < 0.08:
        return rng.choice(FUELS)
    if r < 0.45:
        return rng.choice(CONDITIONS)
    return f'"{rng.choice(CONDITIONS)},{rng.choice(FUELS)}"'


def _year(rng: random.Random) -> int:
    r = rng.random()
    if r < 0.055:
        return 0
    if r < 0.06:
        return 2031
    return rng.randint(1885, 2021)


def _blank_or(rng: random.Random, p: float, value: str) -> str:
    return "" if rng.random() < p else value


def generate(seed: int, rows: int) -> tuple[str, dict[str, tuple[int, int]]]:
    """CSV text of ``rows`` listings, and per-country (rows, price_eur cents)."""
    rng = random.Random(seed)
    wrapped = set(rng.sample(range(rows), max(1, rows // 2000)))
    currencies, weights = list(CURRENCIES), CURRENCY_WEIGHTS
    firsts = list(LOCATIONS)
    lines = [HEADER]
    expected: dict[str, list[int]] = {}
    for i in range(rows):
        cur = rng.choices(currencies, weights)[0]
        price = rng.randint(1000, 600000)
        first = rng.choices(firsts, LOCATION_WEIGHTS)[0]
        fields = [
            f"{cur} {price}",
            _boat_type(rng, i in wrapped),
            _blank_or(rng, 0.13, rng.choice(MANUFACTURERS)),
            _type(rng),
            str(_year(rng)),
            _blank_or(rng, 0.01, f"{rng.uniform(2, 60):.2f}"),
            _blank_or(rng, 0.05, f"{rng.uniform(1, 12):.2f}"),
            _blank_or(rng, 0.18, rng.choice(MATERIALS)),
            _location(rng, first),
            str(rng.randint(0, 3300)),
        ]
        lines.append(",".join(fields))
        acc = expected.setdefault(LOCATIONS[first], [0, 0])
        acc[0] += 1
        acc[1] += price * CURRENCIES[cur]
    return "\n".join(lines) + "\n", {k: (n, c) for k, (n, c) in expected.items()}


def write_csv(path: str, seed: int, rows: int) -> dict[str, tuple[int, int]]:
    text, expected = generate(seed, rows)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(text)
    return expected
