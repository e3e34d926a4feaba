"""Seeded NSW-shaped fuel polls and a pure-Python reference of the pipeline.

The generator draws API envelopes ``{"stations": [...], "prices": [...]}``
from the FIXTURES.md section 1 distributions: about 1,600 stations, about
800 distinct price codes of which half are orphans (no station row), 8
skewed fuel types, about 2% dirty price rows spread over every reject
reason, price rows that repeat the timestamp of an earlier row of the same
(stationcode, fueltype) with another price (Q2's tie-break), re-delivered
station codes and late rows. Every envelope depends only on
``(seed, index)``, so a run of any length sees the same prefix of polls.

``Reference`` replays the same envelopes through the cleaning rules and
the three dashboard queries in plain Python (no Spark), giving the values
the streaming run must reproduce.
"""

from __future__ import annotations

import functools
import json
import random
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

WIRE_TS = "%d/%m/%Y %H:%M:%S"
PRICE_KEYS = ("stationcode", "fueltype", "price", "lastupdated")

# FIXTURES.md 1.1: share and mean price per fuel type.
FUELS = (
    ("U91", 0.20, 189.0),
    ("PDL", 0.19, 205.0),
    ("DL", 0.18, 199.0),
    ("P98", 0.17, 221.0),
    ("P95", 0.11, 210.0),
    ("E10", 0.10, 185.0),
    ("LPG", 0.045, 104.0),
    ("B20", 0.005, 195.0),
)
FUEL_WEIGHTS = [w for _, w, _ in FUELS]
BRANDS = (
    ("Ampol", 15), ("Tesla", 14), ("Independent", 11), ("BP", 9),
    ("Shell", 8), ("7-Eleven", 7), ("Caltex", 6), ("Metro Fuel", 5),
    ("United", 4), ("Speedway", 3), ("Coles Express", 3), ("Puma", 2),
    ("Budget", 2), ("Liberty", 2), ("Mobil", 2), ("EG Ampol", 1),
    ("Costco", 1), ("Enhance", 1), ("Prime", 1), ("Westside", 1),
    ("Astron", 1), ("Inland", 1), ("Matilda", 1), ("Power Fuel", 1),
    ("Fuel Stop", 1), ("Pearl", 1), ("South West", 1), ("Solo", 1),
    ("Vibe", 1), ("Woolworths", 1),
)
# Dirty price rows, one kind per reject reason of plans.fuel.price_rules.
DIRTY_KINDS = (
    "missing_stationcode", "missing_fueltype", "missing_price",
    "missing_lastupdated", "empty_stationcode", "empty_fueltype",
    "empty_price", "empty_lastupdated", "zero_price", "bad_price",
    "bad_timestamp",
)
N_STATIONS = 1600
N_PRICE_CODES = 400  # station codes with prices; as many orphan codes again
N_LATE_STATIONS = 100  # first delivered during the poll phase
DIRTY_SHARE = 0.02
LATE_SHARE = 0.01  # rows more than 30 days before the spread
TIE_SHARE = 0.02  # rows repeating an earlier row's key and timestamp
BASE_TS = datetime(2023, 10, 1)
SPREAD_S = 19 * 86400


@dataclass(frozen=True)
class FuelShape:
    """Sizes of the two phases of the ``fuel_stream`` workload."""

    backfill_envelopes: int = 24
    backfill_prices: int = 5000
    backfill_stations: int = 250
    poll_prices: int = 500
    poll_stations: int = 12


@functools.lru_cache(maxsize=4)
def _station_universe(seed: int) -> list[dict]:
    rng = random.Random(f"{seed}:stations")
    codes = rng.sample(range(1000, 20000), N_STATIONS)
    brands = [b for b, _ in BRANDS]
    weights = [w for _, w in BRANDS]
    out = []
    for i, code in enumerate(codes):
        brand = rng.choices(brands, weights)[0]
        out.append(
            {
                "brandid": "" if i % 17 == 0 else f"B{brands.index(brand)}",
                "stationid": "" if i % 23 == 0 else f"S{code}",
                "brand": brand,
                "code": str(code),
                "name": f"{brand} {code}",
                "address": f"{rng.randint(1, 999)} Main Rd, Suburb {code % 97}",
                "location": {
                    "latitude": round(rng.uniform(-37.16, -28.17), 6),
                    "longitude": round(rng.uniform(141.45, 153.62), 6),
                },
            }
        )
    return out


@functools.lru_cache(maxsize=4)
def _price_codes(seed: int) -> list[str]:
    """``N_PRICE_CODES`` station codes and as many orphans."""
    rng = random.Random(f"{seed}:price-codes")
    stations = rng.sample([s["code"] for s in _station_universe(seed)], N_PRICE_CODES)
    # station codes lie in 1000..19999
    orphans = rng.sample(range(20000, 40000), N_PRICE_CODES)
    return stations + [str(c) for c in orphans]


def _wire_ts(t: datetime) -> str:
    return t.strftime(WIRE_TS)


def _price_row(rng: random.Random, codes: list[str], earlier: list[tuple]) -> dict:
    """One price row. ``earlier`` holds the (stationcode, fueltype,
    lastupdated) of this envelope's clean rows so far; a ``TIE_SHARE`` of
    rows repeat one of them with a fresh price."""
    fuel, _, mean = rng.choices(FUELS, FUEL_WEIGHTS)[0]
    price = round(min(259.9, max(89.9, rng.gauss(mean, 12.0))), 1)
    if earlier and rng.random() < TIE_SHARE:
        code, fuel, stamp = earlier[rng.randrange(len(earlier))]
    else:
        code = codes[rng.randrange(len(codes))]
        ts = BASE_TS + timedelta(seconds=rng.randrange(SPREAD_S))
        if rng.random() < LATE_SHARE:
            ts -= timedelta(days=40)
        stamp = _wire_ts(ts)
    row = {
        # stationcode arrives as int or string; price as number or string
        "stationcode": int(code) if rng.random() < 0.3 else code,
        "fueltype": fuel,
        "price": str(price) if rng.random() < 0.2 else price,
        "lastupdated": stamp,
    }
    if rng.random() < DIRTY_SHARE:
        make_dirty(rng, row, DIRTY_KINDS[rng.randrange(len(DIRTY_KINDS))])
    else:
        earlier.append((code, fuel, stamp))
    return row


def make_dirty(rng: random.Random, row: dict, kind: str) -> None:
    """Spoil a valid price row so that ``kind`` is its reject reason."""
    if kind.startswith("missing_"):
        key = kind[len("missing_"):]
        if rng.random() < 0.5:
            del row[key]  # absent key
        else:
            row[key] = None  # explicit null
    elif kind.startswith("empty_"):
        row[kind[len("empty_"):]] = ""
    elif kind == "zero_price":
        row["price"] = rng.choice((0.0, "0", "0.0"))
    elif kind == "bad_price":
        row["price"] = rng.choice(("n/a", "12,5", "abc"))
    else:  # bad_timestamp: ISO instead of the day-first wire format
        row["lastupdated"] = "2023-10-05T10:00:00"


def _dirty_station(rng: random.Random, st: dict) -> dict:
    st = json.loads(json.dumps(st))
    kind = rng.randrange(3)
    if kind == 0:
        del st["code"]
    elif kind == 1:
        st["name"] = ""
    else:
        st["location"]["latitude"] = None
    return st


def envelope(seed: int, index: int, shape: FuelShape) -> dict:
    """Envelope ``index``: the first ``shape.backfill_envelopes`` are large
    backfill files, the rest small polls."""
    universe = _station_universe(seed)
    rng = random.Random(f"{seed}:envelope:{index}")
    early = universe[: N_STATIONS - N_LATE_STATIONS]
    backfill = index < shape.backfill_envelopes
    if backfill:
        # every early station arrives once across the backfill files, plus
        # re-deliveries of codes that may already have landed
        per = -(-len(early) // shape.backfill_envelopes)
        fresh = early[index * per : (index + 1) * per]
        n_prices = shape.backfill_prices
        n_redeliver = shape.backfill_stations - len(fresh)
    else:
        k = index - shape.backfill_envelopes
        late = universe[N_STATIONS - N_LATE_STATIONS :]
        fresh = [late[k % N_LATE_STATIONS]] if k < N_LATE_STATIONS else []
        n_prices = shape.poll_prices
        n_redeliver = shape.poll_stations - len(fresh)
    stations = list(fresh)
    for _ in range(max(0, n_redeliver)):
        st = dict(early[rng.randrange(len(early))])
        st["address"] = f"re-delivered {rng.randrange(10**6)}"  # must lose
        stations.append(st)
    rng.shuffle(stations)
    stations = [
        _dirty_station(rng, s) if rng.random() < DIRTY_SHARE else s
        for s in stations
    ]
    codes = _price_codes(seed)
    earlier: list[tuple] = []
    prices = [_price_row(rng, codes, earlier) for _ in range(n_prices)]
    return {"stations": stations, "prices": prices}


def encode(env: dict) -> bytes:
    """The landed file: one compact JSON document on one line, as the
    poller in ``sources/rest.py`` writes it."""
    return json.dumps(env, separators=(",", ":")).encode() + b"\n"


def landing_name(index: int) -> str:
    return f"poll_{index:08d}.json"


# ---------------------------------------------------------------------------
# Pure-Python reference
# ---------------------------------------------------------------------------


def _as_str(v: object) -> str | None:
    """A JSON value read into a Spark StringType column."""
    if v is None or isinstance(v, str):
        return v
    # JSON text of a number: repr is json.dumps for ints and finite floats
    return repr(v)


def _try_double(s: str) -> float | None:
    try:
        return float(s)
    except ValueError:
        return None


def _try_ts(s: str) -> datetime | None:
    """``WIRE_TS`` with two-digit fields, as the generator writes it (a
    quarter of the cost of ``strptime``)."""
    if len(s) != 19 or s[2] != "/" or s[5] != "/" or s[10] != " " or s[13] != ":" or s[16] != ":":
        return None
    try:
        return datetime(int(s[6:10]), int(s[3:5]), int(s[:2]),
                        int(s[11:13]), int(s[14:16]), int(s[17:]))
    except ValueError:
        return None


def price_reason(row: dict) -> str | None:
    """First failing rule of ``plans.fuel.price_rules`` (None when valid)."""
    vals = {k: _as_str(row.get(k)) for k in PRICE_KEYS}
    for k in PRICE_KEYS:
        if vals[k] is None:
            return f"missing_{k}"
    for k in PRICE_KEYS:
        if vals[k] == "":
            return f"empty_{k}"
    p = _try_double(vals["price"])
    if p == 0:
        return "zero_price"
    if p is None:
        return "bad_price"
    if _try_ts(vals["lastupdated"]) is None:
        return "bad_timestamp"
    return None


def station_valid(st: dict) -> bool:
    """``plans.fuel.station_rules`` on a raw envelope station."""
    loc = st.get("location") or {}
    flat = {
        **{k: st.get(k) for k in ("brandid", "stationid", "brand", "code", "name", "address")},
        "location_latitude": loc.get("latitude"),
        "location_longitude": loc.get("longitude"),
    }
    if any(v is None for v in flat.values()):
        return False
    return all(flat[k] != "" for k in ("brand", "code", "name", "address"))


def round2(x: float) -> float:
    """Spark's ``round(double, 2)``: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def fmt2(x: float) -> str:
    """``CAST(CAST(x AS DECIMAL(18,2)) AS STRING)``."""
    return str(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


@dataclass
class Reference:
    """Expected silver, rejects and dashboard state after a sequence of
    envelopes landed in order."""

    prices: list[tuple[str, str, float, datetime]] = field(default_factory=list)
    rejects: Counter = field(default_factory=Counter)
    stations: dict[str, dict] = field(default_factory=dict)
    raw_rows: int = 0

    def add(self, env: dict) -> None:
        self.raw_rows += len(env["prices"]) + len(env["stations"])
        for row in env["prices"]:
            reason = price_reason(row)
            if reason is not None:
                self.rejects[reason] += 1
                continue
            self.prices.append(
                (
                    _as_str(row["stationcode"]),
                    _as_str(row["fueltype"]),
                    float(_as_str(row["price"])),
                    _try_ts(_as_str(row["lastupdated"])),
                )
            )
        for st in env["stations"]:
            if station_valid(st) and st["code"] not in self.stations:
                self.stations[st["code"]] = st

    def q1(self) -> dict[str, float]:
        """AVG(price) per fuel type via exact decimal sums, 2 dp."""
        sums: dict[str, Decimal] = defaultdict(Decimal)
        counts: Counter = Counter()
        for _, fuel, price, _ in self.prices:
            sums[fuel] += Decimal(repr(price)).quantize(Decimal("0.000001"))
            counts[fuel] += 1
        return {f: round2(float(sums[f]) / counts[f]) for f in sums}

    def q2(self) -> dict[tuple, str]:
        """Station name/brand/address/lat/lon -> sorted fuel labels."""
        latest: dict[tuple[str, str], tuple[datetime, float]] = {}
        for code, fuel, price, ts in self.prices:
            key = (code, fuel)
            if key not in latest or (ts, price) > latest[key]:
                latest[key] = (ts, price)
        by_code: dict[int, list[str]] = defaultdict(list)
        for (code, fuel), (_, price) in latest.items():
            by_code[int(code)].append(f"{fuel}: {fmt2(price)}")
        out = {}
        for code, st in self.stations.items():
            key = (
                st["name"], st["brand"], st["address"],
                float(st["location"]["latitude"]),
                float(st["location"]["longitude"]),
            )
            out[key] = "<br>".join(sorted(by_code.get(int(code), [""])))
        return out

    def q3(self) -> dict[str, int]:
        """Series length per fuel type."""
        return dict(Counter(fuel for _, fuel, _, _ in self.prices))
