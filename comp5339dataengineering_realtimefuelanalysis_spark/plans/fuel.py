"""The fuel domain end-to-end: full cleaning rulesets for ``prices`` and
``stations`` plus the three dashboard queries Q1-Q3 (SURVEY.md §0, §3).

This is the reference's actual pipeline re-expressed on the generic operator
library; FIXTURES.md §1 documents the shapes. The same functions run under
batch (tests / oracle) and streaming (streaming/runners.py).

Reference parity, cited per function:
  * price_rules / clean_prices     — DataCleaning.py:42-81 (F2, F3, C1, C4, C5)
  * station_rules / clean_stations — DataCleaning.py:84-133 (F3, C4, C5, C9)
  * q1_avg_price_by_fueltype       — DataAnalysis.py:67-88  (A1, C7)
  * q2_station_latest_prices       — DataAnalysis.py:91-138 (A3, J1, P5, A4, C6)
  * q3_price_trend                 — DataAnalysis.py:142-165 (A5, O3)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import (
    default_if_empty,
    info_label,
    parse_wire_ts,
)
from ..operators.analytics import (
    avg_by,
    enrich_left,
    label_join_agg,
    latest_per_key,
    series_by,
)
from ..operators.cleaning import (
    Rule,
    null_or_empty_rules,
    validate_split,
)

PRICE_KEYS = ("stationcode", "fueltype", "price", "lastupdated")
STATION_KEYS = (
    "brandid",
    "stationid",
    "brand",
    "code",
    "name",
    "address",
    "location_latitude",
    "location_longitude",
)


def price_rules() -> list[Rule]:
    """F3 missing/empty, F2 zero price, C5 bad numeric, C1 bad timestamp —
    in the reference's fail-fast order (DataCleaning.py:44-79)."""
    rules = null_or_empty_rules(PRICE_KEYS)
    price_d = F.col("price").try_cast("double")  # ANSI-safe: malformed -> NULL
    rules.append(Rule("zero_price", price_d == 0))  # F2 :54-56
    rules.append(Rule("bad_price", price_d.isNull()))  # C5 coercion fail :65-69
    rules.append(
        Rule("bad_timestamp", parse_wire_ts("lastupdated").isNull())  # C1 :73-76
    )
    return rules


def clean_prices(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Validate + type the raw price stream -> (silver prices, rejects).

    Silver schema: stationcode string, fueltype string, price double,
    lastupdated timestamp (schemas.CLEAN_PRICE).
    """
    valid, rejects = validate_split(raw, price_rules())
    silver = valid.select(
        F.col("stationcode").cast("string").alias("stationcode"),  # C4 :59-60
        F.col("fueltype").cast("string").alias("fueltype"),
        F.col("price").try_cast("double").alias("price"),  # C5 :65-69
        parse_wire_ts("lastupdated").alias("lastupdated"),  # C1 :73-79
    )
    return silver, rejects


def station_rules() -> list[Rule]:
    """F3 for stations: brandid/stationid may be EMPTY (they get defaulted,
    C9) but must be present; all other keys must be present and non-empty;
    lat/lon must be numeric (DataCleaning.py:86-131)."""
    rules: list[Rule] = []
    for c in STATION_KEYS:
        rules.append(Rule(f"missing_{c}", F.col(c).isNull()))
    for c in ("brand", "code", "name", "address"):
        rules.append(Rule(f"empty_{c}", F.col(c).cast("string") == ""))
    rules.append(
        Rule(
            "bad_location",
            F.col("location_latitude").try_cast("double").isNull()
            | F.col("location_longitude").try_cast("double").isNull(),
        )
    )
    return rules


def clean_stations(
    raw: DataFrame, passthrough_cols: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """Validate + type + C9-default the raw station records.

    Expects the flattened shape from sources.readers.split_stations
    (location_latitude/location_longitude columns). ``passthrough_cols``
    survive into the silver frame (used by the streaming sink to carry the
    arrival-order column through for deterministic dedup).
    """
    valid, rejects = validate_split(raw, station_rules())
    silver = valid.select(
        *passthrough_cols,
        default_if_empty("brandid", "brand").alias("brandid"),  # C9 :97-98
        default_if_empty("stationid", "code").alias("stationid"),  # C9 :99-100
        F.col("brand").cast("string").alias("brand"),
        F.col("code").cast("string").alias("code"),
        F.col("name").cast("string").alias("name"),
        F.col("address").cast("string").alias("address"),
        F.col("location_latitude").try_cast("double").alias("location_latitude"),
        F.col("location_longitude").try_cast("double").alias("location_longitude"),
    )
    return silver, rejects


# ---------------------------------------------------------------------------
# The three dashboard queries (gold layer)
# ---------------------------------------------------------------------------


def q1_avg_price_by_fueltype(prices: DataFrame) -> DataFrame:
    """Q1: AVG(price) per fueltype, 2dp (DataAnalysis.py:67-88)."""
    return avg_by(
        prices, ["fueltype"], "price", alias="avg_price", ndigits=2
    )


def q2_station_latest_prices(
    stations: DataFrame, prices: DataFrame
) -> DataFrame:
    """Q2: station map — latest price per (station, fuel) left-joined onto
    the station dimension, fuel-info strings aggregated per station
    (DataAnalysis.py:91-138).

    Key cast to long on both sides (C6, DataAnalysis.py:112-115); LEFT join
    so stations without prices survive with an empty info string; per-station
    info sorted for determinism (reference order is arbitrary merge order).
    """
    # tiebreak pinned (repo contract: every argmax pins one): silver prices
    # carry no unique id, and only price survives into the output, so
    # highest-price-wins makes equal-timestamp results deterministic.
    latest = latest_per_key(
        prices, ["stationcode", "fueltype"], "lastupdated", tiebreak="price"
    ).select(
        F.col("stationcode").try_cast("long").alias("join_code"),
        "fueltype",
        "price",
    )
    dim = stations.withColumn("code_long", F.col("code").try_cast("long"))
    joined = enrich_left(
        dim,
        latest,
        dim["code_long"] == latest["join_code"],
        broadcast_side="right",
    ).select(
        "name",
        "brand",
        "address",
        "location_latitude",
        "location_longitude",
        info_label("fueltype", "price").alias("fuelinfo"),  # P5 :118-120
    )
    return label_join_agg(
        joined,
        ["name", "brand", "address", "location_latitude", "location_longitude"],
        "fuelinfo",
        sep="<br>",
        alias="fuelinfo",
    )


def q3_price_trend(prices: DataFrame) -> DataFrame:
    """Q3: per-fueltype (lastupdated, price) series, time-ordered
    (DataAnalysis.py:142-165)."""
    return series_by(prices, ["fueltype"], "lastupdated", ["price"])
