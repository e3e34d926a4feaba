"""Sources: batch + streaming readers for the fuel-price envelope and the
synthetic test tables (SURVEY.md §2.1 S1-S7).

The reference's sources are a REST poll and four MQTT subscriptions, all
row-at-a-time JSON. Here the landing zone is a directory of JSON envelope
documents (one file per poll — see sources/rest.py for the poll side); the
same reader functions serve ``spark.read`` (batch/tests) and
``spark.readStream`` (parity with the reference's always-on topology).

Envelope split (P2) + nested-location flatten (P1): one parsed document
yields the two raw tables. Reference: pd.json_normalize at main.py:40,69;
envelope access DataGathering.py:33-34.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import API_ENVELOPE


def read_envelope(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """Read landing-zone JSON envelope documents with the declared schema.

    multiLine is needed for pretty-printed documents; the poller writes one
    compact JSON object per line, which the default line-delimited reader
    handles in parallel (a multiLine file is a single split — avoid at
    scale by keeping the landing writer line-delimited).
    """
    if streaming:
        return spark.readStream.schema(API_ENVELOPE).json(path)
    return spark.read.schema(API_ENVELOPE).json(path)


def split_prices(envelope: DataFrame) -> DataFrame:
    """P2: envelope -> raw price records (one row per array element)."""
    return envelope.select(
        F.explode(F.col("prices")).alias("r")
    ).select("r.*")


def split_stations(envelope: DataFrame, with_pos: bool = False) -> DataFrame:
    """P2+P1: envelope -> raw station records, nested location flattened
    to ``location_latitude``/``location_longitude`` (DataIngesting.py:58-59
    naming).

    ``with_pos=True`` adds ``__arrival_pos``: the record's index inside its
    envelope's ``stations`` array — a deterministic arrival sequence that
    survives input-file splitting (unlike ``monotonically_increasing_id``,
    which encodes partition id, not in-document order). Combined with the
    landing file name this pins first-arrival dedup; the one remaining
    assumption is one envelope document per landing file (the poller's
    write contract, sources/rest.py).
    """
    if with_pos:
        rows = envelope.select(
            F.posexplode(F.col("stations")).alias("__arrival_pos", "r")
        ).select("__arrival_pos", "r.*")
    else:
        rows = envelope.select(
            F.explode(F.col("stations")).alias("r")
        ).select("r.*")
    return (
        rows.withColumn("location_latitude", F.col("location.latitude"))
        .withColumn("location_longitude", F.col("location.longitude"))
        .drop("location")
    )


# ---------------------------------------------------------------------------
# CSV interchange (the reference's SQLite-table-export analog)
# ---------------------------------------------------------------------------


def read_prices_csv(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """Cleaned price records from headered CSV. Timestamps travel in the
    reference's wire format (dd/MM/yyyy HH:mm:ss — DataCleaning.py:73-79)
    so the files are byte-compatible with its SQLite export; parsing is
    the same C1 expression the JSON path uses, and malformed timestamps
    surface as NULL for the validation layer rather than failing the
    scan. Explicit schema: a header-inferred read would silently type
    price as string and is a full extra pass at scale.
    """
    from ..functions.scalars import parse_wire_ts

    schema = "stationcode STRING, fueltype STRING, price DOUBLE, lastupdated STRING"
    reader = spark.readStream if streaming else spark.read
    raw = reader.schema(schema).option("header", True).csv(path)
    return raw.withColumn("lastupdated", parse_wire_ts("lastupdated"))


def write_prices_csv(df: DataFrame, path: str) -> None:
    """Cleaned prices -> headered CSV with wire-format timestamps (the
    C2 inverse of read_prices_csv; lossless at second granularity)."""
    from ..functions.scalars import format_wire_ts

    (
        df.withColumn("lastupdated", format_wire_ts("lastupdated"))
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
