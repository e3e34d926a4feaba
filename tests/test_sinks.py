"""Sink tests: the Kafka payload form of K1 (value/key column construction
+ lossless round-trip), the JSON-lines publish path that shares it, and the
epoch-keyed store's fold recovery."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from comp5339dataengineering_realtimefuelanalysis_spark.schemas import CLEAN_PRICE
from comp5339dataengineering_realtimefuelanalysis_spark.sinks.writers import (
    kafka_payload,
    publish_json,
)

ROWS = [
    ("100", "U91", 180.0, "2023-10-01 10:00:00"),
    ("100", "E10", 171.5, "2023-10-02 09:00:00"),
    ("200", "P98", 210.9, "2023-10-02 10:30:00"),
]


def clean_prices_df(spark):
    return spark.createDataFrame(ROWS, list(CLEAN_PRICE.names)).withColumn(
        "lastupdated", F.col("lastupdated").cast("timestamp")
    )


def test_kafka_value_round_trip(spark):
    """The kafka `value` column parses back (from_json with the declared
    schema) to exactly the input rows — the broker-swap claim in
    publish_json is a payload identity, verified here without a broker."""
    df = clean_prices_df(spark)
    payload = kafka_payload(df, key_cols=["stationcode", "fueltype"])
    assert payload.columns == ["key", "value"]
    assert dict(payload.dtypes) == {"key": "string", "value": "string"}

    parsed = payload.select(
        "key", F.from_json("value", CLEAN_PRICE).alias("r")
    ).select("key", "r.*")
    got = {tuple(r)[1:] for r in parsed.collect()}
    want = {tuple(r) for r in df.collect()}
    assert got == want
    # partition key = key_cols joined — per-station ordering preserved
    keys = {r.key for r in payload.collect()}
    assert keys == {"100:U91", "100:E10", "200:P98"}


def test_publish_json_lines_share_kafka_payload(spark, tmp_path):
    """publish_json writes the same value column as JSON lines; reading
    the epoch's landing directory back with the schema reproduces the
    records."""
    df = clean_prices_df(spark)
    out = str(tmp_path / "topic")
    publish_json(df, out, 0)
    back = spark.read.schema(CLEAN_PRICE).json(f"{out}/ingest_epoch=0")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_prices_csv_round_trip(spark, tmp_path):
    """CSV interchange: cleaned prices -> wire-format CSV -> parsed back
    losslessly (second-granularity timestamps survive both directions)."""
    from comp5339dataengineering_realtimefuelanalysis_spark.sources.readers import (
        read_prices_csv,
        write_prices_csv,
    )

    df = clean_prices_df(spark)
    out = str(tmp_path / "prices_csv")
    write_prices_csv(df, out)
    back = read_prices_csv(spark, out)
    assert dict(back.dtypes) == dict(df.dtypes)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_prices_csv_malformed_ts_becomes_null(spark, tmp_path):
    from comp5339dataengineering_realtimefuelanalysis_spark.sources.readers import (
        read_prices_csv,
    )

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part.csv").write_text(
        "stationcode,fueltype,price,lastupdated\n"
        "100,U91,180.0,2023-10-02 09:00:00\n"   # ISO, not wire format
        "200,E10,171.5,02/10/2023 09:00:00\n"
    )
    rows = {r.stationcode: r.lastupdated
            for r in read_prices_csv(spark, str(p)).collect()}
    assert rows["100"] is None          # -> rejected by validate layer
    assert rows["200"] is not None


def test_recover_fold_rolls_back_a_torn_temp(spark, tmp_path):
    """A fold manifest whose temp write never committed (no ``_SUCCESS``)
    is rolled back: every epoch directory and row stays where it was, and
    the manifest and the torn temp directory are removed."""
    from comp5339dataengineering_realtimefuelanalysis_spark.sinks import (
        writers,
    )

    store = str(tmp_path / "store")
    df = clean_prices_df(spark)
    for e in range(3):
        writers.write_epoch(
            df.withColumn("price", F.col("price") + e), store, e
        )

    def stored_rows():
        return sorted(map(tuple, spark.read.parquet(store).collect()))

    before = stored_rows()
    tmp = store + "_compact_tmp"
    writers.rewrite_epochs(
        df.limit(1).withColumn("ingest_epoch", F.lit(0)), tmp
    )
    os.remove(os.path.join(tmp, "_SUCCESS"))
    with open(writers._pending_path(store), "w") as f:
        json.dump({"temp": tmp, "src": [0, 1], "tgt": 0, "outer": []}, f)

    writers.recover_fold(store)

    assert writers.stored_epochs(store) == {0, 1, 2}
    assert stored_rows() == before
    assert not os.path.exists(writers._pending_path(store))
    assert not os.path.exists(tmp)
