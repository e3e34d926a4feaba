"""Sinks (SURVEY.md §2.2): silver-table append, quarantine, table reset.

The reference writes one row per SQLite transaction (DataIngesting.py:48-64)
and one MQTT publish per record (main.py:53-56) — here every write is a
micro-batch vectorized parquet append via ``foreachBatch`` (K2), with DDL
reset as overwrite-mode writes (K3). The price fact table is not
partitioned by event date: the dashboard queries read its full history,
so date directories pruned nothing and only multiplied its files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def append_parquet(df: DataFrame, path: str) -> None:
    """K2: vectorized append. Call directly in batch, or from foreachBatch."""
    df.write.mode("append").parquet(path)


def overwrite_parquet(
    df: DataFrame, path: str, partition_cols: list[str] | None = None
) -> None:
    """K3: create/reset a table (the reference's DROP+CREATE,
    DataIngesting.py:12-45)."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def append_prices_partitioned(prices: DataFrame, path: str) -> None:
    """Fact-table append, one file per micro-batch task. Q1-Q3 read the
    full history, so event-date partitions pruned nothing: late rows spread
    a poll over ~25 date directories (268 files by the end of a fuel_stream
    run, 11 without), and each dashboard refresh paid to list them all.

    The name stays so the prices sink keeps its own name in
    ``streaming.runners``: the traced benchmark run times each sink by
    rebinding it there."""
    append_parquet(prices, path)


def kafka_payload(
    df: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """Build the exact frame ``format("kafka")`` requires: a ``value``
    column (the record as a JSON document, to_json(struct(*))) plus an
    optional ``key`` column (key_cols joined by ':', the topic partition
    key — records for one station hash to one partition, preserving
    per-key ordering the way the reference's single MQTT topic did).

    The payload is lossless for the declared schemas: parsing ``value``
    back with from_json(schema) reproduces the input row (see
    tests/test_sinks.py round-trip).
    """
    value = F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias(
        "value"
    )
    if key_cols:
        key = F.concat_ws(
            ":", *[F.col(c).cast("string") for c in key_cols]
        ).alias("key")
        return df.select(key, value)
    return df.select(value)


def publish_json(df: DataFrame, path: str) -> None:
    """K1: the reference publishes one JSON payload per record to an MQTT
    topic with a fresh TCP connection each (main.py:53-56) — here the
    payload stream is ``kafka_payload``'s ``value`` column written
    micro-batch-vectorized as JSON lines. Against a real broker the SAME
    frame goes to ``.write.format("kafka").option("kafka.bootstrap.
    servers", ...)`` — only the sink format changes, the payload is
    identical (exercised broker-less in tests/test_sinks.py)."""
    kafka_payload(df).write.mode("append").text(path)


def quarantine(rejects: DataFrame, path: str) -> None:
    """V1 reject sink: same records the reference prints-and-drops
    (DataCleaning.py:154-155,166-167), persisted with their reason so data
    quality is observable/queryable."""
    append_parquet(rejects, path)
