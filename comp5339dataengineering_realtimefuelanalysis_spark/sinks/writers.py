"""Sinks (SURVEY.md §2.2): epoch-keyed silver, quarantine and publish writes.

The reference writes one row per SQLite transaction (DataIngesting.py:48-64)
and one MQTT publish per record (main.py:53-56) — here every write is a
micro-batch vectorized write via ``foreachBatch`` (K2). Every streaming
sink commits its output the same way: keyed by the epoch id that
``foreachBatch`` passes in, so a replayed epoch replaces its own earlier
attempt instead of adding to it. With the replayable file source that is
exactly-once output (Structured Streaming, SIGMOD 2018 §6). Two forms:

  * ``write_epoch``      — static overwrite of ``<path>/ingest_epoch=<id>``
                           (one epoch's output; the fuel sinks, ppl rejects);
  * ``overwrite_epochs`` — dynamic-partition overwrite of a frame that
                           carries ``ingest_epoch`` (the curation stores).

Readers get ``ingest_epoch`` back through partition discovery. The price
fact table is not partitioned by event date: the dashboard queries read its
full history, so date directories pruned nothing and only multiplied its
files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_epoch(
    df: DataFrame, path: str, epoch_id: int, fmt: str = "parquet"
) -> None:
    """Replace epoch ``epoch_id``'s output under ``path``: a static
    overwrite of the directory ``<path>/ingest_epoch=<id>``.

    Writing the partition directory itself replaces it even when the
    replay's output is EMPTY, where dynamic partition overwrite only
    replaces partitions present in the written rows and would leave the
    first attempt's stale rows behind. No partition sort and no staging
    directory: one file per write task, as a plain write. ``ingest_epoch``
    comes back through partition discovery on read."""
    df.write.mode("overwrite").format(fmt).save(
        f"{path}/ingest_epoch={int(epoch_id)}"
    )


def overwrite_epochs(df: DataFrame, path: str, *outer: str) -> None:
    """Dynamic-partition overwrite of ``df`` by ``(*outer, ingest_epoch)``:
    a replayed or backfilled epoch rewrites exactly the partitions its rows
    fall in. ``df`` already carries ``ingest_epoch``.

    The dynamic mode is an option of this writer, NOT set on the session
    conf: a session-wide flip would silently change overwrite semantics
    for every later partitioned write sharing the session."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*outer, "ingest_epoch")
        .parquet(path)
    )


def append_parquet(df: DataFrame, path: str, epoch_id: int) -> None:
    """K2: one micro-batch's rows, written as epoch ``epoch_id``."""
    write_epoch(df, path, epoch_id)


def append_prices_partitioned(
    prices: DataFrame, path: str, epoch_id: int
) -> None:
    """Fact-table write, one file per micro-batch task. Q1-Q3 read the
    full history, so event-date partitions pruned nothing: late rows spread
    a poll over ~25 date directories (268 files by the end of a fuel_stream
    run, 11 without), and each dashboard refresh paid to list them all.

    The name stays so the prices sink keeps its own name in
    ``streaming.runners``: the traced benchmark run times each sink by
    rebinding it there."""
    write_epoch(prices, path, epoch_id)


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


def publish_json(df: DataFrame, path: str, epoch_id: int) -> None:
    """K1: the reference publishes one JSON payload per record to an MQTT
    topic with a fresh TCP connection each (main.py:53-56) — here the
    payload stream is ``kafka_payload``'s ``value`` column written
    micro-batch-vectorized as JSON lines, one directory per epoch. Against
    a real broker the SAME frame goes to ``.write.format("kafka").option(
    "kafka.bootstrap.servers", ...)`` — only the sink format changes, the
    payload is identical (exercised broker-less in tests/test_sinks.py)."""
    write_epoch(kafka_payload(df), path, epoch_id, fmt="text")


def quarantine(rejects: DataFrame, path: str, epoch_id: int) -> None:
    """V1 reject sink: same records the reference prints-and-drops
    (DataCleaning.py:154-155,166-167), persisted with their reason so data
    quality is observable/queryable."""
    write_epoch(rejects, path, epoch_id)
