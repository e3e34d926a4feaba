"""Sinks (SURVEY.md §2.2): the epoch-keyed store, plus the publish payload.

The reference writes one row per SQLite transaction (DataIngesting.py:48-64)
and one MQTT publish per record (main.py:53-56) — here every write is a
micro-batch vectorized write via ``foreachBatch`` (K2). Every streaming
store has one layout, ``<path>[/<outer>=<v>...]/ingest_epoch=<id>/``, keyed
by the epoch id ``foreachBatch`` passes in, and this module is the only code
that knows it. A replayed epoch replaces its own earlier attempt instead of
adding to it; with the replayable file source that is exactly-once output
(Structured Streaming, SIGMOD 2018 §6). The store's whole life:

  * write   — ``write_epoch``: static overwrite of one epoch directory (the
              fuel sinks, the curation rejects); ``overwrite_epochs``:
              dynamic overwrite of the epochs a frame's rows carry (the
              curation corpus stores);
  * read    — ``read_epochs``: the store as of an epoch (the in-flight one
              excluded, partition-pruned), or None before the first write;
              ``epoch_ids``: the epochs a read holds rows for;
  * rewrite — ``rewrite_epochs``: static full overwrite, for a rebuild
              whose rows move between outer partitions;
  * fold    — ``fold_epochs`` / ``recover_fold``: merge committed epochs
              into one, crash-safe. Each epoch adds a directory, and past
              32 of them (``spark.sql.sources.parallelPartitionDiscovery.
              threshold``) every read of the store starts a listing job.
              The fold lists, deletes and renames directories with ``os``,
              so it works on local paths only; ``stored_epochs`` is its
              view of the store.

The price fact table is not partitioned by event date: the dashboard queries
read its full history, so date directories pruned nothing and only
multiplied its files.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


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


def rewrite_epochs(df: DataFrame, path: str, *outer: str) -> None:
    """Static full overwrite of ``path`` by ``(*outer, ingest_epoch)``:
    every existing partition goes, so rows that move between outer
    partitions (a re-banding, a centroid remap) leave no stale partition
    behind, where dynamic overwrite would keep the old ones."""
    df.write.mode("overwrite").partitionBy(*outer, "ingest_epoch").parquet(
        path
    )


def read_epochs(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    exclude: int | None = None,
) -> DataFrame | None:
    """The store at ``path`` with its ``ingest_epoch`` column, or None
    when nothing has been written there yet. ``exclude`` drops one epoch,
    the in-flight one, so a replay reads exactly the state its first
    attempt read; the filter is on the partition column, so that epoch's
    files are pruned, not scanned."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        df = reader.parquet(path)
    except AnalysisException:
        return None
    if exclude is not None:
        df = df.filter(F.col("ingest_epoch") != F.lit(int(exclude)))
    return df


def epoch_ids(df: DataFrame) -> set[int]:
    """The epochs ``df`` holds rows for. A read of the data, not a
    directory listing, so it works on any filesystem Spark reads."""
    return {r[0] for r in df.select("ingest_epoch").distinct().collect()}


def _epoch_dirs(path: str, outer: tuple[str, ...], epoch) -> list[str]:
    return glob.glob(
        os.path.join(
            path, *(f"{c}=*" for c in outer), f"ingest_epoch={epoch}"
        )
    )


def stored_epochs(path: str, *outer: str) -> set[int]:
    """The epochs with a directory under ``path``, empty ones included
    (an epoch that wrote no rows still holds a schema-only part file, so
    ``epoch_ids`` does not see it). A local listing: the fold's view."""
    return {
        int(d.rsplit("=", 1)[1]) for d in _epoch_dirs(path, outer, "*")
    }


def _pending_path(path: str) -> str:
    # underscore prefix: Spark's file index treats it as hidden, so
    # the manifest never pollutes a parquet read of the store root
    return os.path.join(path, "_compact_pending.json")


def _apply_fold(path: str, plan: dict) -> None:
    """Execute (or re-execute after a crash) the delete+rename half
    of a fold whose temp write already committed. Idempotent:
    deletes ignore missing dirs, renames skip temp dirs already
    moved, and the manifest is removed last."""
    outer = tuple(plan["outer"])
    tmp, tgt = plan["temp"], plan["tgt"]
    for e in plan["src"]:
        if e == tgt:
            continue
        for d in _epoch_dirs(path, outer, e):
            shutil.rmtree(d, ignore_errors=True)
    for d in _epoch_dirs(tmp, outer, tgt):
        dest = os.path.join(path, os.path.relpath(d, tmp))
        if os.path.isdir(dest):
            shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.rename(d, dest)
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.remove(_pending_path(path))
    except FileNotFoundError:
        pass


def recover_fold(path: str) -> None:
    """Finish or roll back a fold of ``path`` that a crash interrupted:
    a committed temp write is rolled forward, a torn one is dropped."""
    pending = _pending_path(path)
    if not os.path.isfile(pending):
        return
    with open(pending) as f:
        plan = json.load(f)
    if os.path.isfile(os.path.join(plan["temp"], "_SUCCESS")):
        # temp write committed before the crash: finish the job
        _apply_fold(path, plan)
    else:
        # crashed mid-temp-write: nothing in the store was mutated
        # (the manifest is written only after the temp commits, so
        # reaching here means a manifest from a PARTIAL apply whose
        # temp was already consumed, or a torn temp) — roll forward
        # is unsafe; drop the temp and manifest, store is intact
        shutil.rmtree(plan["temp"], ignore_errors=True)
        os.remove(pending)


def fold_epochs(
    spark: SparkSession,
    path: str,
    fold,
    tgt: int,
    *outer: str,
    schema: StructType | str | None = None,
) -> int:
    """Fold the epochs ``fold`` of the store at ``path`` into epoch
    ``tgt``, outer partition columns preserved; rows are unchanged, only
    their epoch label merges. Run it on committed epochs only, with no
    writer or reader racing the delete step. Crash-safe: temp write ->
    manifest -> delete -> rename, and ``recover_fold`` (called first)
    finishes or rolls back an interrupted run. Returns the number of rows
    in the folded partition (0 when there was nothing to fold)."""
    recover_fold(path)
    df = read_epochs(spark, path, schema)
    if df is None:
        return 0
    present = stored_epochs(path, *outer)
    fold = sorted(e for e in fold if e in present)
    # a single foldable epoch still folds when its label differs
    # from the target: stores folded together must end with the SAME
    # epoch set, or the coverage checks would see phantom gaps
    if not fold or fold == [tgt]:
        return 0
    tmp = path.rstrip("/") + "_compact_tmp"
    rows = df.filter(F.col("ingest_epoch").isin(fold)).withColumn(
        "ingest_epoch", F.lit(tgt)
    )
    # one shuffle so each output partition dir gets ONE file — without
    # it every write task fans a part-file into every dir it holds rows
    # for, and the band index measurably kept ~95% of its small files
    # through a 100->1 epoch fold (the whole point of folding)
    rows = rows.repartition(*outer) if outer else rows.repartition(1)
    rewrite_epochs(rows, tmp, *outer)
    written = read_epochs(spark, tmp, schema)
    n = 0 if written is None else written.count()
    plan = {"temp": tmp, "src": fold, "tgt": tgt, "outer": list(outer)}
    with open(_pending_path(path), "w") as f:
        json.dump(plan, f)
    _apply_fold(path, plan)
    return n


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
