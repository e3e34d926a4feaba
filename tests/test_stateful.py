"""Streaming tests for the custom stateful operator (per-key high-watermark
emit, applyInPandasWithState) and the watermarked/windowed variants."""

from __future__ import annotations

import json
import pathlib

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from comp5339dataengineering_realtimefuelanalysis_spark.streaming.stateful import (
    emit_new_highs,
)
from comp5339dataengineering_realtimefuelanalysis_spark.operators.analytics import (
    windowed_stats,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def land(d, i, rows):
    p = pathlib.Path(d) / f"b{i:04d}.json"
    p.write_text(
        "\n".join(
            json.dumps({"key": k, "ts": ts, "v": v}) for k, ts, v in rows
        )
    )


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return src, str(tmp_path / "ckpt")


def read_stream(spark, src):
    return (
        spark.readStream.schema(
            "key string, ts timestamp, v double"
        ).json(str(src))
    )


def test_emit_new_highs_per_key_watermark(spark, stream_dirs):
    src, ckpt = stream_dirs
    land(src, 0, [
        ("a", "2024-01-01T10:00:00", 1.0),
        ("a", "2024-01-01T09:00:00", 2.0),  # older within batch -> dropped
        ("b", "2024-01-01T12:00:00", 3.0),
    ])
    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    q = (
        emit_new_highs(read_stream(spark, src), "key", "ts", out_schema)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("highs")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.key, r.ts.isoformat())
            for r in spark.sql("SELECT * FROM highs").collect()
        }
        # batch sorted by ts: 09:00 seen first then 10:00 -> both emitted
        # in ts order; "older within batch" means arriving AFTER a newer
        # one in file order, but the operator sorts by event time, so
        # both pass (09:00 then 10:00). The cross-batch case below is the
        # real watermark test.
        assert ("a", "2024-01-01T10:00:00") in got
        assert ("b", "2024-01-01T12:00:00") in got

        # batch 2: late row for a (suppressed), new high for a, dup for b
        land(src, 1, [
            ("a", "2024-01-01T09:30:00", 4.0),  # below a's watermark
            ("a", "2024-01-01T11:00:00", 5.0),  # new high
            ("b", "2024-01-01T12:00:00", 6.0),  # equal -> strict > drops
        ])
        q.processAllAvailable()
        got2 = {
            (r.key, r.ts.isoformat(), r.v)
            for r in spark.sql("SELECT * FROM highs").collect()
        }
        assert ("a", "2024-01-01T11:00:00", 5.0) in got2
        assert ("a", "2024-01-01T09:30:00", 4.0) not in got2
        assert ("b", "2024-01-01T12:00:00", 6.0) not in got2
    finally:
        q.stop()


def test_windowed_stats_streaming_with_watermark(spark, stream_dirs):
    """The same windowed_stats expression runs under streaming: watermark +
    append mode emits a window once it is complete."""
    src, ckpt = stream_dirs
    land(src, 0, [
        ("a", "2024-01-01T00:10:00", 1.0),
        ("a", "2024-01-01T00:20:00", 3.0),
        ("b", "2024-01-01T00:40:00", 5.0),
    ])
    stream = read_stream(spark, src).withWatermark("ts", "10 minutes")
    agg = windowed_stats(stream, "ts", ["key"], "v", "30 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_stream")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # advance event time far enough to close the first two windows
        land(src, 1, [("a", "2024-01-01T02:00:00", 7.0)])
        q.processAllAvailable()
        got = {
            (r.key, r.window_start.isoformat()): (r.n_events, r.sum_value)
            for r in spark.sql("SELECT * FROM win_stream").collect()
        }
        assert got[("a", "2024-01-01T00:00:00")] == (2, 4.0)
        assert got[("b", "2024-01-01T00:30:00")] == (1, 5.0)
    finally:
        q.stop()


def test_sliding_stats_streaming_with_watermark(spark, stream_dirs):
    """The same sliding_stats expression runs under streaming: each event
    lands in window/slide overlapping windows, and append mode emits each
    window once the watermark passes its end."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.analytics import (
        sliding_stats,
    )

    src, ckpt = stream_dirs
    land(src, 0, [
        ("a", "2024-01-01T00:10:00", 1.0),
        ("a", "2024-01-01T00:50:00", 3.0),
    ])
    stream = read_stream(spark, src).withWatermark("ts", "10 minutes")
    agg = sliding_stats(stream, "ts", ["key"], "v", "1 hour", "30 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("slide_stream")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        land(src, 1, [("a", "2024-01-01T05:00:00", 7.0)])
        q.processAllAvailable()
        got = {
            (r.key, r.window_start.isoformat()): (r.n_events, r.sum_value)
            for r in spark.sql("SELECT * FROM slide_stream").collect()
        }
        # 00:10 event -> windows starting 23:30 and 00:00;
        # 00:50 event -> windows starting 00:00 and 00:30
        assert got[("a", "2023-12-31T23:30:00")] == (1, 1.0)
        assert got[("a", "2024-01-01T00:00:00")] == (2, 4.0)
        assert got[("a", "2024-01-01T00:30:00")] == (1, 3.0)
    finally:
        q.stop()


def test_session_window_streaming_watermark_rocksdb(spark, stream_dirs):
    """sessionize_window runs under Structured Streaming with a watermark
    (append mode emits a session once the watermark passes its end), with
    the RocksDB state-store provider engaged — the bounded-state config
    SCALE.md promises for large keyspaces."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.analytics import (
        sessionize_window,
    )

    src, ckpt = stream_dirs
    land(src, 0, [
        ("a", "2024-01-01T00:00:00", 1.0),
        ("a", "2024-01-01T00:03:00", 1.0),  # gap 3 min < 5 -> same session
        ("a", "2024-01-01T00:20:00", 1.0),  # gap 17 min -> new session
        ("b", "2024-01-01T00:00:00", 1.0),
    ])
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = read_stream(spark, src).withWatermark("ts", "10 minutes")
        agg = sessionize_window(stream, "key", "ts", gap_minutes=5)
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("sess_stream")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            # advance the watermark far enough to close every session
            land(src, 1, [("a", "2024-01-01T02:00:00", 1.0)])
            q.processAllAvailable()
            got = {
                (r.key, r.session_start.isoformat(),
                 r.session_end.isoformat()): r.n_events
                for r in spark.sql("SELECT * FROM sess_stream").collect()
            }
            assert got[
                ("a", "2024-01-01T00:00:00", "2024-01-01T00:08:00")
            ] == 2
            assert got[
                ("a", "2024-01-01T00:20:00", "2024-01-01T00:25:00")
            ] == 1
            assert got[
                ("b", "2024-01-01T00:00:00", "2024-01-01T00:05:00")
            ] == 1
            # RocksDB actually engaged: its custom metrics appear in the
            # state operator progress
            progress = q.lastProgress
            metrics = progress["stateOperators"][0]["customMetrics"]
            assert any(k.startswith("rocksdb") for k in metrics), metrics
        finally:
            q.stop()
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


def test_streaming_doc_dedup_first_arrival(spark, stream_dirs):
    """Streaming exact dedup over a document stream: cross-batch
    duplicates (including normalization variants) are suppressed by keyed
    state; watermarked variant bounds that state."""
    import json as _json
    import pathlib as _pathlib

    from comp5339dataengineering_realtimefuelanalysis_spark.operators.dedup import (
        dedup_exact_stream,
    )

    src, ckpt = stream_dirs

    def land_docs(i, rows):
        p = _pathlib.Path(src) / f"d{i:04d}.json"
        p.write_text(
            "\n".join(
                _json.dumps({"doc_id": d, "ts": ts, "text": t})
                for d, ts, t in rows
            )
        )

    land_docs(0, [
        (1, "2024-01-01T00:00:00", "the quick brown fox"),
        (2, "2024-01-01T00:01:00", "The  quick brown fox"),  # norm dup of 1
        (3, "2024-01-01T00:02:00", "something else entirely"),
    ])
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).json(str(src))
    q = (
        dedup_exact_stream(stream, ts_col="ts", watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("doc_dedup_stream")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.doc_id for r in spark.sql(
            "SELECT doc_id FROM doc_dedup_stream").collect()}
        assert 3 in got
        assert len(got & {1, 2}) == 1  # one survivor of the dup group
        land_docs(1, [
            (4, "2024-01-01T00:03:00", "THE QUICK BROWN FOX"),  # dup again
            (5, "2024-01-01T00:04:00", "a genuinely new document"),
        ])
        q.processAllAvailable()
        got2 = {r.doc_id for r in spark.sql(
            "SELECT doc_id FROM doc_dedup_stream").collect()}
        assert 5 in got2
        assert 4 not in got2  # suppressed across batches by keyed state
    finally:
        q.stop()
