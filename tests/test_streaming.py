"""Streaming integration tests: micro-batch file delivery driving the full
pipeline, asserting stream/batch equivalence (SURVEY.md §5), cross-batch
station dedup (D1), late-data acceptance (T4), and complete-mode Q1 (T2)."""

from __future__ import annotations

import json

import pytest

from comp5339dataengineering_realtimefuelanalysis_spark.sources.readers import (
    read_envelope,
    split_prices,
)
from comp5339dataengineering_realtimefuelanalysis_spark.plans.fuel import (
    clean_prices,
    q1_avg_price_by_fueltype,
)
from comp5339dataengineering_realtimefuelanalysis_spark.streaming.runners import (
    FuelStreamingPipeline,
)

from tests.test_fuel import price, station

BATCH_1 = {
    "stations": [station(100, name="Alpha"), station(200, name="Beta")],
    "prices": [
        price(100, "U91", 180.0, "01/10/2023 10:00:00"),
        price(100, "E10", 171.5, "02/10/2023 09:00:00"),
        price(200, "U91", 0, "02/10/2023 10:00:00"),  # rejected
    ],
}

BATCH_2 = {
    "stations": [
        station(100, name="Alpha-RENAMED"),  # re-delivery: dedup keeps first
        station(300, name="Gamma"),
    ],
    "prices": [
        price(100, "U91", 190.0, "03/10/2023 10:00:00"),
        # late, out-of-order event-time row: must still enter aggregates (T4)
        price(100, "U91", 170.0, "30/09/2023 08:00:00"),
    ],
}


@pytest.fixture()
def dirs(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    return {
        "landing": str(landing),
        "warehouse": str(tmp_path / "warehouse"),
        "checkpoint": str(tmp_path / "checkpoint"),
    }


def land(dirs, i, doc):
    import pathlib

    p = pathlib.Path(dirs["landing"]) / f"poll_{i:08d}.json"
    p.write_text(json.dumps(doc, separators=(",", ":")))


def silver_layout(path):
    """(number of parquet part files, any p_date= directory) under path."""
    import pathlib

    root = pathlib.Path(path)
    return (
        len(list(root.rglob("part-*.parquet"))),
        any(p.name.startswith("p_date=") for p in root.rglob("*")),
    )


def test_streaming_pipeline_end_to_end(spark, dirs):
    land(dirs, 0, BATCH_1)
    pipe = FuelStreamingPipeline(
        spark,
        landing_dir=dirs["landing"],
        warehouse_dir=dirs["warehouse"],
        checkpoint_dir=dirs["checkpoint"],
        q1_table="q1_live_test",
    )
    queries = pipe.start()
    try:
        for q in queries:
            q.processAllAvailable()

        # silver prices == batch-clean of batch 1 (2 valid rows), written
        # as one file per micro-batch task, not one per event date
        assert pipe.silver_prices().count() == 2
        assert silver_layout(pipe.prices_path) == (1, False)
        # rejected zero-price row is quarantined with its reason
        rejects = spark.read.parquet(f"{pipe.rejects_path}/prices")
        assert [r.reason for r in rejects.collect()] == ["zero_price"]
        # complete-mode Q1 equals the batch answer
        live = {
            r.fueltype: r.avg_price
            for r in spark.sql("SELECT * FROM q1_live_test").collect()
        }
        assert live == {"U91": 180.0, "E10": 171.5}

        # ---- second micro-batch: late data + station re-delivery ----
        land(dirs, 1, BATCH_2)
        for q in queries:
            q.processAllAvailable()

        assert pipe.silver_prices().count() == 4
        assert silver_layout(pipe.prices_path) == (2, False)
        live = {
            r.fueltype: r.avg_price
            for r in spark.sql("SELECT * FROM q1_live_test").collect()
        }
        # late 170.0 row included: (180+190+170)/3 = 180.0 (T4: no watermark)
        assert live == {"U91": 180.0, "E10": 171.5}

        # D1: station 100 kept its FIRST arrival ("Alpha"), 300 added
        names = {r.code: r.name for r in pipe.silver_stations().collect()}
        assert names == {"100": "Alpha", "200": "Beta", "300": "Gamma"}
    finally:
        for q in queries:
            q.stop()


def test_each_sink_writes_through_its_own_name(spark, dirs, monkeypatch):
    """The benchmark's traced run times the silver, rejects and stations
    sinks by rebinding these three names in ``streaming.runners``; each
    sink must call its own name once per micro-batch."""
    from comp5339dataengineering_realtimefuelanalysis_spark.streaming import (
        runners,
    )

    calls = []

    def counted(name):
        orig = getattr(runners, name)

        def call(df, path):
            calls.append((name, path))
            orig(df, path)

        monkeypatch.setattr(runners, name, call)

    for name in ("append_prices_partitioned", "quarantine", "append_parquet"):
        counted(name)
    land(dirs, 0, BATCH_1)
    pipe = FuelStreamingPipeline(
        spark,
        landing_dir=dirs["landing"],
        warehouse_dir=dirs["warehouse"],
        checkpoint_dir=dirs["checkpoint"],
        q1_table="q1_live_names",
    )
    queries = pipe.start()
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    assert sorted(calls) == sorted([
        ("append_prices_partitioned", pipe.prices_path),
        ("quarantine", f"{pipe.rejects_path}/prices"),
        ("append_parquet", pipe.stations_path),
    ])


def test_dedup_first_arrival_within_single_microbatch(spark, dirs):
    """Both polls land BEFORE the stream starts -> one micro-batch contains
    the same station code twice; the FIRST arrival (file order) must win,
    matching the reference's seen-set semantics (main.py:72-76)."""
    land(dirs, 0, BATCH_1)
    land(dirs, 1, BATCH_2)
    pipe = FuelStreamingPipeline(
        spark,
        landing_dir=dirs["landing"],
        warehouse_dir=dirs["warehouse"],
        checkpoint_dir=dirs["checkpoint"],
        q1_table="q1_live_single",
    )
    queries = pipe.start()
    try:
        for q in queries:
            q.processAllAvailable()
        names = {r.code: r.name for r in pipe.silver_stations().collect()}
        assert names == {"100": "Alpha", "200": "Beta", "300": "Gamma"}
    finally:
        for q in queries:
            q.stop()


def test_publish_new_highs_survives_restart(spark, dirs):
    """The per-key high-watermark publisher (F4 analog, emit_new_highs
    wired as the pipeline's 4th query) keeps its keyed state across a
    full pipeline stop/restart: rows at-or-below a station's pre-restart
    watermark are suppressed, new highs are published."""
    from comp5339dataengineering_realtimefuelanalysis_spark.schemas import (
        CLEAN_PRICE,
    )

    def published(pipe):
        df = spark.read.schema(CLEAN_PRICE).json(pipe.published_path)
        return {
            (r.stationcode, r.fueltype, r.price)
            for r in df.collect()
        }

    def make_pipe():
        return FuelStreamingPipeline(
            spark,
            landing_dir=dirs["landing"],
            warehouse_dir=dirs["warehouse"],
            checkpoint_dir=dirs["checkpoint"],
            q1_table="q1_live_highs",
            publish_new_highs=True,
        )

    land(dirs, 0, BATCH_1)
    pipe = make_pipe()
    queries = pipe.start()
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    # both station-100 rows are strictly increasing in event time ->
    # published; the zero-price row never reaches the cleaned stream
    assert published(pipe) == {
        ("100", "U91", 180.0),
        ("100", "E10", 171.5),
    }

    # ---- restart: same checkpoints, new pipeline object ----
    land(dirs, 1, {
        "stations": [],
        "prices": [
            # below station 100's pre-restart watermark (02/10 09:00)
            price(100, "U91", 150.0, "01/10/2023 12:00:00"),
            # strictly newer -> published
            price(100, "P98", 200.0, "03/10/2023 08:00:00"),
        ],
    })
    pipe2 = make_pipe()
    queries = pipe2.start()
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    assert published(pipe2) == {
        ("100", "U91", 180.0),
        ("100", "E10", 171.5),
        ("100", "P98", 200.0),
    }


def test_stream_batch_equivalence(spark, dirs):
    """Cleaned streaming output == batch clean of the concatenated input."""
    land(dirs, 0, BATCH_1)
    land(dirs, 1, BATCH_2)
    pipe = FuelStreamingPipeline(
        spark,
        landing_dir=dirs["landing"],
        warehouse_dir=dirs["warehouse"],
        checkpoint_dir=dirs["checkpoint"],
        q1_table="q1_live_eq",
    )
    queries = pipe.start()
    try:
        for q in queries:
            q.processAllAvailable()
        batch_silver, _ = clean_prices(
            split_prices(read_envelope(spark, dirs["landing"]))
        )
        stream_rows = sorted(
            map(tuple, pipe.silver_prices().collect())
        )
        batch_rows = sorted(map(tuple, batch_silver.collect()))
        assert stream_rows == batch_rows

        live = {
            r.fueltype: r.avg_price
            for r in spark.sql("SELECT * FROM q1_live_eq").collect()
        }
        batch_q1 = {
            r.fueltype: r.avg_price
            for r in q1_avg_price_by_fueltype(batch_silver).collect()
        }
        assert live == batch_q1
    finally:
        for q in queries:
            q.stop()
