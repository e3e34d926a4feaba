"""Streaming integration tests: micro-batch file delivery driving the full
pipeline, asserting stream/batch equivalence (SURVEY.md §5), cross-batch
station dedup (D1), late-data acceptance (T4), and complete-mode Q1 (T2)."""

from __future__ import annotations

import datetime
import json
import pathlib

import pytest
from pyspark.errors import StreamingQueryException

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
    p = pathlib.Path(dirs["landing"]) / f"poll_{i:08d}.json"
    p.write_text(json.dumps(doc, separators=(",", ":")))


def silver_layout(path):
    """(number of parquet part files, any p_date= directory) under path."""
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

        def call(df, path, epoch_id):
            calls.append((name, path))
            orig(df, path, epoch_id)

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


def run_pipeline(spark, dirs, q1_table, polls=()):
    """Start the pipeline (highs publisher included), drain every query,
    then land each ``(index, envelope)`` of ``polls`` in turn and drain
    again, and stop it. Returns the pipeline and whether any query died."""
    pipe = FuelStreamingPipeline(
        spark,
        landing_dir=dirs["landing"],
        warehouse_dir=dirs["warehouse"],
        checkpoint_dir=dirs["checkpoint"],
        q1_table=q1_table,
        publish_new_highs=True,
    )
    queries = pipe.start()
    died = False
    try:
        for poll in (None, *polls):
            if poll is not None:
                land(dirs, *poll)
            for q in queries:
                try:
                    q.processAllAvailable()
                except StreamingQueryException:
                    died = True
    finally:
        for q in queries:
            q.stop()
    return pipe, died


def sink_outputs(spark, pipe):
    """Silver, rejects and published output, duplicates kept: the
    published JSON lines are compared as a sorted list, not a set."""
    return {
        "silver prices": sorted(map(tuple, pipe.silver_prices().collect())),
        "silver stations": sorted(
            map(tuple, pipe.silver_stations().collect())
        ),
        "rejects": sorted(
            r.reason
            for r in spark.read.parquet(
                f"{pipe.rejects_path}/prices"
            ).collect()
        ),
        "published": sorted(
            line
            for f in pathlib.Path(pipe.published_path).rglob("part-*")
            for line in f.read_text().splitlines()
        ),
    }


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """Sink outputs of one crash-free run over BATCH_1."""
    root = tmp_path_factory.mktemp("uninterrupted")
    dirs = {
        k: str(root / k) for k in ("landing", "warehouse", "checkpoint")
    }
    pathlib.Path(dirs["landing"]).mkdir()
    land(dirs, 0, BATCH_1)
    pipe, died = run_pipeline(spark, dirs, "q1_live_clean")
    assert not died
    out = sink_outputs(spark, pipe)
    assert len(out["silver prices"]) == 2
    assert len(out["published"]) == 2
    return out


@pytest.mark.parametrize(
    "sink, writes_first",
    [
        # between the silver write and the rejects write
        ("quarantine", False),
        # after the silver and rejects writes
        ("quarantine", True),
        # after the stations write: the replay's anti-join must not see
        # the rows its first attempt wrote, or it replaces them with none
        ("append_parquet", True),
        # inside the highs sink, after its publish
        ("publish_json", True),
    ],
)
def test_sink_crash_replays_exactly_once(
    spark, dirs, monkeypatch, uninterrupted, sink, writes_first
):
    """A micro-batch that dies inside a sink is replayed under the same
    epoch id on restart (same checkpoints); the epoch-keyed writes
    replace the first attempt's output, so silver, rejects and the
    published highs equal an uninterrupted run's."""
    from comp5339dataengineering_realtimefuelanalysis_spark.streaming import (
        runners,
    )

    orig = getattr(runners, sink)

    def crash(*args):
        if writes_first:
            orig(*args)
        raise RuntimeError(f"injected crash in {sink}")

    land(dirs, 0, BATCH_1)
    with monkeypatch.context() as m:
        m.setattr(runners, sink, crash)
        _, died = run_pipeline(spark, dirs, "q1_live_crash")
    assert died
    pipe, died = run_pipeline(spark, dirs, "q1_live_restart")
    assert not died
    assert sink_outputs(spark, pipe) == uninterrupted


BATCH_3 = {
    "stations": [station(400, name="Delta")],
    "prices": [
        price(300, "E10", 175.0, "04/10/2023 07:00:00"),
        price(400, "P98", 0, "04/10/2023 07:30:00"),  # rejected
    ],
}

BATCH_4 = {
    "stations": [
        station(300, name="Gamma-RENAMED"),  # re-delivery of a folded epoch
        station(500, name="Epsilon"),
    ],
    "prices": [
        price(500, "U91", 185.0, "05/10/2023 09:00:00"),
        price(100, "U91", 195.0, "05/10/2023 10:00:00"),
    ],
}


def jobs_to_build(spark, read, group):
    """Spark jobs started while ``read()`` builds a reader (a listing job
    when the store has more than 32 epoch directories)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "reader build")
    try:
        read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_compact_epochs_folds_fuel_stores(spark, dirs):
    """Forty epochs make every silver read start a listing job. After
    compact_epochs each store holds its lowest and highest epoch, the
    read starts none, and every row is still there. Half the stations
    epochs are empty, as re-delivery-only polls leave them."""
    from comp5339dataengineering_realtimefuelanalysis_spark.schemas import (
        CLEAN_PRICE,
        CLEAN_STATION,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.sinks.writers import (  # noqa: E501
        stored_epochs,
        write_epoch,
    )

    pipe = FuelStreamingPipeline(
        spark,
        landing_dir=dirs["landing"],
        warehouse_dir=dirs["warehouse"],
        checkpoint_dir=dirs["checkpoint"],
    )
    rejects_path = f"{pipe.rejects_path}/prices"
    t0 = datetime.datetime(2023, 10, 1)
    for e in range(40):
        code = str(100 + e)
        write_epoch(
            spark.createDataFrame(
                [(code, "U91", 150.0 + e, t0 + datetime.timedelta(hours=e))],
                CLEAN_PRICE,
            ).coalesce(1),
            pipe.prices_path,
            e,
        )
        write_epoch(
            spark.createDataFrame(
                [(code, "zero_price")], "stationcode string, reason string"
            ).coalesce(1),
            rejects_path,
            e,
        )
        write_epoch(
            spark.createDataFrame(
                [("B1", f"S{code}", "Ampol", code, f"Station {code}",
                  "1 Main St", -33.8, 151.2)][: e % 2],
                CLEAN_STATION,
            ).coalesce(1),
            pipe.stations_path,
            e,
        )

    def contents():
        return {
            "silver prices": sorted(
                map(tuple, pipe.silver_prices().collect())
            ),
            "silver stations": sorted(
                map(tuple, pipe.silver_stations().collect())
            ),
            "rejects": sorted(
                map(tuple, spark.read.parquet(rejects_path)
                    .drop("ingest_epoch").collect())
            ),
        }

    before = contents()
    assert jobs_to_build(spark, pipe.silver_prices, "fold-before") >= 1

    assert pipe.compact_epochs() == {
        "prices": 39, "rejects": 39, "stations": 19
    }
    assert jobs_to_build(spark, pipe.silver_prices, "fold-after") == 0
    assert jobs_to_build(spark, pipe.silver_stations, "fold-after-st") == 0
    for path in (pipe.prices_path, rejects_path, pipe.stations_path):
        assert stored_epochs(path) == {0, 39}
    assert contents() == before
    assert len(before["silver stations"]) == 20


def test_restart_after_compact_epochs_is_exactly_once(
    spark, dirs, tmp_path
):
    """Three polls, stop, fold, restart on the same checkpoints and land
    a fourth: silver, rejects and published output equal one
    uninterrupted run over the same four polls. The fourth poll
    re-delivers a station whose epoch was folded away."""
    polls = list(enumerate([BATCH_1, BATCH_2, BATCH_3, BATCH_4]))
    clean = {
        k: str(tmp_path / "clean" / k)
        for k in ("landing", "warehouse", "checkpoint")
    }
    pathlib.Path(clean["landing"]).mkdir(parents=True)
    pipe, died = run_pipeline(spark, clean, "q1_live_nofold", polls)
    assert not died
    uninterrupted = sink_outputs(spark, pipe)

    pipe, died = run_pipeline(spark, dirs, "q1_live_prefold", polls[:3])
    assert not died
    assert pipe.compact_epochs() == {
        "prices": 4, "rejects": 1, "stations": 3
    }
    pipe, died = run_pipeline(spark, dirs, "q1_live_postfold", polls[3:])
    assert not died
    assert sink_outputs(spark, pipe) == uninterrupted
    names = {r.code: r.name for r in pipe.silver_stations().collect()}
    assert names["300"] == "Gamma"
