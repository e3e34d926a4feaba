"""Structured Streaming wiring of the fuel pipeline (SURVEY.md §2.11, §3).

Topology (the reference's thread-and-MQTT graph, re-expressed):

  landing JSON envelopes (sources/rest.py poller ≙ hourly API fetch, T1)
    ├─ prices  → validate/clean → foreachBatch: silver + quarantine (EP2)
    │            └→ Q1 complete-mode live aggregation → memory table (EP3/T2)
    └─ stations → validate/clean → streaming dropDuplicates(code) (D1/T5)
                 → foreachBatch: silver

Notes on parity:
  * F4 (high-watermark incremental publish) disappears into checkpointed
    source offsets plus epoch-keyed sinks (T3): the offsets make a crashed
    micro-batch replay the same landed files under the same epoch id, and
    every sink writes through ``sinks.writers.write_epoch``, so the replay
    replaces that epoch's output instead of duplicating it.
  * The dashboard's no-watermark, full-history semantics (T4/T5) map to
    complete-output-mode aggregation with no ``withWatermark``: identical
    results, but incremental instead of 1 Hz full recompute. Q1's state is
    one row per fueltype, so there is nothing for a watermark to bound.
  * Q2/Q3 run as on-demand batch over the silver tables (the reference also
    recomputes them from accumulated history, DataAnalysis.py:91-165).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cleaning import dedup_first
from ..plans.fuel import (
    clean_prices,
    clean_stations,
    q1_avg_price_by_fueltype,
    q2_station_latest_prices,
    q3_price_trend,
)
from ..schemas import CLEAN_PRICE, CLEAN_STATION
from ..sinks.writers import (
    append_prices_partitioned,
    append_parquet,
    fold_epochs,
    publish_json,
    quarantine,
    read_epochs,
    recover_fold,
    stored_epochs,
)
from ..sources.readers import read_envelope, split_prices, split_stations


@dataclass
class FuelStreamingPipeline:
    spark: SparkSession
    landing_dir: str
    warehouse_dir: str
    checkpoint_dir: str
    q1_table: str = "q1_live"
    # F4's per-key analog: publish only rows whose lastupdated strictly
    # exceeds everything previously seen for their stationcode (the
    # reference's high-watermark publisher, main.py:44-51, keyed per
    # station instead of global). Opt-in: adds a 4th streaming query.
    publish_new_highs: bool = False

    @property
    def prices_path(self) -> str:
        return f"{self.warehouse_dir}/prices"

    @property
    def stations_path(self) -> str:
        return f"{self.warehouse_dir}/stations"

    @property
    def rejects_path(self) -> str:
        return f"{self.warehouse_dir}/rejects"

    @property
    def published_path(self) -> str:
        return f"{self.warehouse_dir}/published/prices"

    def start(self) -> list[StreamingQuery]:
        envelope = read_envelope(self.spark, self.landing_dir, streaming=True)

        # --- prices: clean -> silver + quarantine (EP2 consumer a) --------
        raw_prices = split_prices(envelope)

        def sink_prices(batch: DataFrame, epoch_id: int) -> None:
            silver, rejects = clean_prices(batch)
            append_prices_partitioned(silver, self.prices_path, epoch_id)
            quarantine(
                rejects.withColumnRenamed("reject_reason", "reason"),
                f"{self.rejects_path}/prices",
                epoch_id,
            )

        q_prices = (
            raw_prices.writeStream.outputMode("append")
            .foreachBatch(sink_prices)
            .option("checkpointLocation", f"{self.checkpoint_dir}/prices")
            .start()
        )

        # --- prices: Q1 live aggregation (EP3 consumer b) -----------------
        silver_stream, _ = clean_prices(raw_prices)
        q1 = (
            q1_avg_price_by_fueltype(silver_stream)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(self.q1_table)
            .option("checkpointLocation", f"{self.checkpoint_dir}/q1")
            .start()
        )

        # --- stations: clean -> first-arrival dedup -> silver (D1) --------
        # The reference's Python set keeps the FIRST arrival ever seen
        # (main.py:72-76). Streaming dropDuplicates keeps an *arbitrary* row
        # when the same code lands twice inside one micro-batch, so instead:
        # (a) within-batch: deterministic dedup ordered by arrival — the
        #     landing file name, then the record's position INSIDE its
        #     envelope array (posexplode; stable however the file is split
        #     into input partitions — see split_stations);
        # (b) across batches: anti-join against the silver table itself,
        #     minus this epoch's own earlier attempt (a replay must not
        #     anti-join against the rows it is about to replace) — a
        #     broadcast-size build side (dimension tables are small).
        #     Checkpoint and warehouse are one unit: a fresh checkpoint
        #     restarts epoch ids at 0 and overwrites the old epochs.
        raw_stations = split_stations(envelope, with_pos=True).withColumn(
            "__arrival_file", F.input_file_name()
        )

        def sink_stations(batch: DataFrame, epoch_id: int) -> None:
            silver, _ = clean_stations(
                batch, passthrough_cols=("__arrival_file", "__arrival_pos")
            )
            first = dedup_first(
                silver, ["code"], ["__arrival_file", "__arrival_pos"]
            ).drop("__arrival_file", "__arrival_pos")
            seen = read_epochs(
                batch.sparkSession, self.stations_path, CLEAN_STATION,
                exclude=epoch_id,
            )
            if seen is not None:
                first = first.join(
                    F.broadcast(seen.select("code")), "code", "left_anti"
                )
            append_parquet(first, self.stations_path, epoch_id)

        q_stations = (
            raw_stations.writeStream.outputMode("append")
            .foreachBatch(sink_stations)
            .option("checkpointLocation", f"{self.checkpoint_dir}/stations")
            .start()
        )

        queries = [q_prices, q1, q_stations]

        # --- prices: per-key high-watermark publish (F4 analog) -----------
        if self.publish_new_highs:
            from .stateful import emit_new_highs

            highs_stream, _ = clean_prices(raw_prices)
            highs = emit_new_highs(
                highs_stream, "stationcode", "lastupdated", CLEAN_PRICE
            )

            def sink_highs(batch: DataFrame, epoch_id: int) -> None:
                publish_json(batch, self.published_path, epoch_id)

            queries.append(
                highs.writeStream.outputMode("append")
                .foreachBatch(sink_highs)
                .option(
                    "checkpointLocation", f"{self.checkpoint_dir}/highs"
                )
                .start()
            )

        return queries

    # --- maintenance --------------------------------------------------------

    def compact_epochs(self) -> dict:
        """Fold the silver stores' committed epochs so their directory
        count stays bounded: past 32, every read of a store (the stations
        ``seen`` read each poll, each dashboard read) starts a listing
        job. Prices and rejects share the prices query's epoch ids;
        stations has its own. Every epoch below a query's highest (the
        only one a checkpoint replay can rewrite) folds into its lowest.
        Published highs (text) are not folded.

        A maintenance step: run it with the queries STOPPED — a read or
        sink racing the fold's delete step can hit a missing file. Local
        paths only. Returns rows per store in its folded epoch (0: nothing
        to fold)."""
        groups = (
            {"prices": self.prices_path,
             "rejects": f"{self.rejects_path}/prices"},
            {"stations": self.stations_path},
        )
        rows = {}
        for group in groups:
            for path in group.values():
                recover_fold(path)
            epochs = set().union(*map(stored_epochs, group.values()))
            fold = sorted(e for e in epochs if e < max(epochs, default=0))
            for name, path in group.items():
                rows[name] = (
                    fold_epochs(self.spark, path, fold, fold[0])
                    if fold
                    else 0
                )
        return rows

    # --- on-demand gold queries over silver (EP3) -------------------------

    def silver_prices(self) -> DataFrame:
        # the sinks' epoch directories come back as an ``ingest_epoch``
        # partition column, which is not part of the silver schema
        return (
            self.spark.read.schema(CLEAN_PRICE)
            .parquet(self.prices_path)
            .drop("ingest_epoch")
        )

    def silver_stations(self) -> DataFrame:
        return (
            self.spark.read.schema(CLEAN_STATION)
            .parquet(self.stations_path)
            .drop("ingest_epoch")
        )

    def gold_q1(self) -> DataFrame:
        return q1_avg_price_by_fueltype(self.silver_prices())

    def gold_q2(self) -> DataFrame:
        return q2_station_latest_prices(
            self.silver_stations(), self.silver_prices()
        )

    def gold_q3(self) -> DataFrame:
        return q3_price_trend(self.silver_prices())
