import json
import random
from collections import Counter

import fuelgen

SMALL = fuelgen.FuelShape(
    backfill_envelopes=2, backfill_prices=600, backfill_stations=800,
    poll_prices=100, poll_stations=5,
)


def _bytes(seed, index):
    return fuelgen.encode(fuelgen.envelope(seed, index, SMALL))


def test_same_seed_gives_identical_bytes():
    for i in (0, 1, 2, 5):
        assert _bytes(7, i) == _bytes(7, i)


def test_different_seeds_or_indexes_differ():
    assert _bytes(7, 0) != _bytes(8, 0)
    assert _bytes(7, 3) != _bytes(7, 4)


def test_envelope_is_one_json_line():
    raw = _bytes(1, 0)
    assert raw.count(b"\n") == 1 and raw.endswith(b"\n")
    doc = json.loads(raw)
    assert len(doc["prices"]) == SMALL.backfill_prices
    assert len(doc["stations"]) == SMALL.backfill_stations


def test_shape_of_the_default_inputs():
    shape = fuelgen.FuelShape()
    ref = fuelgen.Reference()
    for i in range(shape.backfill_envelopes):
        ref.add(fuelgen.envelope(3, i, shape))
    n = shape.backfill_envelopes * shape.backfill_prices
    assert 780 <= len({p[0] for p in ref.prices}) <= 2 * fuelgen.N_PRICE_CODES
    rejected = sum(ref.rejects.values())
    assert 0.01 < rejected / n < 0.03
    assert set(ref.rejects) == set(fuelgen.DIRTY_KINDS)
    station_codes = set(ref.stations)
    orphans = sum(1 for p in ref.prices if p[0] not in station_codes)
    assert 0.4 < orphans / len(ref.prices) < 0.6
    assert len(set(fuel for _, fuel, _, _ in ref.prices)) == 8
    assert len(ref.stations) > 1400
    # repeated (stationcode, fueltype, lastupdated), some of them at a
    # key's latest timestamp, where Q2 must break the tie
    times = {}
    for code, fuel, _, ts in ref.prices:
        times.setdefault((code, fuel), []).append(ts)
    tied = sum(1 for ts in times.values() if ts.count(max(ts)) > 1)
    assert tied >= 20


def _small_inputs(seed=11):
    envs = [fuelgen.envelope(seed, i, SMALL) for i in range(4)]
    # every dirty kind at least once, whatever the draw
    rng = random.Random(seed)
    for kind in fuelgen.DIRTY_KINDS:
        row = {"stationcode": "1234", "fueltype": "U91", "price": 150.5,
               "lastupdated": "02/10/2023 10:00:00"}
        fuelgen.make_dirty(rng, row, kind)
        assert fuelgen.price_reason(row) == kind
        envs[-1]["prices"].append(row)
    # a tie at a station's latest timestamp: the higher price must win,
    # although it arrives first
    code = next(s["code"] for s in envs[0]["stations"] if fuelgen.station_valid(s))
    for price in (160.2, 150.1):
        envs[-1]["prices"].append({"stationcode": code, "fueltype": "U91", "price": price,
                                   "lastupdated": "30/11/2023 10:00:00"})
    return envs, code


def test_reference_matches_plans_fuel_batch(spark, tmp_path):
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.fuel import (
        clean_prices,
        clean_stations,
        q1_avg_price_by_fueltype,
        q2_station_latest_prices,
        q3_price_trend,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.cleaning import (
        dedup_first,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.sources.readers import (
        read_envelope,
        split_prices,
        split_stations,
    )
    from pyspark.sql import functions as F

    envs, tie_code = _small_inputs()
    ref = fuelgen.Reference()
    for i, env in enumerate(envs):
        ref.add(env)
        (tmp_path / fuelgen.landing_name(i)).write_bytes(fuelgen.encode(env))
    assert set(ref.rejects) == set(fuelgen.DIRTY_KINDS)

    envelope = read_envelope(spark, str(tmp_path))
    silver, rejects = clean_prices(split_prices(envelope))
    assert silver.count() == len(ref.prices)
    got_rejects = {
        r["reject_reason"]: r["count"]
        for r in rejects.groupBy("reject_reason").count().collect()
    }
    assert got_rejects == dict(ref.rejects)

    raw_st = split_stations(envelope, with_pos=True).withColumn(
        "__arrival_file", F.input_file_name()
    )
    st, _ = clean_stations(raw_st, passthrough_cols=("__arrival_file", "__arrival_pos"))
    stations = dedup_first(st, ["code"], ["__arrival_file", "__arrival_pos"]).drop(
        "__arrival_file", "__arrival_pos"
    )
    assert {r["code"]: r["address"] for r in stations.collect()} == {
        c: s["address"] for c, s in ref.stations.items()
    }

    q1 = {r["fueltype"]: r["avg_price"] for r in q1_avg_price_by_fueltype(silver).collect()}
    assert q1 == ref.q1()
    cols = ["name", "brand", "address", "location_latitude", "location_longitude"]
    q2 = {
        tuple(r[c] for c in cols): r["fuelinfo"]
        for r in q2_station_latest_prices(stations, silver).collect()
    }
    assert q2 == ref.q2()
    st = ref.stations[tie_code]
    tie_key = (st["name"], st["brand"], st["address"],
               st["location"]["latitude"], st["location"]["longitude"])
    assert "U91: 160.20" in q2[tie_key].split("<br>")
    q3 = Counter(r["fueltype"] for r in q3_price_trend(silver).collect())
    assert dict(q3) == ref.q3()
