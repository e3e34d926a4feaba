"""Unit tests for the windowing/sessionization/pivot/distinct operators."""

from __future__ import annotations

import datetime as dt

from comp5339dataengineering_realtimefuelanalysis_spark.operators.analytics import (
    windowed_stats,
    sessionize,
    sessionize_window,
    pivot_counts,
    distinct_count_by,
)
from comp5339dataengineering_realtimefuelanalysis_spark.sinks.writers import (
    publish_json,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


ROWS = [
    # user 1: two sessions (gap > 30 min between id 3 and 4)
    (1, ts("2024-01-01T10:00:00"), 1, "click", 1.0),
    (2, ts("2024-01-01T10:10:00"), 1, "view", 2.0),
    (3, ts("2024-01-01T10:20:00"), 1, "click", 3.0),
    (4, ts("2024-01-01T11:30:00"), 1, "purchase", 4.0),
    # user 2: one session, next day
    (5, ts("2024-01-02T09:00:00"), 2, "view", 5.0),
    (6, ts("2024-01-02T09:29:59"), 2, "view", 6.0),
]

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def events(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_windowed_stats_day(spark):
    out = {
        (r.window_start.day, r.event_type): (r.n_events, r.sum_value)
        for r in windowed_stats(
            events(spark), "ts", ["event_type"], "value", "1 day"
        ).collect()
    }
    assert out[(1, "click")] == (2, 4.0)
    assert out[(2, "view")] == (2, 11.0)
    assert out[(1, "purchase")] == (1, 4.0)


def test_sessionize_gap(spark):
    out = {
        (r.user_id, r.session_id): r.n_events
        for r in sessionize(
            events(spark), "user_id", "ts", 30, tiebreak="event_id"
        ).collect()
    }
    assert out == {(1, 1): 3, (1, 2): 1, (2, 1): 2}


def test_sessionize_boundary_is_strict(spark):
    # exactly 30:00 gap -> same session (strict >)
    rows = [
        (1, ts("2024-01-01T10:00:00"), 9, "a", 0.1),
        (2, ts("2024-01-01T10:30:00"), 9, "a", 0.1),
        (3, ts("2024-01-01T11:00:01"), 9, "a", 0.1),  # 30:01 -> new
    ]
    out = sessionize(
        spark.createDataFrame(rows, SCHEMA), "user_id", "ts", 30
    ).collect()
    sess = {r.session_id: r.n_events for r in out}
    assert sess == {1: 2, 2: 1}


def test_pivot_counts_fixed_columns(spark):
    out = {r.user_id: r for r in pivot_counts(
        events(spark), "user_id", "event_type",
        ("click", "error", "purchase", "signup", "view"),
    ).collect()}
    assert (out[1].click, out[1].view, out[1].purchase, out[1].error) == (2, 1, 1, 0)
    assert (out[2].view, out[2].click) == (2, 0)


def test_distinct_count_by(spark):
    out = {
        r.event_type: r.n_distinct
        for r in distinct_count_by(
            events(spark), ["event_type"], "user_id"
        ).collect()
    }
    assert out == {"click": 1, "view": 2, "purchase": 1}


def test_publish_json_payloads(spark, tmp_path):
    import json

    publish_json(events(spark).select("event_id", "event_type"), str(tmp_path / "topic"), 0)
    lines = [
        json.loads(line)
        for f in (tmp_path / "topic" / "ingest_epoch=0").glob("part-*")
        for line in f.read_text().splitlines()
    ]
    assert sorted(d["event_id"] for d in lines) == [1, 2, 3, 4, 5, 6]
    assert all(set(d) == {"event_id", "event_type"} for d in lines)


def test_approx_stats_within_documented_bounds(spark):
    """The BOUNDED verdict for the registry's only oracle-less row
    (approx_stats_by_type): compute the exact answers beside the
    sketches and fail if either sketch exceeds the error bound its
    implementation documents.

    - approx_count_distinct(rsd=0.02): HLL++ with 2% standard error on
      the estimate; asserted at 3 sigma (6%) plus 1 count of integer
      slack, so the check is a contract verdict, not a flake.
    - percentile_approx(accuracy=10000): the KLL-style sketch
      GUARANTEES the returned value's rank is within n/accuracy of the
      target rank — asserted exactly against the value's true rank
      interval [n_lt+1, n_le] (ties give an interval, not a point).

    Measured errors are attached to the assertion messages, so a
    failure reports how far outside the bound the sketch landed."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.base import (
        load_table,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import (
        REGISTRY,
    )
    from pyspark.sql import functions as F

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        approx_df = REGISTRY["approx_stats_by_type"].fn(spark, sf)
        events = load_table(spark, sf, "events")
        exact = {
            r.event_type: r
            for r in events.groupBy("event_type")
            .agg(
                F.count_distinct("user_id").alias("nd"),
                F.count("value").alias("n"),
            )
            .collect()
        }
        # true rank interval of each sketch p50 in ONE pass: rows
        # strictly below / at-or-below the approx value per type
        ranks = {
            r.event_type: r
            for r in events.join(
                F.broadcast(approx_df), "event_type"
            )
            .groupBy("event_type")
            .agg(
                F.sum(
                    (F.col("value") < F.col("approx_p50")).cast("long")
                ).alias("n_lt"),
                F.sum(
                    (F.col("value") <= F.col("approx_p50")).cast("long")
                ).alias("n_le"),
            )
            .collect()
        }
        for row in approx_df.collect():
            t = row.event_type
            nd, n = exact[t].nd, exact[t].n
            rel = abs(row.approx_users - nd) / max(nd, 1)
            assert rel <= 3 * 0.02 + 1 / max(nd, 1), (
                f"{sf} {t}: HLL distinct {row.approx_users} vs exact "
                f"{nd} — rel error {rel:.4f} exceeds 3*rsd=0.06"
            )
            target, eps = 0.5 * n, n / 10000.0
            lo, hi = ranks[t].n_lt + 1, ranks[t].n_le
            assert lo - eps - 1 <= target <= hi + eps + 1, (
                f"{sf} {t}: approx_p50={row.approx_p50} has true rank "
                f"interval [{lo}, {hi}] but target rank {target} is "
                f"outside it by more than the guaranteed eps*n={eps}"
            )


def test_topk_per_group_matches_naive_window(spark):
    """Salted two-stage top-k is exact: identical to the single-window
    formulation for every group, including ties broken by id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.analytics import (
        topk_per_group,
    )

    rows = [(i % 4, float((i * 7) % 23), i) for i in range(200)]
    df = spark.createDataFrame(rows, "grp int, score double, rid int")
    order = [F.col("score").desc(), F.col("rid")]
    naive = (
        df.withColumn(
            "rank", F.row_number().over(Window.partitionBy("grp").orderBy(*order))
        )
        .filter(F.col("rank") <= 5)
    )
    salted = topk_per_group(df, ["grp"], order, k=5, salt_from="rid", buckets=8)
    a = {(r.grp, r.rid, r.rank) for r in naive.collect()}
    b = {(r.grp, r.rid, r.rank) for r in salted.collect()}
    assert a == b and len(a) == 20


def test_moving_avg_daily_frame_and_delta(spark):
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.analytics import (
        moving_avg_daily,
    )

    rows = [
        # one key, daily values on days 1, 2, 8, 9 of January
        (1, ts("2024-01-01T12:00:00"), 1, "click", 10.0),
        (2, ts("2024-01-02T12:00:00"), 1, "click", 20.0),
        (3, ts("2024-01-02T13:00:00"), 1, "click", 40.0),
        (4, ts("2024-01-08T12:00:00"), 1, "click", 70.0),  # day1 +7d: outside
        (5, ts("2024-01-09T12:00:00"), 1, "click", 100.0),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {
        r["day"].day: r
        for r in moving_avg_daily(
            df, ["event_type"], "ts", "value", days=7
        ).collect()
    }
    assert out[1]["day_avg"] == 10.0 and out[1]["mavg"] == 10.0
    assert out[1]["delta_prev"] is None
    # day 2: two values that day; frame = days 1-2, value-weighted
    assert out[2]["day_avg"] == 30.0
    assert out[2]["mavg"] == (10.0 + 20.0 + 40.0) / 3
    assert out[2]["delta_prev"] == 20.0
    # day 8: 7-day frame covers days 2..8 — day 1 excluded, day 2 included
    assert out[8]["mavg"] == (20.0 + 40.0 + 70.0) / 3
    # day 9: frame covers days 3..9 — day 2 now excluded
    assert out[9]["mavg"] == (70.0 + 100.0) / 2
    assert out[9]["delta_prev"] == 100.0 - 70.0


def test_sliding_stats_fanout_and_sums(spark):
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.analytics import (
        sliding_stats,
    )

    out = sliding_stats(
        events(spark), "ts", ["event_type"], "value", "2 days", "1 day"
    ).collect()
    # every event appears in exactly window/slide = 2 windows
    assert sum(r.n_events for r in out) == 2 * len(ROWS)
    by = {(r.window_start.day, r.event_type): r for r in out}
    # window starting Jan 1 and window starting Dec 31 both hold Jan 1 rows
    assert by[(1, "click")].n_events == 2
    assert by[(31, "click")].n_events == 2
    # window starting Jan 1 spans both days of views
    assert by[(1, "view")].n_events == 3
    assert by[(1, "view")].sum_value == 13.0
    assert by[(2, "view")].n_events == 2


def test_sessionize_window_boundary_and_parity(spark):
    """sessionize_window matches the lag-based sessionize's strict->
    boundary: an event at gap == threshold MERGES (session windows merge
    when they touch), and the merged session's end extends to
    last_event + gap."""
    rows = [
        (1, ts("2024-01-01T10:00:00"), 7),
        (2, ts("2024-01-01T10:30:00"), 7),  # exactly 30 min -> merges
        (3, ts("2024-01-01T12:00:00"), 7),  # clear new session
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    lag_based = sessionize(df, "user_id", "ts", gap_minutes=30)
    assert sorted(r.n_events for r in lag_based.collect()) == [1, 2]
    sw = {
        (r.session_start.isoformat(), r.session_end.isoformat()): r.n_events
        for r in sessionize_window(df, "user_id", "ts", 30).collect()
    }
    assert sw == {
        ("2024-01-01T10:00:00", "2024-01-01T11:00:00"): 2,
        ("2024-01-01T12:00:00", "2024-01-01T12:30:00"): 1,
    }
