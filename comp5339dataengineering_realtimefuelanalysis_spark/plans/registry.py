"""Driver-facing query registry: every implemented operator from SURVEY.md §2
as a named (PySpark callable, DuckDB oracle SQL) pair over the synthetic
tables in /root/testdata (TESTDATA.md / FIXTURES.md §2 mapping).

Determinism contract (required for the driver's order-insensitive value-hash
compare, see SURVEY.md §4 decisions 1-2):

* every float aggregate goes through exact DECIMAL accumulation and is cast
  back to DOUBLE (functions.scalars.dec_sum/dec_avg) — bit-identical across
  engines and partition layouts;
* every argmax/dedup pins a unique tiebreak column;
* every string rendering of a numeric goes through DECIMAL(18,2);
* every computed column is aliased identically in the Spark code and the SQL.

The ``events`` table is shape-isomorphic to the reference's ``prices``
stream and ``customer`` to its ``stations`` dimension (FIXTURES.md §2):
  lastupdated->ts, stationcode->user_id, fueltype->event_type, price->value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import dec_avg, dec_sum, info_label
from ..operators.cleaning import (
    Rule,
    validate_split,
    recent_window,
    dedup_first,
    incremental_after,
)
from ..operators.analytics import (
    latest_per_key,
    avg_by,
    enrich_left,
    label_join_agg,
    series_by,
    orphans,
    windowed_stats,
    sliding_stats,
    moving_avg_daily,
    sessionize,
    sessionize_window,
    pivot_counts,
    distinct_count_by,
    topk_per_group,
)

from ..operators.temporal import asof_join, range_join_count

from .base import QueryDef, load_table
from .registry_llm import LLM_REGISTRY


# ---------------------------------------------------------------------------
# Validation ruleset for the events stream (reference F2/F3 mapped onto the
# events schema; `below_min_value` additionally exercises a firing range rule
# on the driver data, where no nulls/zeros exist).
# ---------------------------------------------------------------------------

_EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def event_rules() -> list[Rule]:
    rules = [
        Rule(f"missing_{c}", F.col(c).isNull())
        for c in ("event_id", "ts", "user_id", "event_type", "value")
    ]
    rules.append(Rule("empty_event_type", F.col("event_type") == ""))
    rules.append(Rule("zero_value", F.col("value") == 0))
    rules.append(Rule("below_min_value", F.col("value") < 0.05))
    return rules


_EVENT_RULES_SQL_CASE = """CASE
    WHEN event_id IS NULL THEN 'missing_event_id'
    WHEN ts IS NULL THEN 'missing_ts'
    WHEN user_id IS NULL THEN 'missing_user_id'
    WHEN event_type IS NULL THEN 'missing_event_type'
    WHEN value IS NULL THEN 'missing_value'
    WHEN event_type = '' THEN 'empty_event_type'
    WHEN value = 0 THEN 'zero_value'
    WHEN value < 0.05 THEN 'below_min_value'
    END"""

_EVENT_VALID_SQL_WHERE = (
    "event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL "
    "AND event_type IS NOT NULL AND value IS NOT NULL "
    "AND event_type <> '' AND value <> 0 AND value >= 0.05"
)


# ---------------------------------------------------------------------------
# Query implementations
# ---------------------------------------------------------------------------


def q_validate_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 valid side (F2/F3): rows passing every rule, original columns."""
    events = load_table(spark, sf_dir, "events")
    valid, _ = validate_split(events, event_rules())
    return valid.select(*_EVENT_COLS)


def q_validate_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 reject side: failing rows + first-failing-rule reason."""
    events = load_table(spark, sf_dir, "events")
    _, rejects = validate_split(events, event_rules())
    return rejects.select(*_EVENT_COLS, "reject_reason")


def q_recent_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: rows strictly newer than max(ts) - 7 days (data-relative bound)."""
    events = load_table(spark, sf_dir, "events")
    return recent_window(events, "ts", days=7).select(*_EVENT_COLS)


def q_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: first event per user (deterministic first-arrival by ts, id)."""
    events = load_table(spark, sf_dir, "events")
    return dedup_first(events, ["user_id"], ["ts", "event_id"]).select(
        *_EVENT_COLS
    )


def q_incremental_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: high-watermark incremental filter (fixed literal watermark)."""
    events = load_table(spark, sf_dir, "events")
    return incremental_after(events, "ts", "2024-01-15 00:00:00").select(
        *_EVENT_COLS
    )


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: latest event per (user_id, event_type), event_id tiebreak."""
    events = load_table(spark, sf_dir, "events")
    return latest_per_key(
        events, ["user_id", "event_type"], "ts", tiebreak="event_id"
    ).select(*_EVENT_COLS)


def q_avg_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (Q1 analog): average value per event_type, order-independent."""
    events = load_table(spark, sf_dir, "events")
    return avg_by(events, ["event_type"], "value", alias="avg_value")


def q_avg_by_type_rounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+C7: the reference's round-to-2dp variant (DataAnalysis.py:81)."""
    events = load_table(spark, sf_dir, "events")
    return avg_by(
        events, ["event_type"], "value", alias="avg_value", ndigits=2
    )


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⟕ latest-events with the P5 info label (Q2 analog core)."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    latest = latest_per_key(
        events, ["user_id", "event_type"], "ts", tiebreak="event_id"
    ).select("user_id", "event_type", "value", "ts")
    joined = enrich_left(
        customer,
        latest,
        customer["c_custkey"] == latest["user_id"],
        broadcast_side="right",
    )
    return joined.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        "c_acctbal",
        "event_type",
        "value",
        "ts",
        info_label("event_type", "value").alias("info"),
    )


_LATEST_SQL = """
    SELECT user_id, event_type, value, ts FROM (
        SELECT user_id, event_type, value, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) sub
    WHERE rn = 1
"""

_ENRICHED_SQL = f"""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal,
           l.event_type, l.value, CAST(l.ts AS TIMESTAMP) AS ts,
           CASE WHEN l.value IS NOT NULL
                THEN l.event_type || ': ' ||
                     CAST(CAST(l.value AS DECIMAL(18,2)) AS VARCHAR)
                ELSE '' END AS info
    FROM customer c
    LEFT JOIN ({_LATEST_SQL}) l ON c.c_custkey = l.user_id
"""


def q_enrich_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+P5 (Q2 analog): dim ⟕ latest fact with null-guarded label."""
    return _enriched(spark, sf_dir)


def q_label_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (Q2 analog, full): per-customer sorted '<br>'-joined labels."""
    enriched = _enriched(spark, sf_dir)
    return label_join_agg(
        enriched,
        ["c_custkey", "c_name", "c_mktsegment"],
        "info",
        sep="<br>",
        alias="info",
    )


def q_series_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+O3 (Q3 analog): per-type time-ordered (ts, value) series."""
    events = load_table(spark, sf_dir, "events")
    return series_by(events, ["event_type"], "ts", ["value"])


def q_orphan_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: dimension rows with no fact (customers with no events)."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return orphans(customer, events, "c_custkey", "user_id")


def q_fk_orphan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: fact rows violating the documented FK (events w/o customer)."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return orphans(events, customer, "user_id", "c_custkey")


# --- classic OLAP coverage over the TPC-H-ish tables -----------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: 2 group keys, 8 aggregates.

    All money sums via exact decimal accumulation (order-independent).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_sum(charge, "sum_charge"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-k (revenue desc, orderkey tiebreak)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(rev, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (fact + 4 dims), small dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(customer),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy("r_name", "n_name")
        .agg(dec_sum(rev, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def q_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: EXISTS semi-join + count per priority."""
    # scan-light: both sides go straight into the semi-join's own
    # exchange, so pre-shuffling the scans is pure overhead (r18 bench:
    # 0.7 -> 1.2 s with recovery on)
    orders = load_table(spark, sf_dir, "orders", recover_parallelism=False)
    li = load_table(spark, sf_dir, "lineitem", recover_parallelism=False)
    filtered = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    semi = filtered.join(
        li,
        (filtered["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > filtered["o_orderdate"]),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_events_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 beyond-parity: tumbling 1-day window stats per event type."""
    events = load_table(spark, sf_dir, "events")
    return windowed_stats(events, "ts", ["event_type"], "value", "1 day")


def q_events_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 beyond-parity: 7-day window sliding daily, per event type."""
    events = load_table(spark, sf_dir, "events")
    return sliding_stats(
        events, "ts", ["event_type"], "value", "7 days", "1 day"
    )


def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranged moving window: 7-day value-weighted moving average and
    day-over-day delta per event type (smoothed Q3 trend)."""
    events = load_table(spark, sf_dir, "events")
    return moving_avg_daily(
        events, ["event_type"], "ts", "value", days=7
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min), deterministic tiebreak."""
    events = load_table(spark, sf_dir, "events")
    return sessionize(
        events, "user_id", "ts", gap_minutes=30, tiebreak="event_id"
    )


def q_user_sessions_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window sessionization — the streaming-native variant
    (same expression runs watermarked in append mode; see
    tests/test_stateful.py for the streaming + RocksDB exercise)."""
    events = load_table(spark, sf_dir, "events")
    return sessionize_window(events, "user_id", "ts", gap_minutes=30)


def q_user_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts, one column per (fixed) event type."""
    events = load_table(spark, sf_dir, "events")
    return pivot_counts(events, "user_id", "event_type", _EVENT_TYPES)


def q_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT user) per event type."""
    events = load_table(spark, sf_dir, "events")
    return distinct_count_by(events, ["event_type"], "user_id")


def q_events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: JSON payload parse (from_json with declared schema) + agg."""
    events = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k long")["k"]
    return (
        events.withColumn("k", k)
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: tight filter + single exact sum (pushdown-friendly
    shape: no joins, no grouping — the scan IS the query)."""
    # scan-light: a pushed-down filter feeding one global agg — the
    # parallelism-recovery shuffle costs more than the single-split scan
    # it parallelizes (r18 bench: 0.2 -> 0.5 s with recovery on)
    li = load_table(spark, sf_dir, "lineitem", recover_parallelism=False)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dec_sum(
                F.col("l_extendedprice") * F.col("l_discount"), "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by revenue within each priority.

    Only 5 priority groups exist, so a naive per-group window would sort
    each 20% of the fact table in ONE task; ``topk_per_group`` salts the
    first pass into 32 parallel local top-3s, then ranks the <= 96
    survivors (exact — see the operator docstring)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_order = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority", "o_orderkey")
        .agg(dec_sum(rev, "revenue"))
    )
    return topk_per_group(
        per_order,
        ["o_orderpriority"],
        [F.col("revenue").desc(), F.col("o_orderkey")],
        k=3,
        salt_from="o_orderkey",
    ).select("o_orderpriority", "o_orderkey", "revenue", "rank")


def q_avg_part_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-table aggregate over part (full-table-coverage + A1 shape)."""
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        dec_avg("p_retailprice", "avg_price"),
        F.count(F.lit(1)).alias("n_parts"),
        F.max("p_size").alias("max_size"),
    )


def q_supplier_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier ⋈ nation broadcast join + exact sum per nation."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supplier.join(
            F.broadcast(nation),
            supplier["s_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_name")
        .agg(
            dec_sum("s_acctbal", "total_balance"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


def q_lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (beyond-parity §2.7): subtotals + grand total in one pass.

    Spark plans rollup as a single Expand + aggregate — one shuffle for
    all grouping levels, not one job per level.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum("l_quantity", "sum_qty"),
        )
    )


def q_clickers_not_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops (§2.9 beyond-parity): EXCEPT / INTERSECT over user sets."""
    events = load_table(spark, sf_dir, "events")
    clickers = events.filter(F.col("event_type") == "click").select("user_id")
    buyers = events.filter(F.col("event_type") == "purchase").select("user_id")
    except_df = clickers.subtract(buyers).withColumn(
        "relation", F.lit("click_no_purchase")
    )
    both = clickers.intersect(buyers).withColumn(
        "relation", F.lit("click_and_purchase")
    )
    return except_df.unionAll(both)


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase attributed to the user's most recent
    click at or before it (the funnel-analysis form of the reference's
    latest-then-join pattern, as a real operator)."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    out = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_ts", "click_id"],
        tiebreak="click_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("right_click_ts").alias("click_ts"),
        F.col("right_click_id").alias("click_id"),
    )


def q_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: clicks within the 5 minutes before each
    purchase, counted per purchase (bucketed equi-join, exact filter)."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return range_join_count(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="click_ts",
        window_seconds=300,
        count_alias="n_clicks",
    )


def q_value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (Spark percentile == DuckDB
    quantile_cont bit-for-bit: same sort + linear interpolation)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.9)).alias("p90"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )


def q_approx_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates (HLL++ distinct, approximate percentile) —
    the 100 TB default when ±2% beats a second shuffle. No value-hash
    oracle: sketch implementations differ across engines by
    construction. The verdict is BOUNDED instead: each output carries a
    documented error contract (HLL++ rsd=0.02 — 2% standard error on
    the distinct count; percentile accuracy=10000 — guaranteed rank
    error <= n/10000), and test_approx_stats_within_documented_bounds
    computes the exact answers beside the sketches and fails if either
    bound is exceeded."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias(
            "approx_p50"
        ),
    )


def q_stats_by_type_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact twin of approx_stats_by_type — the same
    grouping with COUNT(DISTINCT) and exact interpolated median
    instead of sketches, so the sketch query's aggregation SHAPE has a
    driver-visible value-hash attestation (the sketch variant itself
    stays rows-only by design: HLL++/KLL internals differ across
    engines; its accuracy contract is asserted in
    test_approx_stats_within_documented_bounds). At 100 TB the exact
    distinct costs a second shuffle the sketch avoids — this twin is
    the correctness anchor, the sketch is the scale default."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.expr("percentile(value, 0.5)").alias("p50"),
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, QueryDef] = {
    "validate_valid": QueryDef(
        q_validate_valid,
        f"SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, "
        f"value, props FROM events WHERE {_EVENT_VALID_SQL_WHERE}",
        ("events",),
        "V1/F2/F3 valid side",
    ),
    "validate_rejects": QueryDef(
        q_validate_rejects,
        f"""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
                   value, props,
                   {_EVENT_RULES_SQL_CASE} AS reject_reason
            FROM events WHERE NOT ({_EVENT_VALID_SQL_WHERE})""",
        ("events",),
        "V1 reject side with first-failing reason",
    ),
    "recent_window": QueryDef(
        q_recent_window,
        """SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.user_id,
                  e.event_type, e.value, e.props
           FROM events e, (SELECT MAX(ts) AS max_ts FROM events) m
           WHERE e.ts > m.max_ts - INTERVAL 7 DAY""",
        ("events",),
        "F1 data-relative recency window (strict >)",
    ),
    "dedup_first": QueryDef(
        q_dedup_first,
        """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
                  value, props FROM (
               SELECT e.*, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
               FROM events e) t
           WHERE rn = 1""",
        ("events",),
        "D1 first-arrival dedup by key",
    ),
    "incremental_after": QueryDef(
        q_incremental_after,
        """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
                  value, props
           FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'""",
        ("events",),
        "F4 high-watermark incremental filter",
    ),
    "latest_per_key": QueryDef(
        q_latest_per_key,
        """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
                  value, props FROM (
               SELECT e.*, ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC) AS rn
               FROM events e) t
           WHERE rn = 1""",
        ("events",),
        "A3 argmax-by-time per key",
    ),
    "avg_by_type": QueryDef(
        q_avg_by_type,
        """SELECT event_type,
                  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(value) AS avg_value
           FROM events GROUP BY event_type""",
        ("events",),
        "A1 (Q1) average per group, order-independent",
    ),
    "avg_by_type_rounded": QueryDef(
        q_avg_by_type_rounded,
        """SELECT event_type,
                  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(value), 2) AS avg_value
           FROM events GROUP BY event_type""",
        ("events",),
        "A1+C7 (Q1) rounded to 2dp",
    ),
    "enrich_left": QueryDef(
        q_enrich_left,
        _ENRICHED_SQL,
        ("events", "customer"),
        "J1+P5 (Q2) dim ⟕ latest fact with info label",
    ),
    "label_join_agg": QueryDef(
        q_label_join_agg,
        f"""SELECT c_custkey, c_name, c_mktsegment,
                   STRING_AGG(info, '<br>' ORDER BY info) AS info
            FROM ({_ENRICHED_SQL}) enr
            GROUP BY c_custkey, c_name, c_mktsegment""",
        ("events", "customer"),
        "A4 (Q2 full) per-group sorted label string-agg",
    ),
    "series_by_type": QueryDef(
        q_series_by_type,
        "SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events "
        "ORDER BY event_type, ts",
        ("events",),
        "A5+O3 (Q3) per-type time series",
    ),
    "orphan_customers": QueryDef(
        q_orphan_customers,
        """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM customer c
           WHERE NOT EXISTS (
               SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)""",
        ("events", "customer"),
        "left-anti: dim rows with no fact",
    ),
    "fk_orphan_events": QueryDef(
        q_fk_orphan_events,
        """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
                  value, props
           FROM events e
           WHERE NOT EXISTS (
               SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)""",
        ("events", "customer"),
        "J2 FK orphan report",
    ),
    "pricing_summary": QueryDef(
        q_pricing_summary,
        """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
              CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
              COUNT(*) AS count_order
           FROM lineitem
           WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
           GROUP BY l_returnflag, l_linestatus""",
        ("lineitem",),
        "TPC-H Q1-style pricing summary",
    ),
    "top_revenue_orders": QueryDef(
        q_top_revenue_orders,
        """SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
                  o_orderpriority, revenue FROM (
               SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
                      CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                          AS DECIMAL(18,6))) AS DOUBLE) AS revenue
               FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
               GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority) t
           ORDER BY revenue DESC, o_orderkey LIMIT 10""",
        ("orders", "lineitem"),
        "deterministic top-k revenue orders",
    ),
    "revenue_by_nation": QueryDef(
        q_revenue_by_nation,
        """SELECT r_name, n_name,
                  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                      AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name, n_name""",
        ("lineitem", "orders", "customer", "nation", "region"),
        "star join, broadcast dims",
    ),
    "value_quantiles_by_type": QueryDef(
        q_value_quantiles_by_type,
        """SELECT event_type,
                  quantile_cont(value, 0.5) AS p50,
                  quantile_cont(value, 0.9) AS p90,
                  quantile_cont(value, 0.99) AS p99
           FROM events GROUP BY event_type""",
        ("events",),
        "exact interpolated quantiles per group",
    ),
    "approx_stats_by_type": QueryDef(
        q_approx_stats_by_type,
        None,  # sketches are engine-specific; accuracy asserted in tests
        ("events",),
        "HLL++ distinct + approx percentile (scale default)",
    ),
    "stats_by_type_exact": QueryDef(
        q_stats_by_type_exact,
        """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                  quantile_cont(value, 0.5) AS p50
           FROM events GROUP BY event_type""",
        ("events",),
        "exact twin of the sketch stats (distinct + median)",
    ),
    "purchase_attribution": QueryDef(
        q_purchase_attribution,
        """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
                  CAST(c.ts AS TIMESTAMP) AS click_ts,
                  c.event_id AS click_id
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           ASOF LEFT JOIN
                (SELECT * FROM events WHERE event_type = 'click') c
             ON p.user_id = c.user_id AND c.ts <= p.ts""",
        ("events",),
        "as-of join: purchase -> most recent prior click",
    ),
    "clicks_before_purchase": QueryDef(
        q_clicks_before_purchase,
        """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
                  COUNT(c.ts) AS n_clicks
           FROM (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT user_id, ts FROM events
                      WHERE event_type = 'click') c
             ON p.user_id = c.user_id
            AND c.ts >= p.ts - INTERVAL 5 MINUTE
            AND c.ts < p.ts
           GROUP BY p.event_id, p.user_id, p.ts""",
        ("events",),
        "bounded range join: clicks in the 5 min before each purchase",
    ),
    "avg_part_price_by_brand": QueryDef(
        q_avg_part_price_by_brand,
        """SELECT p_brand,
                  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(p_retailprice) AS avg_price,
                  COUNT(*) AS n_parts,
                  MAX(p_size) AS max_size
           FROM part GROUP BY p_brand""",
        ("part",),
        "dimension aggregate over part",
    ),
    "supplier_nation_balance": QueryDef(
        q_supplier_nation_balance,
        """SELECT n_name,
                  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                      AS total_balance,
                  COUNT(*) AS n_suppliers
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           GROUP BY n_name""",
        ("supplier", "nation"),
        "supplier-nation broadcast join + exact sum",
    ),
    "lineitem_rollup": QueryDef(
        q_lineitem_rollup,
        """SELECT l_returnflag, l_linestatus,
                  COUNT(*) AS n_items,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                      AS sum_qty
           FROM lineitem
           GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
        ("lineitem",),
        "ROLLUP subtotals + grand total, single Expand pass",
    ),
    "clickers_not_buyers": QueryDef(
        q_clickers_not_buyers,
        """SELECT user_id, 'click_no_purchase' AS relation FROM (
               SELECT user_id FROM events WHERE event_type = 'click'
               EXCEPT
               SELECT user_id FROM events WHERE event_type = 'purchase') a
           UNION ALL
           SELECT user_id, 'click_and_purchase' AS relation FROM (
               SELECT user_id FROM events WHERE event_type = 'click'
               INTERSECT
               SELECT user_id FROM events WHERE event_type = 'purchase') b""",
        ("events",),
        "EXCEPT / INTERSECT set operations",
    ),
    "events_props_stats": QueryDef(
        q_events_props_stats,
        """SELECT event_type,
                  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
                  COUNT(*) AS n_events
           FROM events
           WHERE CAST(props->>'k' AS BIGINT) >= 50
           GROUP BY event_type""",
        ("events",),
        "C10 JSON payload parse + aggregate",
    ),
    "filtered_revenue": QueryDef(
        q_filtered_revenue,
        """SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                      AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                  COUNT(*) AS n_items
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             AND l_discount >= 0.02 AND l_discount <= 0.06
             AND l_quantity < 24""",
        ("lineitem",),
        "TPC-H Q6-style scan-heavy filter + exact sum",
    ),
    "top_orders_per_priority": QueryDef(
        q_top_orders_per_priority,
        """SELECT o_orderpriority, o_orderkey, revenue,
                  CAST(rank AS INT) AS rank FROM (
               SELECT o.o_orderpriority, o.o_orderkey,
                      CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                          AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
                      ROW_NUMBER() OVER (
                          PARTITION BY o.o_orderpriority
                          ORDER BY CAST(SUM(CAST(l.l_extendedprice
                              * (1.0 - l.l_discount) AS DECIMAL(18,6)))
                              AS DOUBLE) DESC, o.o_orderkey) AS rank
               FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
               GROUP BY o.o_orderpriority, o.o_orderkey) t
           WHERE rank <= 3""",
        ("orders", "lineitem"),
        "window top-k per group",
    ),
    "events_daily_stats": QueryDef(
        q_events_daily_stats,
        """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
                  COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                      AS sum_value,
                  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(value) AS avg_value
           FROM events GROUP BY 1, 2""",
        ("events",),
        "tumbling 1-day window aggregate (streaming-compatible F.window)",
    ),
    "events_sliding_stats": QueryDef(
        q_events_sliding_stats,
        """WITH expanded AS (
               SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
                          - INTERVAL 1 DAY * CAST(k.range AS INT)
                          AS window_start,
                      event_type, value
               FROM events, range(7) k)
           SELECT window_start, event_type,
                  COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                      AS sum_value,
                  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(value) AS avg_value
           FROM expanded GROUP BY 1, 2""",
        ("events",),
        "sliding 7-day/1-day window aggregate (streaming-compatible)",
    ),
    "events_moving_avg": QueryDef(
        q_events_moving_avg,
        """WITH daily AS (
               SELECT event_type,
                      CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                      SUM(CAST(value AS DECIMAL(18,6))) AS day_sum,
                      COUNT(value) AS n_values
               FROM events GROUP BY 1, 2),
           ranged AS (
               SELECT event_type, day,
                      CAST(day_sum AS DOUBLE) / n_values AS day_avg,
                      CAST(SUM(day_sum) OVER w AS DOUBLE)
                          / CAST(SUM(n_values) OVER w AS DOUBLE) AS mavg
               FROM daily
               WINDOW w AS (
                   PARTITION BY event_type
                   ORDER BY CAST(floor(epoch(day)) AS BIGINT)
                   RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW))
           SELECT event_type, day, day_avg, mavg,
                  day_avg - lag(day_avg) OVER (
                      PARTITION BY event_type ORDER BY day) AS delta_prev
           FROM ranged""",
        ("events",),
        "ranged moving window: 7-day weighted moving avg + day-over-day delta",
    ),
    "user_sessions": QueryDef(
        q_user_sessions,
        """WITH flagged AS (
               SELECT user_id, ts, event_id,
                      CASE WHEN lag(ts) OVER w IS NULL
                            OR CAST(floor(epoch(ts)) AS BIGINT)
                               - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                               > 1800
                           THEN 1 ELSE 0 END AS is_new
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           sess AS (
               SELECT user_id, ts,
                      CAST(SUM(is_new) OVER (
                          PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS session_id
               FROM flagged)
           SELECT user_id, session_id,
                  COUNT(*) AS n_events,
                  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
                  CAST(MAX(ts) AS TIMESTAMP) AS session_end
           FROM sess GROUP BY user_id, session_id""",
        ("events",),
        "gap-based sessionization (lag + conditional cumsum)",
    ),
    "user_sessions_window": QueryDef(
        q_user_sessions_window,
        """WITH flagged AS (
               SELECT user_id, ts,
                      CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                               > 1800 * 1000000
                           THEN 1 ELSE 0 END AS is_new
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           sess AS (
               SELECT user_id, ts,
                      SUM(is_new) OVER (
                          PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS sid
               FROM flagged)
           SELECT user_id,
                  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
                  CAST(MAX(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE
                      AS session_end,
                  COUNT(*) AS n_events
           FROM sess GROUP BY user_id, sid""",
        ("events",),
        "session-window sessionization (F.session_window, streaming-native)",
    ),
    "user_type_pivot": QueryDef(
        q_user_type_pivot,
        """SELECT user_id,
                  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
                  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
                  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
                  COUNT(*) FILTER (WHERE event_type = 'view') AS view
           FROM events GROUP BY user_id""",
        ("events",),
        "pivot to fixed event-type count columns",
    ),
    "distinct_users_by_type": QueryDef(
        q_distinct_users_by_type,
        """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
           FROM events GROUP BY event_type""",
        ("events",),
        "exact distinct-count per group",
    ),
    "order_priority_count": QueryDef(
        q_order_priority_count,
        """SELECT o_orderpriority, COUNT(*) AS order_count
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
             AND EXISTS (SELECT 1 FROM lineitem
                         WHERE l_orderkey = o_orderkey
                           AND l_shipdate > o_orderdate)
           GROUP BY o_orderpriority""",
        ("orders", "lineitem"),
        "TPC-H Q4-style semi-join count",
    ),
}

REGISTRY.update(LLM_REGISTRY)

# ---------------------------------------------------------------------------
# Driver attestation window
# ---------------------------------------------------------------------------
# The round driver's CORRECTNESS_r{N}.json attests only the FIRST
# ``ATTESTATION_WINDOW`` registry entries in iteration order; entries past
# the window get no driver-recorded row that round. The rotation below is
# GENERATED, not hand-maintained: at import time the registry is reordered
# by staleness — queries never attested in any CORRECTNESS_r*.json first,
# then by oldest last-green round — so each round's window automatically
# covers whatever has gone longest without a driver-recorded green row.
# Rotated-out queries keep their green rows from earlier rounds and remain
# verified locally by ``tools/check_correctness.py`` over the full registry.
ATTESTATION_WINDOW = 50


def _load_attestation_rounds(root: str) -> dict[int, dict]:
    """Round number -> parsed CORRECTNESS_r{N}.json, for every readable
    correctness artifact under ``root``."""
    import glob
    import json
    import re

    rounds: dict[int, dict] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError) as exc:
            # an unreadable artifact silently shifts the rotation window —
            # WARNING reaches stderr even with no logging config (the
            # stdlib last-resort handler emits WARNING+)
            import logging

            logging.getLogger(__name__).warning(
                "unreadable correctness artifact %s (%s); "
                "attestation rotation will ignore it",
                path,
                exc,
            )
            continue
        if isinstance(data, dict):
            rounds[int(m.group(1))] = data
    return rounds


def _row_attested(row: object) -> bool:
    """A driver row counts as attested when the full oracle comparison was
    green, or — for queries declared oracle-free (sketch outputs) — when the
    weaker rows-only run completed."""
    if not isinstance(row, dict):
        return False
    if row.get("hash_match") is True:
        return True
    return row.get("err") == "no_oracle" and row.get("spark_rows") is not None


def last_attested_round(
    registry: dict[str, QueryDef], root: str | None = None
) -> dict[str, int]:
    """Per registry query: the newest round whose correctness artifact has
    an attested row for it, or -1 if never attested."""
    if root is None:
        root = os.environ.get(
            "SPARK_GRAFT_REPO_ROOT",
            os.path.dirname(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            ),
        )
    last = {name: -1 for name in registry}
    for rnd, rows in _load_attestation_rounds(root).items():
        for name, row in rows.items():
            if name in last and _row_attested(row):
                last[name] = max(last[name], rnd)
    return last


# Queries whose implementation was rewritten AFTER their last green
# attestation: name -> the first artifact round that would attest the NEW
# plan. Such a query jumps ahead of everything (even never-attested
# entries) until a CORRECTNESS_r{N}.json with N >= the recorded round shows
# it green, after which the entry is inert and may be deleted. Update this
# whenever a registry query's plan changes materially — a green row for the
# old plan says nothing about the new one.
FORCE_ATTEST: dict[str, int] = {
    # (retired entries: the round-8/9 rewrites in round 17, after every
    # listed query re-greened — doc_embed_hash last green r16, the nine
    # round-9 rewrites last green r15; the round-17 knee-banding rewrite
    # of corpus_curation_pipeline and corpus_curation_pipeline_2l once
    # CORRECTNESS_r17.json and CORRECTNESS_r19.json showed both green.)
}


def _rotate_for_attestation(
    registry: dict[str, QueryDef],
) -> dict[str, QueryDef]:
    """Reorder ``registry`` by attestation staleness (plan-changed-since-
    last-green first, then never-attested, then oldest last-green round;
    original order as the tiebreak). Pure reordering — same keys, same
    values. No artifacts present (fresh clone) -> original order."""
    last = last_attested_round(registry)
    if all(v == -1 for v in last.values()):
        return registry
    idx = {name: i for i, name in enumerate(registry)}

    def force_pending(name: str) -> bool:
        return name in FORCE_ATTEST and last[name] < FORCE_ATTEST[name]

    order = sorted(
        registry, key=lambda n: (not force_pending(n), last[n], idx[n])
    )
    # the order depends on which CORRECTNESS_r*.json artifacts were
    # readable at import — log the computed head once so an unexpected
    # rotation (corrupt/missing artifact) is observable, not silent
    import logging

    logging.getLogger(__name__).info(
        "registry attestation rotation: head-%d = %s",
        ATTESTATION_WINDOW,
        order[:ATTESTATION_WINDOW],
    )
    return {n: registry[n] for n in order}


# Definition order, BEFORE the attestation rotation. Benchmarks must
# iterate this — the r16 bench showed a 2.2x swing on an unchanged plan
# (emb_ivf_topk_probes2) when the rotation reshuffled which neighbors
# warmed the shared IVF index/OS page cache; timings must not depend on
# which 50 queries the driver happens to attest in a given round.
CANONICAL_ORDER: tuple[str, ...] = tuple(REGISTRY)

REGISTRY = _rotate_for_attestation(REGISTRY)
