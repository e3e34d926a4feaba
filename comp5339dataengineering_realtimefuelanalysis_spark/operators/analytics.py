"""Analytical operators (SURVEY.md §2.6-§2.8) — the Q1/Q2/Q3 building blocks.

All column-parameterized, all built-in expressions. Scale notes inline: the
design target is a 1000-executor cluster on ~100 TB, so every operator
documents its shuffle behavior and broadcast strategy.

Reference parity map:
  * latest_per_key — A3 (+O2): argmax-by-time per key (DataAnalysis.py:108-109)
  * avg_by         — A1 (+C7): mean per group, 2dp (DataAnalysis.py:70-82)
  * enrich_left    — J1 (+C6): dim ⟕ fact left join (DataAnalysis.py:111-117)
  * label_join_agg — P5+A4: per-group label string-agg (DataAnalysis.py:118-123)
  * series_by      — A5+O3: per-key time series (DataAnalysis.py:142-165)
  * orphans        — J2: FK orphan check the reference only documents
                     (report §2; absence at DataIngesting.py:20-43)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import dec_avg


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """A3: the whole latest row per key (argmax by ``ts_col``).

    The reference sorts then takes ``.last()`` per group
    (DataAnalysis.py:108-109) — an arbitrary choice under timestamp ties, so
    we pin ``tiebreak`` (a unique column, descending) for deterministic
    results (SURVEY.md §4 decision 1).

    Physical plan: one hash shuffle on ``keys``, then an in-partition sort —
    no global sort. At scale prefer this over ``groupBy().agg(max_by)`` when
    you need *all* columns; max_by(struct) is equivalent and also one
    shuffle, but row_number + filter survives AQE skew-splitting better.
    """
    order = [F.col(ts_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def avg_by(
    df: DataFrame,
    keys: Sequence[str],
    val_col: str,
    alias: str = "avg_value",
    ndigits: int | None = None,
) -> DataFrame:
    """A1: average of ``val_col`` per key group.

    Uses exact-decimal accumulation (functions.scalars.dec_avg) so the
    result is independent of partition/summation order — reproducible on
    any cluster layout and bit-comparable to an external oracle. Partial
    aggregation (map-side combine) applies: the shuffle moves one partial
    sum per (partition, key), not the data.

    ``ndigits`` optionally rounds, matching the reference's ``round(x, 2)``
    (DataAnalysis.py:81).
    """
    out = dec_avg(val_col)
    if ndigits is not None:
        out = F.round(out, ndigits)
    return df.groupBy(*keys).agg(out.alias(alias))


def enrich_left(
    dim: DataFrame,
    fact: DataFrame,
    on: Column,
    broadcast_side: str = "auto",
) -> DataFrame:
    """J1: dimension LEFT JOIN fact — preserves dim rows with no fact match.

    The reference left-joins ~1.6k stations to latest prices on the driver
    (DataAnalysis.py:111-117); only ~47% of facts match, so the NULL path is
    the common case and must be preserved (SURVEY.md §1.4).

    Broadcast strategy: for dim ⟕ fact, broadcasting the *right* (fact)
    side keeps the join shuffle-free when the fact side is a small
    aggregate (latest-per-key output ≈ |keys|); at 100 TB with a huge fact
    side, broadcast the dim instead — but a LEFT join can only broadcast
    the right side (stream side must be the left), so at scale this becomes
    a shuffled hash join on the key, which AQE handles. ``broadcast_side``:
    'right' | 'none' | 'auto' (auto = let Catalyst/AQE decide using the
    autoBroadcastJoinThreshold).
    """
    right = F.broadcast(fact) if broadcast_side == "right" else fact
    return dim.join(right, on, "left")


def label_join_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    label_col: Column | str,
    sep: str = "<br>",
    alias: str = "info",
) -> DataFrame:
    """P5+A4: per-group concatenation of label strings.

    ``collect_list`` order is nondeterministic under parallelism, so we
    ``array_sort`` before joining (SURVEY.md §4 decision 2) — the
    reference's order is merge-row order, itself arbitrary
    (DataAnalysis.py:117-123). One hash shuffle on ``group_cols``; the
    label strings are built pre-shuffle so only (group, label) pairs move.
    """
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    return df.groupBy(*group_cols).agg(
        F.concat_ws(sep, F.array_sort(F.collect_list(label))).alias(alias)
    )


def series_by(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    val_cols: Sequence[str],
) -> DataFrame:
    """A5+O3: per-key time-ordered (ts, value) series.

    Returned as sorted detail rows (the reference's per-fueltype list
    grouping is presentational — DataAnalysis.py:145-158). The global sort
    is a range-partitioned exchange; at scale, prefer
    ``repartitionByRange(key).sortWithinPartitions`` if only per-key order
    matters, which this does by sorting on (key, ts).
    """
    cols = [*key_cols, ts_col, *val_cols]
    return df.select(*cols).orderBy(*key_cols, ts_col)


def windowed_stats(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    val_col: str,
    window: str = "1 day",
) -> DataFrame:
    """Tumbling-window aggregate (T7 beyond-parity): count / exact sum /
    exact avg per (window start, keys).

    Uses ``F.window`` so the identical expression runs under Structured
    Streaming with a watermark. One hash shuffle on (window, keys) with
    map-side partial aggregation; at scale the window column aligns with
    date partitioning so scans prune to the queried range.
    """
    from ..functions.scalars import dec_avg, dec_sum

    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(val_col, "sum_value"),
            dec_avg(val_col, "avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), *keys,
                "n_events", "sum_value", "avg_value")
    )


def sliding_stats(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    val_col: str,
    window: str = "7 days",
    slide: str = "1 day",
) -> DataFrame:
    """Sliding-window aggregate: each row contributes to window/slide
    overlapping windows (e.g. every 7-day window advancing daily).

    ``F.window(ts, window, slide)`` expands each row to its covering
    windows BEFORE the aggregation — a deliberate window/slide-factor raw
    fan-out that the partial (map-side) aggregation collapses to one row
    per (window, keys) per partition, so the shuffle carries aggregates,
    not the fan-out. Streaming-compatible: the same expression runs under
    a watermark, where it is the standard sliding-dashboard query. For
    very large window/slide ratios prefer aggregating to slide-grain
    first (see ``moving_avg_daily``'s daily pre-grain) — fan-out there is
    1, at the cost of a second shuffle.
    """
    from ..functions.scalars import dec_avg, dec_sum

    return (
        df.groupBy(F.window(F.col(ts_col), window, slide).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(val_col, "sum_value"),
            dec_avg(val_col, "avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), *keys,
                "n_events", "sum_value", "avg_value")
    )


def moving_avg_daily(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    val_col: str,
    days: int = 7,
) -> DataFrame:
    """Ranged moving-window trend per key: daily grain, an exact
    ``days``-day RANGE-framed moving average, and a day-over-day delta —
    the smoothed version of the reference's Q3 price-trend series
    (DataAnalysis.py:142-165, which plots the raw points).

    Physical shape: one groupBy shuffle to daily grain (map-side partial
    aggregation collapses the fact table before it moves), then ONE window
    pass over the tiny per-key daily series. The moving average is
    value-weighted (sum of decimal day-sums / sum of day-counts over the
    frame), so it is exact and order-independent; the RANGE frame keys on
    epoch seconds of the day, which are unique per partition, so ordering
    is deterministic without a tiebreak. At 100 TB the daily aggregate is
    a few-thousand-row frame per key — the window stage is negligible next
    to the scan.
    """
    from ..functions.scalars import _DEC

    day = F.date_trunc("DAY", F.col(ts_col))
    daily = df.groupBy(*keys, day.alias("day")).agg(
        F.sum(F.col(val_col).cast(_DEC)).alias("day_sum"),
        F.count(val_col).alias("n_values"),
    )
    epoch_day = F.unix_timestamp(F.col("day"))
    w_range = (
        Window.partitionBy(*keys)
        .orderBy(epoch_day)
        .rangeBetween(-(days - 1) * 86400, 0)
    )
    w_lag = Window.partitionBy(*keys).orderBy("day")
    day_avg = (F.col("day_sum").cast("double") / F.col("n_values")).alias(
        "day_avg"
    )
    mavg = (
        F.sum("day_sum").over(w_range).cast("double")
        / F.sum("n_values").over(w_range).cast("double")
    ).alias("mavg")
    ranged = daily.select(*keys, "day", day_avg, mavg)
    return ranged.select(
        *keys,
        "day",
        "day_avg",
        "mavg",
        (F.col("day_avg") - F.lag("day_avg").over(w_lag)).alias(
            "delta_prev"
        ),
    )


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: int = 30,
    tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the user's previous event exceeds ``gap_minutes``.

    lag + conditional cumsum over a per-user window — one hash shuffle on
    the user, in-partition sort; no self-join. Output: one row per
    session (user, session_id ordinal, n_events, session_start,
    session_end). The heavy-user skew case is AQE's problem only at the
    shuffle; state is bounded per user.
    """
    order = [F.col(ts_col)]
    if tiebreak:
        order.append(F.col(tiebreak))
    w = Window.partitionBy(user_col).orderBy(*order)
    gap_s = gap_minutes * 60
    prev = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev.isNull()
        | (
            F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev)
            > gap_s
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    with_sess = df.withColumn(
        "session_id", F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    )
    return with_sess.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )


def sessionize_window(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Session-window sessionization: ``F.session_window`` merges an event
    into the open session while its gap to the previous event is at most
    ``gap_minutes`` (windows merge when they touch: a new session starts
    only at gap > threshold — the same strict-> boundary as ``sessionize``,
    verified in tests/test_windows.py).

    The streaming-native variant of ``sessionize``: the identical
    expression runs under Structured Streaming with a watermark (append
    mode emits a session once the watermark passes its end), where the
    lag+cumsum form cannot — session-window state is merged incrementally
    by the state store instead of re-sorting a partition.
    Output: (user, session_start, session_end = last event + gap,
    n_events). One hash shuffle on the user with in-partition session
    merge; no ordinal session id (window start is the stable session key).
    """
    sw = F.session_window(F.col(ts_col), f"{gap_minutes} minutes")
    return (
        df.groupBy(F.col(user_col), sw.alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def pivot_counts(
    df: DataFrame, key_col: str, pivot_col: str, values: Sequence[str]
) -> DataFrame:
    """Wide per-key counts of an enum column (fixed value list so the
    output schema is static — required for streaming and for deterministic
    comparison). Single shuffle; each pivot value is a conditional count
    aggregate, all computed in one pass."""
    return df.groupBy(key_col).pivot(pivot_col, list(values)).agg(
        F.count(F.lit(1))
    ).na.fill(0, list(values))


def distinct_count_by(
    df: DataFrame, keys: Sequence[str], val_col: str
) -> DataFrame:
    """Exact COUNT(DISTINCT val) per key group. Spark plans this as a
    two-phase expand+agg (distinct on (keys, val), then count) — two
    shuffles; prefer approx_count_distinct at 100 TB when ±2% is fine."""
    return df.groupBy(*keys).agg(
        F.count_distinct(F.col(val_col)).alias("n_distinct")
    )


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    salt_from: str,
    buckets: int = 32,
) -> DataFrame:
    """EXACT per-group top-k that survives low-cardinality groups at scale.

    A plain ``row_number() OVER (PARTITION BY group)`` funnels every row of
    a group through ONE task's sort — with a handful of groups over 100 TB
    that is the job's bottleneck. Instead, two stages:

      1. local top-k per (group, salt) where salt = pmod(hash(salt_from),
         buckets) — ``buckets`` parallel sorts of ~1/buckets of the data;
      2. global top-k per group over the <= buckets*k stage-1 survivors.

    Exactness: every global top-k row is by definition within the local
    top-k of whatever salt bucket it hashed into, so stage 1 never drops a
    final answer. Salt derives from a deterministic hash of ``salt_from``
    (a row-unique column), never from rand() — results are reproducible
    across runs and partition layouts. ``rank`` is the dense 1..k order by
    ``order_cols`` (pin a unique tiebreak column there for determinism).
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.hash(F.col(salt_from)), F.lit(buckets))
    )
    w_local = Window.partitionBy(*group_cols, "__salt").orderBy(*order_cols)
    survivors = (
        salted.withColumn("__rn", F.row_number().over(w_local))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    w_global = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        survivors.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
    )


def orphans(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """J2: fact rows with no matching dimension row (FK violation report).

    The reference *documents* the FK but never enforces it (report §2;
    DataIngesting.py:20-43 has no FOREIGN KEY clause; 47% of its real data
    violates it). LEFT ANTI join: at scale the dim key set broadcasts
    (an anti join CAN broadcast its right side), so this is shuffle-free
    when the dimension fits the broadcast threshold.
    """
    return fact.join(
        dim, fact[fact_key] == dim[dim_key], "left_anti"
    )
