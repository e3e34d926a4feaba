"""Shared plumbing for query registries: the QueryDef contract and the
driver-table loader."""

from __future__ import annotations

import os

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    fn: QueryFn
    oracle: str | None
    tables: tuple[str, ...] = ()
    doc: str = ""


# Columns written as parquet TIMESTAMP(NANOS) (pandas default); read as
# long under spark.sql.legacy.parquet.nanosAsLong and converted losslessly
# (integer `div 1000` — float division would lose precision at 1e18 nanos).
_TS_NS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

# (sf_dir, name, size, floor) -> "this scan has too few splits" (see
# the single-split recovery note in load_table)
_FEW_SPLITS: dict[tuple, bool] = {}


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    recover_parallelism: bool = True,
) -> DataFrame:
    # Runtime-set (not only in session.get_spark) because the caller — the
    # driver harness — may hand us a vanilla SparkSession; without this flag
    # Spark refuses TIMESTAMP(NANOS) parquet outright (PARQUET_TYPE_ILLEGAL).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Parquet/DuckDB timestamps are naive; pin the session to UTC so Spark's
    # session-TZ rendering can't shift values on a non-UTC driver machine.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Bound plan-string rendering (default ~2^31 chars): the composed
    # curation pipeline's lineage prints shared subplans once PER
    # REFERENCE, so the EXPLAIN/log string (not the plan itself) grows
    # multiplicatively with stages — measured java.lang.OutOfMemoryError
    # inside StringConcat.append while localCheckpoint stringified the
    # inline-2l pipeline plan. Truncation affects logs/UI text only,
    # never execution. Runtime-set for the same reason as the flags
    # above: the driver may hand us a vanilla session.
    spark.conf.set("spark.sql.maxPlanStringLength", str(1024 * 1024))
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _TS_NS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(c)
        if dtype == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        elif dtype in ("timestamp_ntz", "date"):
            # Fixtures have changed encoding between rounds once already
            # (TIMESTAMP(NANOS) -> TIMESTAMP_MICROS(isAdjustedToUTC=0),
            # which Spark reads as TIMESTAMP_NTZ). Normalize every
            # declared ts column to TIMESTAMP so type-strict functions
            # (unix_micros) resolve regardless of the parquet encoding.
            # Lossless: the session TZ is pinned to UTC above, so
            # wall-clock values are unchanged (DATE -> midnight UTC).
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    # Single-split recovery (r18; optimization guide §2.5 "input skew:
    # one huge unsplittable file"). Each test table is ONE parquet row
    # group, so the scan is ONE input partition and the whole map side
    # of every consumer (the 8-decimal-aggregate pricing summary, the
    # fact-side of every join) runs on a single core — measured 2.0 s
    # -> 0.4 s on pricing_summary at sf0.1. One cheap round-robin
    # shuffle recovers the session parallelism. Both guards derive
    # from the INPUT, not from the local core count: a table bigger
    # than one split on a real cluster arrives with scan parallelism
    # >= the floor and is left untouched, and tiny dimension tables
    # (region, nation, part) stay single-partition broadcast fodder.
    # r19: recover_parallelism=False lets SCAN-LIGHT consumers keep the
    # single-partition scan. The r18 bench showed the recovery shuffle is
    # pure overhead for queries whose map side is a trivial filter/project
    # feeding an immediate aggregation or join exchange (filtered_revenue
    # 0.2 -> 0.5 s, order_priority_count 0.7 -> 1.2 s), while map-heavy
    # consumers (pricing_summary's 8-decimal partial agg) keep the win.
    # The choice is per-consumer because the loader cannot see downstream
    # cost; results are identical either way (row order only).
    min_useful = max(2, spark.sparkContext.defaultParallelism // 2)
    try:
        sz = os.stat(f"{sf_dir}/{name}.parquet").st_size
    except OSError:
        sz = 0
    if recover_parallelism and sz > 2 * 1024 * 1024:
        # memoized split probe: the rdd conversion costs ~10 ms per
        # call and the answer is constant per (file state, session
        # parallelism) — registry queries load the same table many
        # times per process
        key = (sf_dir, name, sz, min_useful)
        few = _FEW_SPLITS.get(key)
        if few is None:
            few = df.rdd.getNumPartitions() < min_useful
            _FEW_SPLITS[key] = few
        if few:
            # hash-repartition on a DETERMINISTIC derived key, not
            # round-robin: keyless repartition pays a local sort of
            # the input (sortBeforeRepartition — measured 1.34 s vs
            # 0.73 s on the sf0.1 lineitem scan) so retried tasks
            # reproduce their row-to-partition map; a hash of row
            # content is deterministic under retry by construction
            # (guide §2.5) and needs no sort. r19: hash only the FIRST
            # column — every table leads with a high-cardinality key
            # (l_orderkey, o_orderkey, event_id, doc_id, vec_id), so
            # one column spreads as evenly as all of them at a
            # fraction of the map-side hashing CPU.
            # Pinned by tests/test_registry.py::test_leading_column_is_high_cardinality.
            df = df.repartition(
                spark.sparkContext.defaultParallelism,
                F.xxhash64(F.col(df.columns[0])),
            )
    return df
