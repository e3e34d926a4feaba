"""Record r8-equivalent calibration floors for the r19 probe set.

The r18 at-rest memoisation turned two of the three CALIBRATION_REFS
probes (doc_lsh_verified_pairs, doc_dedup_clusters) into warm parquet
reads, so their round-8 floors no longer measured the probed work and
cal_factor collapsed (1.2964 -> 0.3854; VERDICT r18 #1). The r19 probe
set replaces them with CACHE-FREE queries of the same taxonomy:

  avg_by_type        short single-shuffle agg   (kept; r8 floor 0.1845)
  doc_contamination  shuffle-heavy inverted-index join
  emb_kmeans_train   long many-job iterative Lloyd chain

This tool records the new probes' floors CHAINED through the unchanged
probe: in one quiet epoch it measures min-of-N for all three, computes
this epoch's drift ratio from avg_by_type (min_now / 0.1845), and
back-casts each new probe's floor = min_now / drift. The floors are
therefore expressed in r8-host-epoch terms and the cal_factor keeps its
cross-round meaning. Runs are interleaved (probe order rotates per
round) so a steal burst cannot inflate one probe's whole sample.

Usage:  python tools/record_cal_floors.py [n_rounds=5]
Prints a JSON blob; paste the floors into bench.py CALIBRATION_REFS
(the mean over epochs) and their spread into CALIBRATION_FLOOR_BANDS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from comp5339dataengineering_realtimefuelanalysis_spark.session import get_spark
from comp5339dataengineering_realtimefuelanalysis_spark.functions.caching import (
    release_tracked,
)
from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import (
    REGISTRY,
)

PROBES = ("avg_by_type", "doc_contamination", "emb_kmeans_train")
AVG_BY_TYPE_R8_FLOOR = 0.1845


def _steal() -> tuple[int, int] | None:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except Exception:  # noqa: BLE001
        return None


def main() -> None:
    n_rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("record_cal_floors")
    spark.sparkContext.setLogLevel("ERROR")

    # JIT/codegen warm-up at the smallest sf, mirroring bench.py
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm):
        for name in PROBES:
            try:
                REGISTRY[name].fn(spark, warm).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:  # noqa: BLE001
                pass
            release_tracked()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    runs: dict[str, list[float]] = {n: [] for n in PROBES}
    s0 = _steal()
    for r in range(n_rounds):
        order = PROBES[r % len(PROBES):] + PROBES[: r % len(PROBES)]
        for name in order:
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs[name].append(round(time.perf_counter() - t0, 4))
            release_tracked()
    s1 = _steal()
    steal_pct = None
    if s0 and s1 and s1[1] > s0[1]:
        steal_pct = round(100.0 * (s1[0] - s0[0]) / (s1[1] - s0[1]), 2)

    mins = {n: min(v) for n, v in runs.items()}
    drift = mins["avg_by_type"] / AVG_BY_TYPE_R8_FLOOR
    floors = {
        n: round(mins[n] / drift, 4)
        for n in PROBES
        if n != "avg_by_type"
    }
    print(
        json.dumps(
            {
                "runs": runs,
                "mins": mins,
                "epoch_drift_vs_r8": round(drift, 4),
                "steal_pct": steal_pct,
                "floors_r8_equivalent": floors,
            },
            indent=1,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
