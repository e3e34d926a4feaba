"""Capture .explain("formatted") output for registry queries to files.

Usage: python tools/capture_plans.py <out_dir> <tag> [query ...]

Writes <out_dir>/<query>_<tag>.txt for each named query (all queries when
none are named). The judge reads these to verify plan-shape claims
(Exchange count, join strategy, PushedFilters, BatchEvalPython nodes), so
the capture is the plan Spark would execute for the bench's sf dir
($SPARK_GRAFT_SF_DIR, default sf0.1) — built, not run. One exception:
every k-means-family query (kmeans step/train, the IVF k-means, PQ and
SQ8 indexes, semantic dedup) runs its centroid jobs while its plan is
built, because the centroid-assignment kernel collects the k centroids
eagerly (operators/similarity.py:_np_assign_frame); the captured plan
is the final assignment over those collected centroids.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from comp5339dataengineering_realtimefuelanalysis_spark.session import get_spark
from comp5339dataengineering_realtimefuelanalysis_spark.functions.caching import (
    release_tracked,
)
from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import (
    REGISTRY,
)


def main() -> None:
    out_dir = sys.argv[1]
    tag = sys.argv[2]
    names = sys.argv[3:] or list(REGISTRY)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        qd = REGISTRY[name]
        try:
            df = qd.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — capture the failure
            plan = f"PLAN CAPTURE FAILED: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        release_tracked()
        print(f"captured {name}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
