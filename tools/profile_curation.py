"""Per-stage timing breakdown for q_corpus_curation_pipeline.

The stages are NOT reconstructed here: the production builder exposes a
``stage_cb(name, thunk)`` seam, and this tool passes a hook that runs each
thunk, materializes the resulting frame (noop write), and clocks it — so
the numbers are for EXACTLY the plan the registry ships, persists and all.
A drift between this tool and the pipeline is impossible by construction.
The stage keys keep the pipeline's numbering, which skips 4: stage
``6_shingle_sets`` builds each document's shingle set row-local from the
stage-3 survivors, with no separate shingle-explosion stage before it.
Between stages 9 and 10 the pipeline publishes its stage-9 survivor table
(one write per corpus, a cache hit on later reps); no stage clock includes
it.

Prints one JSON object of stage -> sec (min-of-N, default 2, per the
host-variance policy), plus a final full-pipeline materialization time.

Usage: python tools/profile_curation.py [sf_dir] [n_reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame

from comp5339dataengineering_realtimefuelanalysis_spark.session import get_spark
from comp5339dataengineering_realtimefuelanalysis_spark.functions.caching import release_tracked
from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry_llm import (
    q_corpus_curation_pipeline,
)


def _mat(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_once(spark, sf_dir: str) -> dict[str, float]:
    stages: dict[str, float] = {}

    def clock(name: str, thunk):
        t0 = time.perf_counter()
        out = thunk()
        if isinstance(out, DataFrame):
            _mat(out)
        stages[name] = round(time.perf_counter() - t0, 3)
        return out

    manifest = q_corpus_curation_pipeline(spark, sf_dir, stage_cb=clock)
    # the per-stage clocks above already materialized every intermediate;
    # one more end-to-end materialization shows the incremental cost of
    # the final composed plan over its cached inputs
    t0 = time.perf_counter()
    _mat(manifest)
    stages["final_rerun_cached"] = round(time.perf_counter() - t0, 3)
    stages["total"] = round(sum(stages.values()), 3)
    return stages


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark("profile_curation")
    spark.sparkContext.setLogLevel("ERROR")
    best: dict[str, float] = {}
    for _ in range(reps):
        stages = run_once(spark, sf_dir)
        release_tracked()
        for k, v in stages.items():
            best[k] = min(best.get(k, v), v)
    print(json.dumps(best, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
