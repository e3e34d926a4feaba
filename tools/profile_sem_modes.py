"""Measure the 1L/2L semantic-dedup crossover: the curation pipeline
switches from single-level to two-level blocking above
_SEM_MODE_CROSSOVER stage-9 survivors.

Round 9 set that constant to 2_000_000 from a curve fit whose last
measured rung was 150k docs — a constant extrapolated 13x past its
evidence. Round 11's rungs from this tool (150k and 500k docs) put no
wall-clock crossover in any locally attestable range, so the constant is
now 10_000_000, set by the pair-volume argument recorded beside it in
plans/registry_llm.py. This tool times BOTH branches end-to-end through
the exact production builder (plans/registry_llm._semantic_drop_ids —
embed -> block -> pair-score -> connected components -> drop ids) on a given
corpus, so a >=500k-doc rung turns the extrapolation into a
measurement. The embed materialization is shared between the two modes
(_text_emb_for keyed by corpus), mirroring the pipeline, so the timed
delta is the blocking+scoring work the modes actually disagree on.

Usage:
    python tools/profile_sem_modes.py [--corpus /tmp/scale_bench/x100]
        [--passes 2] [--json SCALE_MEASURED.json]

Merges per-corpus rows into the artifact's "sem_mode_crossover" block:
{corpus, n_docs, one_l: {runs, sec, drops}, two_l: {runs, sec, drops},
 ratio}. Pass --corpus repeatedly for several rungs in one session.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", action="append", required=True)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument(
        "--json",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALE_MEASURED.json",
        ),
    )
    args = ap.parse_args()

    from comp5339dataengineering_realtimefuelanalysis_spark.session import get_spark
    from comp5339dataengineering_realtimefuelanalysis_spark.functions.caching import (
        release_tracked,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    spark = get_spark("profile_sem_modes")
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    if os.path.exists(args.json):
        with open(args.json) as f:
            results = json.load(f)
    block = results.setdefault("sem_mode_crossover", {})

    for corpus in args.corpus:
        # warm the shared embed materialization OUTSIDE the timed runs:
        # the pipeline pays it once regardless of mode, and including a
        # one-time parquet write in one mode's first pass would skew
        # min-of-N toward whichever mode ran second
        docs = rl._docs_parallel(spark, corpus)
        sem_docs = docs.select("doc_id", "text")
        rl._text_emb_for(spark, corpus).count()
        n = docs.count()
        row: dict = {"corpus": corpus, "n_docs": n, "passes": args.passes}
        for mode, key in (("1l", "one_l"), ("2l", "two_l")):
            runs: list[float] = []
            drops = None
            for _ in range(args.passes):
                t0 = time.perf_counter()
                drop = rl._semantic_drop_ids(sem_docs, sem_mode=mode)
                drops = drop.count()
                runs.append(round(time.perf_counter() - t0, 2))
                release_tracked()
                print(
                    f"[{corpus}] {mode}: {runs[-1]}s drops={drops}",
                    file=sys.stderr, flush=True,
                )
            row[key] = {"runs": runs, "sec": min(runs), "drops": drops}
        row["ratio_2l_over_1l"] = round(
            row["two_l"]["sec"] / row["one_l"]["sec"], 3
        )
        block[f"n{n}"] = row
        with open(args.json, "w") as f:
            json.dump(results, f, indent=1)

    print(json.dumps({"written": args.json,
                      "rungs": sorted(block)}))
    spark.stop()


if __name__ == "__main__":
    main()
