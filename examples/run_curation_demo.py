"""End-to-end LLM-training-data curation demo: the batch curation
pipeline over the documents table, then the STREAMING incremental-dedup
topology admitting micro-batches against the growing silver corpus.

Run: python examples/run_curation_demo.py [sf_dir] [workdir]
(defaults: /root/testdata/sf0.001, a temp dir)

Batch flow (one composed plan, oracle-gated as
``corpus_curation_pipeline``): held-out split -> profile (lang-ID +
quality) -> gate -> exact dedup -> LSH+verified near-dup clusters ->
contamination screen -> stratified sample -> packed training sequences.

Streaming flow: three availableNow micro-batches through
``StreamingIncrementalDedup`` — within-batch exact + near dedup, then
exact, banded-LSH (silver's stored band keys), and embedding-space
SEMANTIC screens (a k-means-cell index at rest) against everything
previously admitted, exactly-once across restarts.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F

from comp5339dataengineering_realtimefuelanalysis_spark.session import get_spark
from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import (
    REGISTRY,
)
from comp5339dataengineering_realtimefuelanalysis_spark.streaming.incremental_dedup import (  # noqa: E501
    StreamingIncrementalDedup,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    workdir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(
        prefix="curation_demo_"
    )
    spark = get_spark("curation-demo")
    spark.sparkContext.setLogLevel("ERROR")

    print(f"== corpus profile (lang-ID + quality, {sf_dir}) ==")
    REGISTRY["corpus_prep_summary"].fn(spark, sf_dir).show(truncate=False)

    print("== sampled training mix by (lang, source) — head ==")
    REGISTRY["doc_mix_report"].fn(spark, sf_dir).orderBy(
        F.desc("n_docs")
    ).show(5, truncate=False)

    print("== composed curation pipeline -> packed training sequences ==")
    REGISTRY["corpus_curation_pipeline"].fn(spark, sf_dir).orderBy(
        "seq_id"
    ).show(truncate=False)

    print("== streaming incremental dedup: 3 micro-batches ==")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    dedup = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=os.path.join(workdir, "landing"),
        silver_path=os.path.join(workdir, "silver"),
        checkpoint_dir=os.path.join(workdir, "chk"),
        schema=DOC_SCHEMA,
        sem_index_path=os.path.join(workdir, "semidx"),
    )
    os.makedirs(dedup.landing_dir, exist_ok=True)
    per = n // 3
    admitted_prev = 0
    for e in range(3):
        lo = e * per
        hi = n if e == 2 else (e + 1) * per
        (
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(dedup.landing_dir)
        )
        q = dedup.start(available_now=True)
        q.awaitTermination(300)
        admitted = spark.read.parquet(dedup.silver_path).count()
        print(
            f"  epoch {e}: {hi - lo} docs in -> "
            f"{admitted - admitted_prev} admitted "
            f"({hi - lo - (admitted - admitted_prev)} rejected as "
            f"duplicates); silver total {admitted}"
        )
        admitted_prev = admitted

    print("\nsilver corpus columns (stored band_keys keep future "
          "screening free of corpus text processing):")
    print(" ", spark.read.parquet(dedup.silver_path).columns)
    print("at-rest semantic index cells =",
          spark.read.parquet(os.path.join(workdir, "semidx", "index"))
          .select("cell").distinct().count())
    spark.stop()


if __name__ == "__main__":
    main()
