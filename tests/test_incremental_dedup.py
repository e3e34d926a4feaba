"""Streaming incremental corpus dedup (streaming/incremental_dedup.py):
micro-batches screened against the accumulated silver corpus, exactly once
across restarts (each phase below is a separate StreamingQuery sharing one
checkpoint, i.e. a restart)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from comp5339dataengineering_realtimefuelanalysis_spark.streaming.incremental_dedup import (
    _SEM_PROBES,
    StreamingIncrementalDedup,
)

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "startled pheasants scatter across the frozen meadow toward the "
    "old stone bridge at the edge of the village"
)
NEAR = BASE.replace("frozen", "sunlit")  # one-word edit: jaccard >> 0.6
OTHER = (
    "completely different content about distributed query engines and "
    "the economics of shuffling a hundred terabytes of shingled text "
    "through a thousand executors before breakfast"
)
NEAR_OTHER = OTHER.replace("breakfast", "midnight")
THIRD = (
    "a third unrelated document enumerating the seven canonical ways "
    "a partition strategy fails at scale and the one weird trick that "
    "keeps the bucket join honest under adversarial boilerplate"
)
PAIR_A = (
    "within batch twin number one sharing nearly every character "
    "five gram with its sibling except for this single distinguishing "
    "token planted near the very end of the document alpha"
)
PAIR_B = PAIR_A.replace("alpha", "omega")


@pytest.fixture()
def dedup(spark, tmp_path):
    return StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing"),
        silver_path=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "chk"),
        schema=SCHEMA,
    )


def _land(spark, dedup, rows):
    (
        spark.createDataFrame(rows, SCHEMA)
        .coalesce(1)
        .write.mode("append")
        .parquet(dedup.landing_dir)
    )


def _run(dedup):
    q = dedup.start(available_now=True)
    q.awaitTermination(120)
    assert not q.isActive


def _silver_ids(spark, dedup):
    try:
        return {
            r.doc_id
            for r in spark.read.parquet(dedup.silver_path)
            .select("doc_id")
            .collect()
        }
    except Exception:
        return set()


def test_incremental_dedup_across_batches_and_restart(spark, dedup):
    # batch 1: exact within-batch dup (2 copies BASE) + one distinct
    _land(
        spark,
        dedup,
        [(1, BASE), (2, BASE), (3, OTHER)],
    )
    _run(dedup)
    assert _silver_ids(spark, dedup) == {1, 3}

    # batch 2 (restart #1): near-dup of an ADMITTED doc (4~BASE), a
    # re-delivered id+content (1), and a genuinely new doc (5)
    _land(
        spark,
        dedup,
        [(4, NEAR), (1, BASE), (5, THIRD)],
    )
    _run(dedup)
    assert _silver_ids(spark, dedup) == {1, 3, 5}

    # batch 3 (restart #2): within-batch near-dup pair (6, 7) -> min id
    # kept; near-dup of corpus doc 3 (8) dropped
    _land(
        spark,
        dedup,
        [(6, PAIR_A), (7, PAIR_B), (8, NEAR_OTHER)],
    )
    _run(dedup)
    assert _silver_ids(spark, dedup) == {1, 3, 5, 6}

    # restart #3 with NO new data: checkpointed offsets mean nothing is
    # reprocessed and nothing is re-admitted
    _run(dedup)
    assert _silver_ids(spark, dedup) == {1, 3, 5, 6}

    # each admission epoch kept its own partition (replay isolation)
    silver = spark.read.parquet(dedup.silver_path)
    by_epoch = {
        r.ingest_epoch: r.ids
        for r in silver.groupBy("ingest_epoch")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .collect()
    }
    assert sorted(by_epoch.values()) == [[1, 3], [5], [6]]


def test_epoch_replay_is_idempotent(spark, dedup):
    """Simulate a failed-then-replayed epoch: run the sink for the same
    epoch id twice (the second time with the first attempt's output
    already in silver). The replay must converge to the same silver
    state — the corpus read excludes the in-flight epoch and the write
    overwrites that epoch's partition."""
    _land(spark, dedup, [(1, BASE), (2, OTHER)])
    _run(dedup)
    assert _silver_ids(spark, dedup) == {1, 2}

    batch = spark.createDataFrame([(3, NEAR), (4, THIRD)], SCHEMA)
    dedup._sink(batch, epoch_id=99)
    assert _silver_ids(spark, dedup) == {1, 2, 4}
    # replay of epoch 99 (e.g. failure after a partial write): same input,
    # same pre-epoch corpus -> byte-identical survivors, no duplication
    dedup._sink(batch, epoch_id=99)
    assert _silver_ids(spark, dedup) == {1, 2, 4}
    silver = spark.read.parquet(dedup.silver_path)
    assert silver.filter("ingest_epoch = 99").count() == 1


def test_stored_band_keys_match_recomputed(spark, dedup):
    """Silver's stored band_keys must equal a fresh recomputation — they
    are what future batches join against."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import dedup as dd

    _land(spark, dedup, [(1, BASE), (3, OTHER)])
    _run(dedup)
    silver = spark.read.parquet(dedup.silver_path)
    fresh = dd.minhash_band_keys(
        silver.select("doc_id", "text"), "text", "doc_id"
    ).withColumnRenamed("band_keys", "fresh_keys")
    joined = silver.select("doc_id", "band_keys").join(
        fresh.select("doc_id", "fresh_keys"), "doc_id"
    )
    assert joined.filter(F.col("band_keys") != F.col("fresh_keys")).count() == 0
    assert joined.count() == 2


def test_corpus_screen_plan_never_shuffles_corpus(spark, dedup):
    """The scale contract of the per-batch corpus screens, pinned at the
    PLAN level (wall-clock at test size proves nothing): the corpus side
    of the exact screens and of the pruned LSH join must reach its join
    as a broadcast-hash build/probe — never through an Exchange
    (hashpartitioning) of corpus rows, which would shuffle the whole
    accumulated corpus every micro-batch."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import dedup as dd

    _land(spark, dedup, [(i, f"{BASE} tail {i}") for i in range(1, 9)])
    _run(dedup)
    corpus = spark.read.parquet(dedup.silver_path)
    batch = dd.dedup_exact(
        spark.createDataFrame([(100, OTHER), (101, THIRD)], SCHEMA),
        "text",
        "doc_id",
    ).filter(F.col("is_canonical")).drop("canonical_id", "is_canonical")

    # exact screens, as _sink builds them
    b = batch
    for key in ("doc_id", "content_hash"):
        hits = corpus.select(key).join(
            F.broadcast(b.select(key).distinct()), key, "semi"
        )
        b = b.join(F.broadcast(hits), key, "left_anti")
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan

    # pruned asymmetric LSH join: corpus side must not be exchanged
    # before the candidate join either (the bucket-cap aggregation runs
    # on the broadcast-pruned touched buckets only)
    bk = dd.minhash_band_keys(batch, "text", "doc_id")
    cands = dd.minhash_lsh_join(
        batch,
        corpus,
        "text",
        "doc_id",
        max_bucket=1000,
        left_banded_df=dd.banded_from_keys(bk, "doc_id"),
        right_banded_df=dd.banded_from_keys(corpus, "doc_id"),
        prune_right=True,
    )
    plan = cands._jdf.queryExecution().executedPlan().toString()
    # the only sort-merge/shuffle allowed is over the (tiny) pruned
    # bucket set; the corpus scan itself must feed a broadcast semi join
    assert "BroadcastHashJoin" in plan

    # and prune_right must not change results vs the unpruned join
    plain = dd.minhash_lsh_join(
        batch,
        corpus,
        "text",
        "doc_id",
        max_bucket=1000,
        left_banded_df=dd.banded_from_keys(bk, "doc_id"),
        right_banded_df=dd.banded_from_keys(corpus, "doc_id"),
    )
    assert sorted(map(tuple, cands.collect())) == sorted(
        map(tuple, plain.collect())
    )


# rephrasings: same topic/vocabulary core with synonym swaps + clause
# reorder — char-5-gram Jaccard BELOW the 0.6 shingle threshold (the
# LSH+verify screen passes them) while hashing-trick cosine stays high
# (the semantic screen's territory). Each test asserts this geometry
# before relying on it.
SEM_REPH = (
    "seventeen startled pheasants dash across the icy meadow "
    "while the swift brown fox leaps over the sleepy dog toward the "
    "old rock bridge at the border of the village"
)
NEWT = (
    "the committee approved the annual budget for the coastal railway "
    "extension after a long debate over funding priorities and "
    "construction timelines in the northern district"
)
NEWT_REPH = (
    "after a lengthy debate over funding priorities the committee "
    "endorsed the yearly budget for the coastal railway expansion and "
    "construction schedules in the northern region"
)
SEM_THRESHOLD = 0.6


def _geometry(spark, a, b):
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import dedup as dd
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import text as tx

    df = spark.createDataFrame([(1, a), (2, b)], SCHEMA)
    vecs = {r.doc_id: r.embedding for r in tx.embed_text(df).collect()}
    cos = sum(x * y for x, y in zip(vecs[1], vecs[2]))
    sh = {}
    for r in dd.shingles(df, n=5).collect():
        sh.setdefault(r.doc_id, set()).add(r.shingle)
    jac = len(sh[1] & sh[2]) / len(sh[1] | sh[2])
    return cos, jac


def _sem_dedup(spark, root, with_sem=True):
    return StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(root / "landing"),
        silver_path=str(root / "silver"),
        checkpoint_dir=str(root / "chk"),
        schema=SCHEMA,
        sem_index_path=(str(root / "semidx") if with_sem else None),
        sem_threshold=SEM_THRESHOLD,
    )


def test_semantic_index_with_string_id_column(spark, tmp_path):
    """The semantic index read schema derives the id and cell types from
    the configured landing schema — a STRING doc id corpus must screen
    correctly through the at-rest index (a pinned-long read would
    misparse non-long ids)."""
    sschema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("text", StringType()),
        ]
    )
    d = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing"),
        silver_path=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "chk"),
        schema=sschema,
        sem_index_path=str(tmp_path / "semidx"),
        sem_threshold=SEM_THRESHOLD,
    )
    b1 = spark.createDataFrame([("a-1", BASE), ("a-2", OTHER)], sschema)
    d._sink(b1, epoch_id=0)
    # second epoch reads the index written by the first: the rephrase
    # of BASE (below the shingle threshold) must be rejected via the
    # semantic corpus screen
    b2 = spark.createDataFrame([("b-1", SEM_REPH), ("b-2", THIRD)], sschema)
    d._sink(b2, epoch_id=1)
    ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "silver"))
        .select("doc_id")
        .collect()
    }
    assert ids == {"a-1", "a-2", "b-2"}


def test_near_dup_screen_with_string_ids(spark, tmp_path, monkeypatch):
    """The exact-Jaccard verify takes its shingle sets from the
    row-local dd.shingle_sets builder, keyed by a STRING doc id: a
    near-dup of a corpus doc and the larger id of a within-batch twin
    pair are dropped, the rest admitted (PII scrub on, so the sets are
    built over the scrubbed text)."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import dedup as dd

    sschema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("text", StringType()),
        ]
    )
    built = []
    real = dd.shingle_sets

    def spy(*args, **kwargs):
        built.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(dd, "shingle_sets", spy)
    d = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing"),
        silver_path=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "chk"),
        schema=sschema,
        pii_scrub=True,
    )
    d._sink(
        spark.createDataFrame([("a-1", BASE), ("a-2", OTHER)], sschema),
        epoch_id=0,
    )
    d._sink(
        spark.createDataFrame(
            [("b-1", NEAR), ("b-2", THIRD), ("b-3", PAIR_A), ("b-4", PAIR_B)],
            sschema,
        ),
        epoch_id=1,
    )
    ids = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "silver"))
        .select("doc_id")
        .collect()
    }
    assert ids == {"a-1", "a-2", "b-2", "b-3"}
    assert built


def test_semantic_screen_rejects_rephrased_dups(spark, tmp_path):
    """Three batches + restarts: a REPHRASED duplicate (below the
    shingle threshold, above the cosine threshold) must be rejected by
    the semantic screen vs the corpus, a same-batch rephrase pair keeps
    its min id, and a replayed epoch converges. A parallel shingle-only
    topology ADMITS the rephrase — proving the semantic screen, not the
    LSH screen, is what caught it."""
    cos, jac = _geometry(spark, BASE, SEM_REPH)
    assert cos >= SEM_THRESHOLD and jac < 0.6, (cos, jac)
    cos2, jac2 = _geometry(spark, NEWT, NEWT_REPH)
    assert cos2 >= SEM_THRESHOLD and jac2 < 0.6, (cos2, jac2)

    d = _sem_dedup(spark, tmp_path)
    batches = [
        [(1, BASE), (2, OTHER)],            # trains + pins centroids
        [(10, SEM_REPH), (11, THIRD)],      # 10 = rephrase of corpus 1
        [(20, NEWT), (21, NEWT_REPH)],      # within-batch rephrase pair
    ]
    for rows in batches:
        _land(spark, d, rows)
        _run(d)
    assert _silver_ids(spark, d) == {1, 2, 11, 20}

    # the semantic index covers exactly the admitted docs (rows
    # materialized NOW — the replay below rewrites the files and a lazy
    # frame would hold a stale listing)
    idx_rows = sorted(
        map(
            tuple,
            spark.read.parquet(str(tmp_path / "semidx" / "index")).collect(),
        )
    )
    assert {t[0] for t in idx_rows} == {1, 2, 11, 20}

    # replay of the last epoch converges byte-identically
    silver = spark.read.parquet(str(tmp_path / "silver"))
    last_epoch = silver.agg(F.max("ingest_epoch")).first()[0]
    d2 = _sem_dedup(spark, tmp_path)
    d2._sink(spark.createDataFrame(batches[-1], SCHEMA), epoch_id=last_epoch)
    assert _silver_ids(spark, d2) == {1, 2, 11, 20}
    idx2_rows = sorted(
        map(
            tuple,
            spark.read.parquet(str(tmp_path / "semidx" / "index")).collect(),
        )
    )
    assert idx2_rows == idx_rows

    # control: shingle-only topology admits both rephrases
    plain = _sem_dedup(spark, tmp_path / "plain", with_sem=False)
    for rows in batches:
        _land(spark, plain, rows)
        _run(plain)
    assert _silver_ids(spark, plain) == {1, 2, 10, 11, 20, 21}


def test_semantic_screen_plan_prunes_and_broadcasts(spark, tmp_path):
    """Scale contract of the semantic corpus screen, pinned at the plan
    level: the at-rest index joins against the BROADCAST probe frame
    (no Exchange of index rows) and the scan is dynamically partition-
    pruned to the probed cells."""
    d = _sem_dedup(spark, tmp_path)
    _land(spark, d, [(1, BASE), (2, OTHER), (3, THIRD)])
    _run(d)

    batch = spark.createDataFrame([(100, NEWT)], SCHEMA)
    scaled = d._embed_scaled(batch)
    cents = d._sem_centroids(
        spark, batch.sparkSession.read.parquet(
            str(tmp_path / "semidx" / "centroids")
        ).limit(0)  # never retrains: pinned file exists
    )
    probed = d._nearest_cells(scaled, cents, probes=_SEM_PROBES)
    idx = d._read_sem_index(spark, exclude_epoch=999)
    joined = idx.join(
        F.broadcast(
            probed.select(
                F.col("doc_id").alias("probe_id"), "q_svec", "q_norm", "cell"
            )
        ),
        "cell",
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "dynamicpruning" in plan.lower(), plan


def test_semantic_coverage_guard_and_backfill(spark, tmp_path):
    """Enabling sem_index_path over a corpus admitted WITHOUT it must
    refuse to screen until backfill_sem_index builds the missing
    epochs — after which rephrases of PRE-INDEX admissions are caught."""
    plain = _sem_dedup(spark, tmp_path, with_sem=False)
    _land(spark, plain, [(1, BASE), (2, OTHER)])
    _run(plain)
    assert _silver_ids(spark, plain) == {1, 2}

    sem = _sem_dedup(spark, tmp_path)
    later = spark.createDataFrame([(10, SEM_REPH)], SCHEMA)
    with pytest.raises(RuntimeError, match="backfill_sem_index"):
        sem._sink(later, epoch_id=7)

    n = sem.backfill_sem_index(spark)
    assert n >= 1
    sem._sink(later, epoch_id=7)
    # 10 is a rephrase of pre-index doc 1: rejected via backfilled index
    assert _silver_ids(spark, sem) == {1, 2}


def test_sem_centroid_loss_with_populated_index_raises(spark, tmp_path):
    """A missing/torn centroid file while the at-rest cell index holds
    admitted rows must RAISE, never retrain: centroids trained on a
    later batch re-cell the blocking, so the screen's join on 'cell'
    would silently miss the existing index and re-admit rephrases. The
    convergent-retrain path is only sound while the index is empty."""
    import shutil

    d = _sem_dedup(spark, tmp_path)
    _land(spark, d, [(1, BASE), (2, OTHER)])
    _run(d)
    assert _silver_ids(spark, d) == {1, 2}

    shutil.rmtree(str(tmp_path / "semidx" / "centroids"))
    d2 = _sem_dedup(spark, tmp_path)
    with pytest.raises(RuntimeError, match="centroids are missing"):
        d2._sink(
            spark.createDataFrame([(10, SEM_REPH)], SCHEMA), epoch_id=9
        )
    # silver unchanged: the guard fired before any admission
    assert _silver_ids(spark, d2) == {1, 2}

# deliberately OUT-OF-DISTRIBUTION text: tokens drawn from a fixed
# 150-word md5-hex vocabulary no English document shares, so
# hashing-trick embeddings land far from centroids trained on English
# batches — the drift the staleness signal exists to catch. Docs
# overlap ~6/30 tokens pairwise (cosine ~0.2, well under the 0.6
# screen), so they are mutually novel yet form ONE coherent drifted
# distribution a retrain can re-cell. Deterministic throughout.
_DRIFT_VOCAB = [
    __import__("hashlib").md5(f"dv-{i}".encode()).hexdigest()[:8]
    for i in range(150)
]


def _drifted_doc(seed: int, n_words: int = 30) -> str:
    import hashlib

    return " ".join(
        _DRIFT_VOCAB[
            int(hashlib.md5(f"{seed}-{j}".encode()).hexdigest()[:6], 16)
            % 150
        ]
        for j in range(n_words)
    )


# novel-but-English batches for the in-distribution control: new
# content words, shared function-word mass with the training batch
INDIST_A = (
    "a gentle rain settled over the harbor as fishermen hauled their "
    "nets past the lighthouse and the market stalls opened along the "
    "cobbled quay before sunrise"
)
INDIST_B = (
    "the orchestra rehearsed the second movement slowly while the "
    "conductor marked tempo changes in the margins of a well worn "
    "score under flickering stage lights"
)


def test_sem_drift_signal_detects_distribution_shift(spark, tmp_path):
    """The staleness signal: the training epoch logs ratio == 1.0 by
    construction (it measures itself), a novel-but-English batch stays
    moderate, an out-of-vocabulary batch climbs loudly, and
    retrain_sem_index re-pins the reference so the SAME drifted
    distribution screens near 1.0 again. All values are exact integer
    geometry over deterministic embeddings — the asserted bounds are
    measured, not tuned (1.0 / 1.65 / 2.22 / 1.20)."""

    def mk():
        return StreamingIncrementalDedup(
            spark=spark,
            landing_dir=str(tmp_path / "landing"),
            silver_path=str(tmp_path / "silver"),
            checkpoint_dir=str(tmp_path / "chk"),
            schema=SCHEMA,
            sem_index_path=str(tmp_path / "semidx"),
            sem_threshold=SEM_THRESHOLD,
            sem_k=2,
        )

    d = mk()
    _land(spark, d, [(1, BASE), (2, OTHER), (3, THIRD), (4, PAIR_A),
                     (5, NEWT)])
    _run(d)
    _land(spark, d, [(10, INDIST_A), (11, INDIST_B)])
    _run(d)
    _land(spark, d, [(i, _drifted_doc(i)) for i in range(20, 26)])
    _run(d)

    rep = {
        r.ingest_epoch: r for r in d.sem_drift_report(spark).collect()
    }
    assert set(rep) == {0, 1, 2}
    assert rep[0].ratio == 1.0  # training epoch measures itself
    assert all(r.train_q50 == rep[0].train_q50 for r in rep.values())
    assert rep[1].ratio < 1.8, rep[1]
    drift_before = rep[2].ratio
    assert drift_before > 2.0, rep[2]
    assert drift_before > rep[1].ratio

    # retrain on full silver (now containing the drifted admissions):
    # the reference re-pins and centroids re-cell, so the same drifted
    # distribution screens healthy again
    d2 = mk()
    assert d2.retrain_sem_index(spark) == 13
    _land(spark, d2, [(30, _drifted_doc(30)), (31, _drifted_doc(31))])
    _run(d2)
    after = {
        r.ingest_epoch: r for r in d2.sem_drift_report(spark).collect()
    }[3]
    assert after.train_q50 != rep[0].train_q50  # new pinned reference
    assert after.ratio < 1.5, (after, drift_before)
    assert after.ratio < drift_before - 0.5
    # and the screen still functions across the remap: admitted set is
    # exactly the planted novel docs
    assert _silver_ids(spark, d2) == {1, 2, 3, 4, 5, 10, 11,
                                      20, 21, 22, 23, 24, 25, 30, 31}


def test_retrain_sem_index_converges_and_marker_guards(spark, tmp_path):
    """retrain_sem_index is deterministic from silver (a replayed /
    re-run retrain converges byte-identically), remaps the at-rest
    index so rephrases of pre-retrain admissions are STILL rejected,
    and a torn retrain (marker present) fails every screen loudly
    instead of silently mis-joining mixed-generation cells."""
    d = _sem_dedup(spark, tmp_path)
    _land(spark, d, [(1, BASE), (2, OTHER)])
    _run(d)
    _land(spark, d, [(10, _drifted_doc(10)), (11, _drifted_doc(11))])
    _run(d)

    def _snapshot():
        return tuple(
            sorted(
                map(
                    tuple,
                    spark.read.parquet(
                        str(tmp_path / "semidx" / sub)
                    ).collect(),
                )
            )
            for sub in ("centroids", "index", "train_stats")
        )

    assert d.retrain_sem_index(spark) == 4
    first = _snapshot()
    # crash-replay: a second retrain over the same silver converges
    assert _sem_dedup(spark, tmp_path).retrain_sem_index(spark) == 4
    assert _snapshot() == first

    # remap correctness: a rephrase of a PRE-retrain admission is still
    # rejected by the remapped index
    d3 = _sem_dedup(spark, tmp_path)
    _land(spark, d3, [(50, SEM_REPH), (51, NEWT)])
    _run(d3)
    assert 50 not in _silver_ids(spark, d3)
    assert 51 in _silver_ids(spark, d3)

    # torn retrain: marker present -> screen and backfill both refuse
    marker = tmp_path / "semidx" / "RETRAIN_IN_PROGRESS"
    marker.write_text("torn\n")
    d4 = _sem_dedup(spark, tmp_path)
    with pytest.raises(RuntimeError, match="unfinished retrain"):
        d4._sink(
            spark.createDataFrame([(60, THIRD)], SCHEMA), epoch_id=99
        )
    with pytest.raises(RuntimeError, match="unfinished retrain"):
        d4.backfill_sem_index(spark)
    # recovery = re-running the retrain to completion
    assert d4.retrain_sem_index(spark) == 5
    assert not marker.exists()
    d4._sink(spark.createDataFrame([(60, THIRD)], SCHEMA), epoch_id=99)
    assert 60 in _silver_ids(spark, d4)


def test_sem_stats_loss_recovers_baseline_from_index(spark, tmp_path):
    """A missing train-stats file over a populated index (pre-stats
    upgrade, or a lost file) must NOT pin the current batch as its own
    drift baseline — that would read ratio ~1.0 forever on a drifted
    stream. The fix recomputes the reference from the at-rest
    training-epoch rows, byte-identical to the original (same int64
    grid), so a drifted batch still reads loudly drifted."""
    import shutil

    def mk():
        return StreamingIncrementalDedup(
            spark=spark,
            landing_dir=str(tmp_path / "landing"),
            silver_path=str(tmp_path / "silver"),
            checkpoint_dir=str(tmp_path / "chk"),
            schema=SCHEMA,
            sem_index_path=str(tmp_path / "semidx"),
            sem_threshold=SEM_THRESHOLD,
            sem_k=2,
        )

    d = mk()
    _land(spark, d, [(1, BASE), (2, OTHER), (3, THIRD), (4, PAIR_A),
                     (5, NEWT)])
    _run(d)
    _land(spark, d, [(i, _drifted_doc(i)) for i in range(20, 26)])
    _run(d)
    rep = {r.ingest_epoch: r for r in d.sem_drift_report(spark).collect()}
    train_q50_orig = rep[0].train_q50
    assert rep[1].ratio > 2.0, rep[1]

    # lose the stats file; a fresh instance screens another drifted
    # batch — the baseline must come back from the at-rest index rows
    shutil.rmtree(str(tmp_path / "semidx" / "train_stats"))
    d2 = mk()
    _land(spark, d2, [(30, _drifted_doc(30)), (31, _drifted_doc(31))])
    _run(d2)
    rep2 = {
        r.ingest_epoch: r for r in d2.sem_drift_report(spark).collect()
    }
    # recovered reference is byte-identical to the original pin, and
    # the drifted epoch still reads drifted (a fabricated
    # current-batch baseline would put this ratio near 1.0)
    assert rep2[2].train_q50 == train_q50_orig
    assert rep2[2].ratio > 2.0, rep2[2]


PII_DOC = (
    "please contact jane.doe@example.com or call 0412 345 678 about "
    "the delivery schedule for the northern warehouse next tuesday "
    "morning before the markets open"
)
REPETITIVE_DOC = ("buy cheap widgets now " * 15).strip()


def test_streaming_curation_gates(spark, tmp_path):
    """The batch pipeline's text hygiene lifted into the stream: a PII
    doc is admitted with SCRUBBED text in silver, a repetitive doc
    lands in rejects with its measured fractions and reason, both
    across epochs and a replay, and the corpus screens' plan contract
    (no corpus Exchange) is untouched because the gates are
    batch-local by construction."""

    def mk():
        return StreamingIncrementalDedup(
            spark=spark,
            landing_dir=str(tmp_path / "landing"),
            silver_path=str(tmp_path / "silver"),
            checkpoint_dir=str(tmp_path / "chk"),
            schema=SCHEMA,
            pii_scrub=True,
            rejects_path=str(tmp_path / "rejects"),
        )

    d = mk()
    _land(spark, d, [(1, BASE), (2, PII_DOC)])
    _run(d)
    _land(spark, d, [(3, REPETITIVE_DOC), (4, OTHER)])
    _run(d)

    assert _silver_ids(spark, d) == {1, 2, 4}
    silver = {
        r.doc_id: r.text
        for r in spark.read.parquet(d.silver_path).collect()
    }
    # scrubbed, not raw: placeholders present, raw values gone
    assert "<EMAIL>" in silver[2] and "<PHONE>" in silver[2]
    assert "jane.doe@example.com" not in silver[2]
    assert "0412 345 678" not in silver[2]
    # the repetitive doc is observable in rejects with its reason
    rej = spark.read.parquet(str(tmp_path / "rejects")).collect()
    assert {r.doc_id for r in rej} == {3}
    assert "dup_word" in rej[0].reason
    assert rej[0].dup_word_frac > 0.7
    assert rej[0].ingest_epoch == 1

    # replayed epoch converges: same silver, same single reject row
    d2 = mk()
    d2._sink(
        spark.createDataFrame([(3, REPETITIVE_DOC), (4, OTHER)], SCHEMA),
        epoch_id=1,
    )
    assert _silver_ids(spark, d2) == {1, 2, 4}
    rej2 = spark.read.parquet(str(tmp_path / "rejects")).collect()
    assert len(rej2) == 1 and rej2[0].doc_id == 3

    # scrub-equivalence dedup: two docs differing ONLY in redacted PII
    # values collapse in the exact stage (batch-pipeline ordering)
    _land(spark, d, [
        (10, PII_DOC.replace("jane.doe", "john.roe")),
    ])
    _run(d)
    assert 10 not in _silver_ids(spark, d)

    # gates are batch-local: the corpus screens' broadcast contract is
    # unchanged (same assertion as the plan-contract test, with the
    # gated stream's silver as the corpus)
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import dedup as dd

    corpus = spark.read.parquet(d.silver_path)
    batch = dd.dedup_exact(
        spark.createDataFrame([(100, THIRD)], SCHEMA), "text", "doc_id"
    ).filter(F.col("is_canonical")).drop("canonical_id", "is_canonical")
    b = batch
    for key in ("doc_id", "content_hash"):
        hits = corpus.select(key).join(
            F.broadcast(b.select(key).distinct()), key, "semi"
        )
        b = b.join(F.broadcast(hits), key, "left_anti")
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_gate_replay_that_rejects_nothing_clears_its_rejects(
    spark, tmp_path, monkeypatch
):
    """A replayed epoch whose repetition gate now rejects NOTHING must
    clear that epoch's reject rows, not leave them contradicting the new
    admission set. Every rejects store is one static overwrite per epoch;
    a dynamic partition overwrite of the empty frame would write no
    partition and keep the first attempt's row."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
        text as tx,
    )

    d = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing"),
        silver_path=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "chk"),
        schema=SCHEMA,
        rejects_path=str(tmp_path / "rejects"),
    )
    epoch = spark.createDataFrame([(1, BASE), (3, REPETITIVE_DOC)], SCHEMA)
    d._sink(epoch, epoch_id=0)
    assert _silver_ids(spark, d) == {1}
    rej = spark.read.parquet(str(tmp_path / "rejects")).collect()
    assert {r.doc_id for r in rej} == {3}

    for name in ("REP_MAX_DUP_WORD", "REP_MAX_TOP_BIGRAM",
                 "REP_MAX_DUP_TRIGRAM"):
        monkeypatch.setattr(tx, name, 1.0)
    d._sink(epoch, epoch_id=0)
    assert _silver_ids(spark, d) == {1, 3}
    assert spark.read.parquet(str(tmp_path / "rejects")).count() == 0


def test_sem_drift_q90_responds_to_partial_drift(spark, tmp_path):
    """The two-track discrimination contract, measured against a
    same-composition CONTROL epoch: a 20%-drifted epoch moves the
    tail ratio (ratio_q90) several times more than the median ratio
    (the median is robust below 50% contamination), and a majority-
    drifted epoch moves both decisively. All geometry is exact and
    deterministic — the asserted deltas are measured (control
    1.737/1.643, 20% drift +0.021/+0.084, 80% drift
    +0.158/+0.363), not tuned; the relative form (tail responds ~4x
    the median under minority drift) is the contract."""
    indist = [
        INDIST_A,
        INDIST_B,
        "three mountain climbers checked their ropes at dawn and "
        "traced a careful route across the glacier toward the "
        "distant summit ridge",
        "the bakery filled with the smell of fresh bread as loaves "
        "emerged golden from the old brick oven before the first "
        "customers arrived",
        "students gathered in the library annex to debate the merits "
        "of the new translation while rain tapped against the tall "
        "windows",
        "a freight train rolled through the valley at midnight "
        "carrying timber and grain past sleeping farmhouses toward "
        "the coastal yards",
        "the museum curator catalogued a crate of ceramic fragments "
        "recovered from the dig site and labeled each shard with "
        "patient care",
        "two chess players studied the endgame position in silence "
        "as spectators leaned closer under the slow ceiling fans of "
        "the club",
        "the night nurse walked the long corridor checking charts "
        "while monitors blinked softly behind half closed doors of "
        "the recovery ward",
        "wind turbines turned slowly on the ridge above the farm as "
        "engineers logged output readings into a weathered field "
        "notebook",
        "the ferry crossed the narrow strait at noon while gulls "
        "circled the stern and passengers photographed the receding "
        "cliffs",
        "a potter shaped wet clay on the spinning wheel in the sunlit "
        "studio while apprentices trimmed finished bowls at the bench",
        "the lighthouse keeper climbed the spiral stairs at dusk to "
        "trim the lamp and log the weather in the station ledger",
        "volunteers planted rows of young oaks along the river bank "
        "while a surveyor staked the flood line with orange flags",
        "the printing press clattered through the night run as "
        "editors corrected proofs under green shaded lamps in the "
        "back office",
        "a beekeeper lifted the hive frame gently against the smoke "
        "and counted capped cells while the colony hummed in the "
        "clover field",
        "the observatory dome rotated slowly as astronomers aligned "
        "the telescope on a faint comet rising over the eastern "
        "horizon",
        "dock workers guided the crane load onto the flatbed while "
        "the foreman checked the manifest against the stenciled "
        "crates",
    ]

    d = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing"),
        silver_path=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "chk"),
        schema=SCHEMA,
        sem_index_path=str(tmp_path / "semidx"),
        sem_threshold=SEM_THRESHOLD,
        sem_k=2,
    )
    # epoch 0: train on 5 English docs
    _land(spark, d, [(1, BASE), (2, OTHER), (3, THIRD), (4, PAIR_A),
                     (5, NEWT)])
    _run(d)
    # epoch 1: CONTROL — 10 novel in-distribution docs, 0 drifted
    _land(spark, d, [(10 + i, t) for i, t in enumerate(indist[:10])])
    _run(d)
    # epoch 2: 8 in-dist + 2 drifted (20% — under the median's
    # breakdown point)
    _land(spark, d, [(30 + i, t) for i, t in enumerate(indist[10:18])]
          + [(38, _drifted_doc(38)), (39, _drifted_doc(39))])
    _run(d)
    # epoch 3: 2 in-dist + 8 drifted (majority)
    _land(spark, d, [(50, indist[0] + " in the grey light"),
                     (51, indist[1] + " after the encore")]
          + [(i, _drifted_doc(i)) for i in range(52, 60)])
    _run(d)

    rep = {
        r.ingest_epoch: r for r in d.sem_drift_report(spark).collect()
    }
    assert set(rep) == {0, 1, 2, 3}
    assert rep[0].ratio == 1.0 and rep[0].ratio_q90 == 1.0
    # the control epoch itself is mutually-novel (nothing deduped
    # away), so the partial epoch's composition is as intended
    assert rep[1].n == 10 and rep[2].n == 10
    d50 = rep[2].ratio - rep[1].ratio
    d90 = rep[2].ratio_q90 - rep[1].ratio_q90
    # minority drift: the tail track responds several times more
    # strongly than the median (measured 0.084 vs 0.021)
    assert d90 > 0.05, (rep[1], rep[2])
    assert d90 > 2.5 * max(d50, 0.01), (d50, d90)
    # majority drift: the median moves decisively too, and the tail
    # keeps climbing past the minority epoch
    assert rep[3].ratio > rep[1].ratio + 0.1, (rep[1], rep[3])
    assert rep[3].ratio_q90 > rep[2].ratio_q90 + 0.2, (rep[2], rep[3])


def test_streaming_gopher_gate(spark, tmp_path):
    """The Gopher rule battery as a streaming gate: a doc failing the
    battery (no stop-words, no alphabetic words) lands in its own
    rejects store with per-rule booleans and a reason; clean docs pass
    untouched; a replayed epoch converges to the same single reject
    row; and the corpus screens' broadcast contract is unchanged
    (batch-local gate)."""

    def mk():
        return StreamingIncrementalDedup(
            spark=spark,
            landing_dir=str(tmp_path / "landing"),
            silver_path=str(tmp_path / "silver"),
            checkpoint_dir=str(tmp_path / "chk"),
            schema=SCHEMA,
            gopher_rejects_path=str(tmp_path / "grejects"),
        )

    d = mk()
    NUMERIC = "111 222 333 444 555 666 777 888"
    _land(spark, d, [(1, BASE), (2, NUMERIC)])
    _run(d)
    _land(spark, d, [(3, OTHER)])
    _run(d)

    assert _silver_ids(spark, d) == {1, 3}
    rej = spark.read.parquet(str(tmp_path / "grejects")).collect()
    assert {r.doc_id for r in rej} == {2}
    assert not rej[0].alpha_ok and not rej[0].stopword_ok
    assert "alpha" in rej[0].reason and "stopword" in rej[0].reason
    assert rej[0].ingest_epoch == 0

    # replay converges: same silver, same single reject row for epoch 0
    d2 = mk()
    d2._sink(
        spark.createDataFrame([(1, BASE), (2, NUMERIC)], SCHEMA),
        epoch_id=0,
    )
    assert _silver_ids(spark, d2) == {1, 3}
    rej2 = spark.read.parquet(str(tmp_path / "grejects")).collect()
    assert len(rej2) == 1 and rej2[0].doc_id == 2


def test_streaming_ppl_gate(spark, tmp_path, monkeypatch):
    """The CCNet perplexity filter as a streaming gate against a
    PINNED at-rest LM: train once on a trusted frame (cuts calibrated
    on a mixed reference), then (a) a fluent doc is admitted and a
    gibberish doc lands in the ppl rejects store with its scores and
    bucket, (b) the stream's admission set equals the batch-side
    verdict computed from the same at-rest model and cuts on the same
    epoch (batch/stream equivalence), (c) an untrained gate and a
    config mismatch fail loudly, (d) a replayed epoch converges."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
        selection as sel,
    )

    FLUENT = [
        BASE,
        OTHER,
        THIRD,
        "the quick brown fox naps beside the old stone bridge while "
        "the lazy dog watches the frozen meadow at the village edge",
    ]
    GIBBER = [
        "zxq vprt klmno wfjd qqag hrbx mzpl dkvw ootr yxns blgr epwm",
        "aaa1 bbb2 ccc3 ddd4 eee5 fff6 ggg7 hhh8 iii9 jjj0 kkk1 lll2",
    ]

    def mk():
        return StreamingIncrementalDedup(
            spark=spark,
            landing_dir=str(tmp_path / "landing"),
            silver_path=str(tmp_path / "silver"),
            checkpoint_dir=str(tmp_path / "chk"),
            schema=SCHEMA,
            ppl_model_path=str(tmp_path / "pplmodel"),
            ppl_rejects_path=str(tmp_path / "prejects"),
        )

    d = mk()
    # untrained gate fails loudly, admitting nothing silently
    import pytest

    with pytest.raises(RuntimeError, match="train_ppl_model"):
        d._curation_gates(
            spark.createDataFrame([(9, BASE)], SCHEMA), epoch_id=0
        )

    target = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FLUENT)], SCHEMA
    )
    cuts_ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(FLUENT + GIBBER)], SCHEMA
    )
    d.train_ppl_model(spark, target, cuts_df=cuts_ref)

    # epoch 0: one fluent doc (in-distribution -> head/middle) + one
    # gibberish doc (unseen bigrams -> tail); no dup relations
    _land(spark, d, [(1, BASE), (2, GIBBER[0])])
    _run(d)
    assert _silver_ids(spark, d) == {1}
    rej = spark.read.parquet(str(tmp_path / "prejects")).collect()
    assert {r.doc_id for r in rej} == {2}
    assert rej[0].ppl_bucket == "tail" and rej[0].reason == "ppl_tail"
    assert rej[0].mnll is not None and rej[0].ingest_epoch == 0

    # batch/stream equivalence on the SAME epoch: score with the
    # at-rest table + pinned cuts, apply the keep rule
    costs, t1, t2 = d._ppl_model(spark)
    epoch = spark.createDataFrame([(1, BASE), (2, GIBBER[0])], SCHEMA)
    scores = sel.lm_ppl_score_with_costs(epoch, costs).collect()
    keep = {
        r.doc_id
        for r in scores
        if r.mnll is not None and r.mnll <= t2
    }
    assert keep == _silver_ids(spark, d)

    # replay converges: same silver, same single reject row
    d2 = mk()
    d2._sink(epoch, epoch_id=0)
    assert _silver_ids(spark, d2) == {1}
    rej2 = spark.read.parquet(str(tmp_path / "prejects")).collect()
    assert len(rej2) == 1 and rej2[0].doc_id == 2

    # config mismatch (different bucket count) refuses to score
    with monkeypatch.context() as m:
        m.setattr(sel, "PPL_BUCKETS", 512)
        with pytest.raises(RuntimeError, match="mismatch"):
            mk()._curation_gates(epoch, epoch_id=1)

    # a replay whose gate now rejects NOTHING (the deliberate
    # retrain/reconfigure case the retrain contract contemplates)
    # must CLEAR epoch 0's stale reject rows, not leave them
    # contradicting the new admission set — static epoch-partition
    # overwrite; dynamic partition overwrite would no-op on an empty
    # frame and keep doc 2's stale row
    monkeypatch.setattr(sel, "PPL_KEEP", ("head", "middle", "tail"))
    d4 = mk()
    d4._sink(epoch, epoch_id=0)
    assert _silver_ids(spark, d4) == {1, 2}
    rej3 = spark.read.parquet(str(tmp_path / "prejects"))
    assert rej3.filter("ingest_epoch = 0").count() == 0
    assert rej3.count() == 0


def test_stream_gates_match_the_batch_pipeline(spark, tmp_path):
    """Batch/stream gate parity: the curation pipeline's stage-1
    survivors at SF_SMOKE (the oracle's ``gated`` rows), landed as one
    epoch with the PII scrub and all three gates on, must leave exactly
    the batch's repetition-gate survivors (the oracle's ``repgate``),
    and each gate's rejects must be the docs that gate fails. The LM is
    pinned from the population the batch uses: trained on the scrubbed
    'en' docs, cuts over every scrubbed doc. Each gate is a per-doc
    predicate, so the stream's order (repetition, Gopher, perplexity)
    and the batch's (Gopher and perplexity, then repetition) commute."""
    import duckdb

    from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
        text as tx,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )
    from tests.conftest import SF_SMOKE

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    ctes = (
        f"WITH RECURSIVE {rl._sql_stage9_ctes()}, "
        f"rep_all AS ({rl._sql_doc_repetition('scrub')})"
    )
    gated = con.execute(
        f"{ctes} SELECT doc_id, text, lang FROM gated"
    ).fetchall()
    verdicts = con.execute(
        f"""{ctes}
        SELECT s.doc_id,
               r.dup_word_frac <= {tx.REP_MAX_DUP_WORD}
                   AND r.top_bigram_frac <= {tx.REP_MAX_TOP_BIGRAM}
                   AND r.dup_trigram_frac <= {tx.REP_MAX_DUP_TRIGRAM},
               g.keep,
               pb.ppl_bucket IN ('head', 'middle')
        FROM scrub s JOIN rep_all r USING (doc_id)
             JOIN gsel g USING (doc_id) JOIN pplb pb USING (doc_id)"""
    ).fetchall()
    want_kept = {
        r[0] for r in con.execute(f"{ctes} SELECT doc_id FROM repgate")
        .fetchall()
    }
    want_rep = {i for i, rep, _, _ in verdicts if not rep}
    want_gopher = {i for i, rep, g, _ in verdicts if rep and not g}
    want_ppl = {i for i, rep, g, p in verdicts if rep and g and not p}
    assert want_kept == {i for i, rep, g, p in verdicts if rep and g and p}
    assert want_kept and want_rep and want_gopher and want_ppl

    d = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing"),
        silver_path=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "chk"),
        schema=SCHEMA,
        pii_scrub=True,
        rejects_path=str(tmp_path / "rejects"),
        gopher_rejects_path=str(tmp_path / "grejects"),
        ppl_model_path=str(tmp_path / "pplmodel"),
        ppl_rejects_path=str(tmp_path / "prejects"),
    )
    batch = spark.createDataFrame(
        gated, "doc_id long, text string, lang string"
    )
    scrubbed = tx.scrub_text(batch)
    d.train_ppl_model(
        spark, scrubbed.filter(F.col("lang") == "en"), cuts_df=scrubbed
    )
    kept, handle = d._curation_gates(batch, epoch_id=0)
    try:
        assert {r.doc_id for r in kept.collect()} == want_kept
    finally:
        handle.unpersist()
    for path, want in (
        ("rejects", want_rep),
        ("grejects", want_gopher),
        ("prejects", want_ppl),
    ):
        rej = spark.read.parquet(str(tmp_path / path)).collect()
        assert {r.doc_id for r in rej} == want, path
        assert all(r.reason for r in rej), path


def test_batch_with_one_id_twice_admits_one_row(spark, dedup):
    """A micro-batch carrying one id with two texts admits ONE row for
    that id, with the band keys of its own text, and a replay of the
    epoch admits the same row. Without the one-row-per-id pick, the
    band-key join back on the id fans the two rows out 2x2 and stores
    each text twice, twice with the other text's keys."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import dedup as dd

    batch = spark.createDataFrame(
        [(7, BASE), (7, OTHER), (8, BASE + " extra")], SCHEMA
    )

    def silver_rows():
        silver = spark.read.parquet(dedup.silver_path)
        fresh = dd.minhash_band_keys(
            silver.select("doc_id", "text"), "text", "doc_id"
        ).withColumnRenamed("band_keys", "fresh_keys")
        assert (
            silver.join(fresh.select("doc_id", "fresh_keys"), "doc_id")
            .filter(F.col("band_keys") != F.col("fresh_keys"))
            .count()
        ) == 0
        return sorted(
            (r.doc_id, r.text, tuple(r.band_keys))
            for r in silver.collect()
        )

    dedup._sink(batch, epoch_id=0)
    first = silver_rows()
    ids = [i for i, _, _ in first]
    assert len(ids) == len(set(ids)) and 7 in ids
    dedup._sink(batch, epoch_id=0)
    assert silver_rows() == first


def test_ppl_gate_without_model_path_fails_loudly(spark, tmp_path):
    """A ppl gate configured with no ``ppl_model_path`` has no pinned
    LM to read: its first gated batch must raise the "run
    train_ppl_model first" error, not a TypeError from joining a None
    path."""
    d = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing"),
        silver_path=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "chk"),
        schema=SCHEMA,
        ppl_rejects_path=str(tmp_path / "prejects"),
    )
    with pytest.raises(RuntimeError, match="run train_ppl_model first"):
        d._curation_gates(
            spark.createDataFrame([(9, BASE)], SCHEMA), epoch_id=0
        )


def test_banding_pin_and_knee_migration(spark, tmp_path, dedup):
    """The banding version pin + migrate_banding: (1) the first run
    pins (n, K, b); a runner configured differently against the same
    silver must refuse (mismatched banding silently admits every
    near-dup); (2) migration into a fresh root rebuilds band_keys at
    the knee (K48/b8) bit-identically to computing them there
    directly, preserves epochs, and a knee-configured runner over the
    migrated root passes the pin check and screens new batches
    correctly."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
        dedup as dd,
    )

    _land(spark, dedup, [(1, BASE), (2, OTHER)])
    _run(dedup)
    _land(spark, dedup, [(3, THIRD)])
    _run(dedup)
    assert _silver_ids(spark, dedup) == {1, 2, 3}

    # pin written on first batch; a mismatched config refuses
    bad = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=dedup.landing_dir,
        silver_path=dedup.silver_path,
        checkpoint_dir=str(tmp_path / "chk_bad"),
        schema=SCHEMA,
        num_hashes=48,
        bands=8,
    )
    with pytest.raises(RuntimeError, match="banding config mismatch"):
        bad._check_banding_pin(spark)

    # migrate to the knee in a fresh root
    dest = str(tmp_path / "silver_v2")
    nmig = dedup.migrate_banding(spark, dest, num_hashes=48, bands=8)
    assert nmig == 3
    mig = spark.read.parquet(dest)
    # band_keys == direct knee computation on the same text (order of
    # epochs/rows irrelevant; keys are per-doc deterministic)
    exp = {
        r.doc_id: r.band_keys
        for r in dd.minhash_band_keys(
            mig.drop("band_keys"), "text", "doc_id",
            dedup.n, 48, 8,
        ).collect()
    }
    got = {r.doc_id: r.band_keys for r in mig.collect()}
    assert got == exp and all(len(v) == 8 for v in got.values())
    # epochs preserved
    assert {
        (r.doc_id, r.ingest_epoch) for r in mig.collect()
    } == {(1, 0), (2, 0), (3, 1)}

    # a knee-configured runner over the migrated root: pin passes,
    # near-dup of an admitted doc is rejected, fresh content admitted.
    # The runner KEEPS the original landing dir and checkpoint (epoch
    # numbering must continue — a fresh checkpoint restarts epochs at
    # 0 and dynamic overwrite would clobber historical partitions);
    # only the silver root moves.
    v2 = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=dedup.landing_dir,
        silver_path=dest,
        checkpoint_dir=dedup.checkpoint_dir,
        schema=SCHEMA,
        num_hashes=48,
        bands=8,
    )
    _land(spark, v2, [(10, NEAR), (11, PAIR_A)])
    _run(v2)
    assert _silver_ids(spark, v2) == {1, 2, 3, 11}

    # empty-silver migration: pins the knee so a fresh deployment can
    # start there directly
    empty = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing_e"),
        silver_path=str(tmp_path / "silver_empty"),
        checkpoint_dir=str(tmp_path / "chk_e"),
        schema=SCHEMA,
    )
    assert empty.migrate_banding(
        spark, str(tmp_path / "silver_e2"), num_hashes=48, bands=8
    ) == 0
    fresh = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing_f"),
        silver_path=str(tmp_path / "silver_e2"),
        checkpoint_dir=str(tmp_path / "chk_f"),
        schema=SCHEMA,
        num_hashes=48,
        bands=8,
    )
    fresh._check_banding_pin(spark)  # pinned knee matches config


def test_migrated_keys_reproduce_knee_pairs(spark, tmp_path):
    """End-to-end knee equivalence: candidates generated from the
    MIGRATED at-rest band_keys (the storage path a deployment
    actually screens with) verify to exactly the pair set of the
    oracle-gated doc_lsh_verified_pairs_knee query over the same
    corpus — the stored v2 index IS the knee operating point, not an
    approximation of it."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
        dedup as dd,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    # a one-epoch v1 silver of the whole corpus
    silver_v1 = str(tmp_path / "silver")
    dd.minhash_band_keys(docs, "text", "doc_id", rl._SHINGLE_N, 16, 4) \
        .withColumn("ingest_epoch", F.lit(0)) \
        .write.partitionBy("ingest_epoch").parquet(silver_v1)
    runner = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing"),
        silver_path=silver_v1,
        checkpoint_dir=str(tmp_path / "chk"),
        schema=SCHEMA,
        n=rl._SHINGLE_N,
    )
    dest = str(tmp_path / "silver_v2")
    runner.migrate_banding(
        spark, dest,
        num_hashes=rl._KNEE_NUM_HASHES, bands=rl._KNEE_BANDS,
    )
    stored = dd.banded_from_keys(spark.read.parquet(dest))
    capped, _ = dd.cap_buckets(
        stored, ["band", "key"], rl._LSH_MAX_BUCKET
    )
    a = capped.select(F.col("doc_id").alias("id_a"), "band", "key")
    b = capped.select(F.col("doc_id").alias("id_b"), "band", "key")
    cands = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = dd.jaccard_verify_pairs(
        docs, cands, n=rl._SHINGLE_N,
        threshold=rl._JACCARD_THRESHOLD,
    )
    got = {(r.id_a, r.id_b) for r in verified.collect()}
    knee = rl.q_doc_lsh_verified_pairs_knee(spark, sf)
    exp = {(r.id_a, r.id_b) for r in knee.collect()}
    assert got == exp and exp


def test_first_pin_over_legacy_silver_validates_stored_keys(
    spark, tmp_path, dedup
):
    """A pre-pin-feature deployment has silver but no pin file. The
    FIRST pin write must not bless the instance config blindly: if the
    stored band_keys disagree with the configured bands (the config
    already drifted), writing the pin would formalize the exact
    silent-readmission mismatch the pin exists to catch — refuse
    instead. A config that MATCHES the stored keys pins normally."""
    import shutil

    _land(spark, dedup, [(1, BASE), (2, OTHER)])
    _run(dedup)
    assert _silver_ids(spark, dedup) == {1, 2}
    # simulate legacy: drop the pin the run just wrote
    shutil.rmtree(dedup._banding_pin_path())

    legacy_bad = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=dedup.landing_dir,
        silver_path=dedup.silver_path,
        checkpoint_dir=str(tmp_path / "chk_legacy"),
        schema=SCHEMA,
        num_hashes=48,
        bands=8,  # silver stores dedup.bands (= 4) keys per doc
    )
    with pytest.raises(RuntimeError, match="refusing to write first"):
        legacy_bad._check_banding_pin(spark)
    # nothing pinned by the refused attempt
    assert not os.path.exists(dedup._banding_pin_path())

    # same band COUNT but different num_hashes: rows-per-band differs,
    # so the stored key STRINGS don't reproduce even though their count
    # does — a bare len(band_keys) == bands check misses this drift
    legacy_bad_nh = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=dedup.landing_dir,
        silver_path=dedup.silver_path,
        checkpoint_dir=str(tmp_path / "chk_legacy_nh"),
        schema=SCHEMA,
        num_hashes=dedup.num_hashes * 2,
        bands=dedup.bands,
    )
    with pytest.raises(RuntimeError, match="refusing to write first"):
        legacy_bad_nh._check_banding_pin(spark)
    assert not os.path.exists(dedup._banding_pin_path())

    legacy_ok = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=dedup.landing_dir,
        silver_path=dedup.silver_path,
        checkpoint_dir=str(tmp_path / "chk_legacy2"),
        schema=SCHEMA,
        num_hashes=dedup.num_hashes,
        bands=dedup.bands,
    )
    legacy_ok._check_banding_pin(spark)
    pin = spark.read.parquet(dedup._banding_pin_path()).first()
    assert (pin["n"], pin["num_hashes"], pin["bands"]) == (
        legacy_ok.n, legacy_ok.num_hashes, legacy_ok.bands,
    )


def test_compact_epochs_preserves_content_and_screening(spark, tmp_path):
    """Folding committed epoch partitions must leave corpus CONTENT
    byte-identical (only the partition labels merge), keep every
    epoch-partitioned store's epoch set aligned (coverage checks), and
    leave screening behavior unchanged: a near-dup of a doc admitted
    five epochs ago must still be rejected after its partition was
    folded away."""
    from comp5339dataengineering_realtimefuelanalysis_spark.sinks import (
        writers,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.streaming.incremental_dedup import (  # noqa: E501
        StreamingIncrementalDedup,
    )

    d = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing"),
        silver_path=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "chk"),
        schema=SCHEMA,
        sem_index_path=str(tmp_path / "semidx"),
    )
    for epoch, rows in enumerate(
        [[(1, BASE)], [(2, OTHER)], [(3, THIRD)], [(4, PAIR_A)],
         [(5, "fresh unrelated closing batch all its own words")]]
    ):
        d._sink(spark.createDataFrame(rows, SCHEMA), epoch_id=epoch)

    silver = spark.read.parquet(d.silver_path)
    pre_rows = sorted(
        map(tuple, silver.drop("ingest_epoch").collect())
    )
    assert len({r[0] for r in silver.select("ingest_epoch")
                .collect()}) == 5

    res = d.compact_epochs(spark)
    assert res["folded_epochs"] == 4 and res["target"] == 0

    silver2 = spark.read.parquet(d.silver_path)
    post_rows = sorted(
        map(tuple, silver2.drop("ingest_epoch").collect())
    )
    assert post_rows == pre_rows
    s_eps = {r[0] for r in silver2.select("ingest_epoch").distinct()
             .collect()}
    assert s_eps == {0, 4}
    idx = spark.read.schema(d._sem_read_schema()).parquet(
        d._sem_rows_path()
    )
    i_eps = {r[0] for r in idx.select("ingest_epoch").distinct()
             .collect()}
    assert i_eps == {0, 4}
    # no pending manifest or temp dirs left behind
    assert not os.path.exists(writers._pending_path(d.silver_path))
    assert not os.path.exists(d.silver_path + "_compact_tmp")

    # screening vs the compacted corpus: near-dup of the EARLIEST
    # admitted doc (folded partition) dropped, fresh doc admitted —
    # through a fresh runner so the coverage check re-runs cold
    d2 = StreamingIncrementalDedup(
        spark=spark,
        landing_dir=d.landing_dir,
        silver_path=d.silver_path,
        checkpoint_dir=d.checkpoint_dir,
        schema=SCHEMA,
        sem_index_path=d.sem_index_path,
    )
    d2._sink(
        spark.createDataFrame([(10, NEAR), (11, NEAR_OTHER),
                               (12, "entirely new words nobody used")],
                              SCHEMA),
        epoch_id=9,
    )
    assert _silver_ids(spark, d2) == {1, 2, 3, 4, 5, 12}
    # a second compact folds {0, 4} (9 is now the live-edge max)
    res2 = d2.compact_epochs(spark)
    assert res2["folded_epochs"] == 2 and res2["target"] == 0
    assert _silver_ids(spark, d2) == {1, 2, 3, 4, 5, 12}


def test_compact_epochs_crash_recovery(spark, tmp_path, monkeypatch):
    """A compaction interrupted after the temp write committed (the
    manifest exists, partitions half-mutated) must be FINISHED by the
    next call, ending bit-identical to an uninterrupted fold — and a
    partial run that folded silver but not the index must still fold
    the index on retry (fold set from the union of stores)."""
    from comp5339dataengineering_realtimefuelanalysis_spark.sinks import (
        writers,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.streaming import (
        incremental_dedup as mod,
    )

    d = mod.StreamingIncrementalDedup(
        spark=spark,
        landing_dir=str(tmp_path / "landing"),
        silver_path=str(tmp_path / "silver"),
        checkpoint_dir=str(tmp_path / "chk"),
        schema=SCHEMA,
        sem_index_path=str(tmp_path / "semidx"),
    )
    for epoch, rows in enumerate(
        [[(1, BASE)], [(2, OTHER)], [(3, THIRD)]]
    ):
        d._sink(spark.createDataFrame(rows, SCHEMA), epoch_id=epoch)
    pre = sorted(
        map(tuple, spark.read.parquet(d.silver_path)
            .drop("ingest_epoch").collect())
    )

    # crash INSIDE the apply step of the first store (silver): temp +
    # manifest committed, deletes/renames not yet run
    real_apply = writers._apply_fold
    calls = {"n": 0}

    def boom(path, plan):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("simulated crash mid-compaction")
        return real_apply(path, plan)

    monkeypatch.setattr(writers, "_apply_fold", boom)
    with pytest.raises(OSError, match="simulated crash"):
        d.compact_epochs(spark)
    assert os.path.exists(writers._pending_path(d.silver_path))

    res = d.compact_epochs(spark)  # recovers silver, then folds index
    assert not os.path.exists(writers._pending_path(d.silver_path))
    silver = spark.read.parquet(d.silver_path)
    assert sorted(
        map(tuple, silver.drop("ingest_epoch").collect())
    ) == pre
    s_eps = {r[0] for r in silver.select("ingest_epoch").distinct()
             .collect()}
    assert s_eps == {0, 2}
    idx = spark.read.schema(d._sem_read_schema()).parquet(
        d._sem_rows_path()
    )
    i_eps = {r[0] for r in idx.select("ingest_epoch").distinct()
             .collect()}
    assert i_eps == {0, 2}, res
