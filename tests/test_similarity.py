"""Semantic unit tests for similarity search operators."""

from __future__ import annotations

import glob
import math
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
    similarity as sim,
)

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0], 0),
    (1, [1.0, 0.0, 0.0, 0.0], 0),  # exact duplicate of 0
    (2, [0.9, 0.1, 0.0, 0.0], 0),  # near 0
    (3, [0.0, 1.0, 0.0, 0.0], 1),  # orthogonal to 0
    (4, [-1.0, 0.0, 0.0, 0.0], 1),  # opposite of 0
]

SCHEMA = "vec_id long, embedding array<float>, label int"


def corpus(spark):
    return spark.createDataFrame(VECS, SCHEMA)


def queries(spark):
    return (
        corpus(spark)
        .filter(F.col("vec_id") == 0)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )


def test_cosine_topk_exact(spark):
    got = {
        r.vec_id: (r.cosine, r.rank)
        for r in sim.cosine_topk(queries(spark), corpus(spark), k=5).collect()
    }
    assert got[0][1] == 1 and abs(got[0][0] - 1.0) < 1e-12  # self first
    assert got[1][1] == 2 and abs(got[1][0] - 1.0) < 1e-12  # dup, id tiebreak
    assert abs(got[2][0] - 0.9 / math.sqrt(0.82)) < 1e-9
    assert abs(got[3][0]) < 1e-12
    assert abs(got[4][0] + 1.0) < 1e-12
    assert got[4][1] == 5  # most dissimilar ranks last


def test_embedding_near_dup_lsh_finds_duplicates(spark):
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in sim.embedding_near_dup_pairs(
            corpus(spark), threshold=0.95, planes=4, dim=4
        ).collect()
    }
    assert (0, 1) in pairs and abs(pairs[(0, 1)] - 1.0) < 1e-12
    assert all(c >= 0.95 for c in pairs.values())


def test_ann_lsh_includes_self_and_excludes_opposite(spark):
    got = {
        r.vec_id: r.rank
        for r in sim.ann_lsh_topk(
            queries(spark), corpus(spark), k=5, planes=4, dim=4
        ).collect()
    }
    assert got.get(0) == 1  # a vector is always in its own bucket
    assert 4 not in got  # opposite sign pattern lands in another bucket


def test_ivf_index_matches_ann_and_prunes(spark, tmp_path):
    """The materialized IVF layout is behavior-identical to ann_lsh_topk at
    probes=1, multi-probe only widens the search, and the index scan is
    dynamically partition-pruned by the probe join."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.base import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    path = str(tmp_path / "ivf")
    sim.ivf_write(emb, path, planes=6)

    ivf1 = {
        (r.qid, r.vec_id): r.rank
        for r in sim.ivf_topk(spark, path, qs, k=10, planes=6).collect()
    }
    ann = {
        (r.qid, r.vec_id): r.rank
        for r in sim.ann_lsh_topk(qs, emb, k=10, planes=6).collect()
    }
    assert ivf1 == ann

    got1 = set(ivf1)
    got3 = {
        (r.qid, r.vec_id)
        for r in sim.ivf_topk(spark, path, qs, k=10, planes=6, probes=3).collect()
    }
    truth = {
        (r.qid, r.vec_id) for r in sim.cosine_topk(qs, emb, k=10).collect()
    }
    assert len(got3 & truth) >= len(got1 & truth)  # probes only add recall

    plan = (
        sim.ivf_topk(spark, path, qs, k=10, planes=6, probes=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_kmeans_step_assignment_and_means(spark):
    """Seeds are the k lowest ids (0 and 1 — identical vectors). Ties in
    the integer distance go to the smaller cluster id, so everything
    within equal distance of both seeds lands in cluster 0; means are
    exact per-dimension averages of the members."""
    out = sim.kmeans_step(corpus(spark), k=2, dim=4).collect()
    members = {r.cluster_id: r.n_members for r in out}
    # seeds 0 and 1 are identical -> every vector ties -> all go to 0
    assert members == {0: 5}
    means = {r.dim: r.mean for r in out if r.cluster_id == 0}
    # dim 0: (1 + 1 + 0.9 + 0 - 1) / 5; inputs are float32, quantized at
    # 1e9 -> tolerance well above the grid, well below the data
    assert abs(means[0] - 0.38) < 1e-6
    assert abs(means[1] - 0.22) < 1e-6


def test_kmeans_step_separates_clusters(spark):
    rows = [
        (0, [0.0, 0.0], 0),
        (1, [10.0, 10.0], 0),
        (2, [0.1, -0.1], 0),   # near seed 0
        (3, [9.9, 10.1], 0),   # near seed 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = sim.kmeans_step(df, k=2, dim=2).collect()
    got = {(r.cluster_id, r.dim): (r.n_members, r.mean) for r in out}
    want = {
        (0, 0): (2, 0.05),
        (0, 1): (2, -0.05),
        (1, 0): (2, 9.95),
        (1, 1): (2, 10.05),
    }
    assert set(got) == set(want)
    for k, (n, m) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - m) < 1e-6  # float32 input quantization


def test_ivf_registry_index_lifecycle(spark):
    """The registry's materialized IVF index lives under one managed root,
    is reused across invocations (repeat probes pay probe cost only), and
    release_ivf_indexes removes it without leaving orphaned dirs."""
    from comp5339dataengineering_realtimefuelanalysis_spark.functions import (
        caching,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    rl.release_ivf_indexes()
    rl.q_emb_ivf_topk(spark, SF_SMOKE).count()
    root = caching._ROOT
    assert os.path.basename(root).startswith("spark_graft_ivf_")
    marks = glob.glob(os.path.join(root, "ivf", "*", "_SUCCESS"))
    assert len(marks) == 1
    committed = os.stat(marks[0]).st_mtime_ns
    rl.q_emb_ivf_topk(spark, SF_SMOKE).count()
    # reused, not rebuilt
    assert glob.glob(os.path.join(root, "ivf", "*", "_SUCCESS")) == marks
    assert os.stat(marks[0]).st_mtime_ns == committed
    rl.release_ivf_indexes()
    assert not os.path.isdir(root) and caching._ROOT is None


def test_materialize_rebuilds_a_torn_build(spark):
    """A build that wrote part files and then died leaves a directory
    without _SUCCESS: the next materialize call rebuilds it in full and
    never serves the torn output; a committed build is then a hit."""
    from comp5339dataengineering_realtimefuelanalysis_spark.functions import (
        caching,
    )

    def torn(path):
        spark.range(3).write.parquet(path)
        os.remove(os.path.join(path, "_SUCCESS"))  # died before its commit
        raise RuntimeError("build killed")

    def full(path):
        spark.range(10).write.mode("overwrite").parquet(path)

    def unused(path):
        raise AssertionError("a committed build must not be rebuilt")

    args = ("torn_test", (1,), [(SF_SMOKE, "documents")])
    caching.release_materialized()
    try:
        with pytest.raises(RuntimeError, match="build killed"):
            caching.materialize(*args, torn)
        (part_dir,) = glob.glob(os.path.join(caching._ROOT, "torn_test", "*"))
        assert glob.glob(os.path.join(part_dir, "part-*"))
        path = caching.materialize(*args, full)
        assert path == part_dir
        assert spark.read.parquet(path).count() == 10
        assert caching.materialize(*args, unused) == path
    finally:
        caching.release_materialized()


def test_kmeans_assign_probes_matches_window_rank(spark):
    """kmeans_assign_probes' iterated min_by passes (the map-side-
    combine shape) must equal the declarative top-``probes`` by
    (dist, cid) — the ROW_NUMBER contract the oracle replays — and
    rank 1 must equal kmeans_assign."""
    from pyspark.sql import Window

    from comp5339dataengineering_realtimefuelanalysis_spark.plans.base import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(
        200
    )
    cents = sim.kmeans_train_centroids(emb, k=6, iters=1)
    got = sorted(
        map(
            tuple,
            sim.kmeans_assign_probes(emb, cents, probes=2).collect(),
        )
    )
    # reference: explicit window rank over the full distance fan-out
    c = emb.select("vec_id", sim.scaled_vec(F.col("embedding")).alias("svec"))
    fan = c.crossJoin(F.broadcast(cents)).withColumn(
        "dist", sim._assign_dist(64, False)
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    want = sorted(
        map(
            tuple,
            fan.withColumn("cell_rank", F.row_number().over(w))
            .filter(F.col("cell_rank") <= 2)
            .select("vec_id", F.col("cid").alias("cluster_id"), "cell_rank")
            .collect(),
        )
    )
    assert got == want
    rank1 = {t[0]: t[1] for t in got if t[2] == 1}
    top1 = {
        r.vec_id: r.cluster_id
        for r in sim.kmeans_assign(emb, cents).collect()
    }
    assert rank1 == top1
    # the two probed cells are distinct per vector
    by_vec: dict = {}
    for vid, cell, _ in got:
        by_vec.setdefault(vid, set()).add(cell)
    assert all(len(cells) == 2 for cells in by_vec.values())


def test_kmeans_train_one_iter_is_kmeans_step(spark):
    """kmeans_train(iters=1) is DEFINED to equal kmeans_step (same seeds,
    one assignment, same mean presentation)."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.base import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    step = sim.kmeans_step(emb, k=4).orderBy("cluster_id", "dim").collect()
    train = (
        sim.kmeans_train(emb, k=4, iters=1)
        .orderBy("cluster_id", "dim")
        .collect()
    )
    assert step == train


def test_kmeans_train_fixpoint_on_separated_clusters(spark):
    """On a cleanly separable set the assignment stabilizes after one
    update, so further iterations reproduce the same means — and the
    floor-div re-quantized centroids equal the integer floor of the
    member means on the 1e9 grid."""
    rows = [
        (0, [0.0, 0.0], 0),
        (1, [10.0, 10.0], 0),
        (2, [0.1, -0.1], 0),
        (3, [9.9, 10.1], 0),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    t1 = sim.kmeans_train(df, k=2, iters=1, dim=2).orderBy("cluster_id", "dim")
    t3 = sim.kmeans_train(df, k=2, iters=3, dim=2).orderBy("cluster_id", "dim")
    assert t1.collect() == t3.collect()
    cents = {
        r.cid: r.c_svec
        for r in sim.kmeans_train_centroids(df, k=2, iters=2, dim=2).collect()
    }
    # cluster 0 = {v0, v2}. float32(0.1) = 0.10000000149..., so v2
    # scales to (100000001, -100000001); the centroid is the
    # MATHEMATICAL floor of the member mean on the grid:
    # floor(100000001/2) = 50000000, floor(-100000001/2) = -50000001
    assert cents[0] == [50000000, -50000001]
    # float32(9.9) scales to 9899999619, float32(10.1) to 10100000381;
    # v1 = (10000000000, 10000000000); python's // is the same
    # mathematical floor the operator computes
    assert cents[1] == [
        (10000000000 + 9899999619) // 2,
        (10000000000 + 10100000381) // 2,
    ]


def test_ivf_kmeans_topk_recall_and_pruning(spark, tmp_path):
    """Learned-centroid IVF: probes=k-cells recovers the brute-force
    top-k exactly (every cell scanned); fewer probes only lose, never
    invent, pairs; and the probe join partition-prunes the index scan."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.base import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    k_cells = 4
    cents = sim.kmeans_train_centroids(emb, k=k_cells, iters=2)
    path = str(tmp_path / "ivf_km")
    sim.ivf_write_kmeans(emb, cents, path)

    truth = {
        (r.qid, r.vec_id): r.rank
        for r in sim.cosine_topk(qs, emb, k=10).collect()
    }
    full = {
        (r.qid, r.vec_id): r.rank
        for r in sim.ivf_kmeans_topk(
            spark, path, qs, cents, k=10, probes=k_cells
        ).collect()
    }
    assert full == truth  # all cells probed == exact

    got1 = {
        (r.qid, r.vec_id)
        for r in sim.ivf_kmeans_topk(
            spark, path, qs, cents, k=10, probes=1
        ).collect()
    }
    got2 = {
        (r.qid, r.vec_id)
        for r in sim.ivf_kmeans_topk(
            spark, path, qs, cents, k=10, probes=2
        ).collect()
    }
    assert len(got1 & set(truth)) <= len(got2 & set(truth))

    plan = (
        sim.ivf_kmeans_topk(spark, path, qs, cents, k=10, probes=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_kmeans_degenerate_identical_corpus(spark, tmp_path):
    """Adversarial input: every vector identical. All ties resolve to
    the lowest centroid id, empty clusters drop (standard Lloyd), and
    the IVF index degenerates to ONE cell that still answers probes —
    no crash, no divergence, deterministic output."""
    rows = [(i, [1.0, 2.0], 0) for i in range(20)]
    df = spark.createDataFrame(rows, SCHEMA)
    cents = sim.kmeans_train_centroids(df, k=4, iters=3, dim=2)
    got = cents.collect()
    assert len(got) == 1 and got[0].cid == 0  # ties -> lowest seed id
    train = sim.kmeans_train(df, k=4, iters=3, dim=2).collect()
    assert {r.cluster_id for r in train} == {0}
    assert all(r.n_members == 20 for r in train)

    path = str(tmp_path / "degenerate_ivf")
    sim.ivf_write_kmeans(df, cents, path, dim=2)
    qs = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = sim.ivf_kmeans_topk(spark, path, qs, cents, k=5, probes=2, dim=2)
    rows = got.collect()
    assert len(rows) == 5
    assert all(abs(r.cosine - 1.0) < 1e-12 for r in rows)
    # deterministic id tiebreak on equal cosine
    assert [r.vec_id for r in rows] == [0, 1, 2, 3, 4]


def test_pair_and_dim_guards_are_loud_but_dim_agnostic(spark):
    """Length-skew handling after the round-8 guard audit: the
    dynamic-dim HOF paths accept equal-width vectors of ANY dim
    (no forced dim parameter) but raise loudly on a pairwise mismatch
    instead of zip_with-truncating; the unrolled unit-norm path
    validates BOTH sides against the static dim."""
    import pytest

    # 2-d corpus through kmeans_step WITHOUT passing dim: works (the
    # generic path must stay dim-agnostic for consistent widths)
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = sim.kmeans_step(df, k=2).collect()
    assert {r.dim for r in out} == {0, 1}

    # pairwise mismatch (2-d corpus vs 3-d centroid) raises
    cents = spark.createDataFrame(
        [(1, [0, 0, 0])], "cid long, c_svec array<long>"
    )
    c = df.select("vec_id", sim.scaled_vec(F.col("embedding")).alias("svec"))
    with pytest.raises(Exception, match="lengths .* differ"):
        sim._lloyd_assign(c, cents, "vec_id").collect()

    # unrolled unit-norm path: a centroid longer than dim raises (it
    # would silently truncate otherwise)
    cents64 = spark.createDataFrame(
        [(1, [0] * 65)], "cid long, c_svec array<long>"
    )
    df64 = spark.createDataFrame(
        [(1, [0.01] * 64)], "vec_id long, embedding array<float>"
    )
    c64 = df64.select(
        "vec_id", sim.scaled_vec(F.col("embedding")).alias("svec")
    )
    with pytest.raises(Exception, match="does not match unrolled dim"):
        sim._lloyd_assign(c64, cents64, "vec_id", unit_norm=True).collect()


def test_kmeans_assign_probes_exceeding_k_clamps_loudly(spark):
    """probes > trained k must not pass silently (row_number runs out
    of centroids at k, so multi-probe recall math would overstate
    coverage) — but it must not kill a pipeline whose degenerate
    corpus left fewer centroids than probes either: it CLAMPS to the
    centroid count with a warning (probing every cell is exhaustive
    coverage, matching the oracle's ROW_NUMBER() <= probes replay)."""
    import warnings

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
         (3, [0.0, 0.0, 1.0]), (4, [0.7, 0.7, 0.0])],
        "vec_id long, embedding array<float>",
    )
    cents = sim.kmeans_train_centroids(df, k=2, iters=1, dim=3)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out3 = sim.kmeans_assign_probes(df, cents, probes=3, dim=3)
        assert any("clamping" in str(w.message) for w in caught)
    # clamped to k=2: identical to probes=2, every vector covered
    assert sorted(map(tuple, out3.collect())) == sorted(
        map(tuple,
            sim.kmeans_assign_probes(df, cents, probes=2, dim=3)
            .collect())
    )
    # probes == k is the boundary and stays warning-free
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = sim.kmeans_assign_probes(df, cents, probes=2, dim=3)
        rows = out.collect()
        assert not any("clamping" in str(w.message) for w in caught)
    cnt = {}
    for r in rows:
        cnt[r.vec_id] = cnt.get(r.vec_id, 0) + 1
    assert all(c == 2 for c in cnt.values())


def test_sem2_recall_vs_1l_guard(spark):
    """2L (product-blocked) semantic dedup must retain >= 0.95 of the
    1L dup set on the smoke corpus — the probe-level regression guard
    the r9 measurement (recall 0.989/0.977 at 50k/150k docs) motivated.
    A broken probe order, subspace split, or block-key collision drops
    this loudly below the bar (measured 1.0 here: 23/23 dups)."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import registry_llm as rl

    one = {
        r.doc_id
        for r in rl.q_doc_semantic_dedup(spark, SF_SMOKE)
        .filter(~F.col("keep"))
        .collect()
    }
    two = {
        r.doc_id
        for r in rl.q_doc_semantic_dedup_2l(spark, SF_SMOKE)
        .filter(~F.col("keep"))
        .collect()
    }
    assert len(one) >= 10, "smoke corpus must contain semantic dups"
    recall = len(one & two) / len(one)
    assert recall >= 0.95, (recall, len(one), len(two))


def test_np_assign_matches_exploded_path(spark):
    """The batched-numpy assignment kernel (mapInArrow int64 matmul)
    must be BIT-IDENTICAL to an argmin / row_number over the exploded
    hash-agg distances (_assign_dists_exploded), on both the argmin
    (_lloyd_assign) and the multi-probe (kmeans_assign_probes) faces —
    same distances (exact int64 either way), same lowest-cid
    tiebreak. Also pins the kernel's edge contract: NULL vectors drop
    (posexplode semantics) and a dim-mismatched vector still raises
    loudly."""
    import pytest
    from pyspark.sql import Window

    from comp5339dataengineering_realtimefuelanalysis_spark.plans.base import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(
        300
    )
    cents = sim.kmeans_train_centroids(
        emb, k=7, iters=1, unit_norm=True
    )
    c = emb.select(
        "vec_id", sim.scaled_vec(F.col("embedding")).alias("svec")
    )
    got_arg = sorted(
        map(
            tuple,
            sim._lloyd_assign(c, cents, "vec_id", unit_norm=True).collect(),
        )
    )
    got_pr = sorted(
        map(
            tuple,
            sim.kmeans_assign_probes(
                emb, cents, probes=3, unit_norm=True
            ).collect(),
        )
    )
    # a NULL vector row disappears (mirrors posexplode)
    with_null = spark.createDataFrame(
        [(901, None), (902, [0] * 64)],
        "vec_id long, svec array<bigint>",
    )
    out = sim._lloyd_assign(
        with_null, cents, "vec_id", unit_norm=True
    ).collect()
    assert [r.vec_id for r in out] == [902]
    # a mismatched dim raises with the unrolled-guard wording
    bad = spark.createDataFrame(
        [(903, [0] * 65)], "vec_id long, svec array<bigint>"
    )
    with pytest.raises(Exception, match="does not match unrolled dim"):
        sim._lloyd_assign(bad, cents, "vec_id", unit_norm=True).collect()

    dists = sim._assign_dists_exploded(c, cents, "vec_id", 64)
    ranked = dists.withColumn(
        "cell_rank",
        F.row_number().over(
            Window.partitionBy("vec_id").orderBy("dist", "cid")
        ),
    )
    want_arg = sorted(
        map(
            tuple,
            ranked.filter(F.col("cell_rank") == 1)
            .select("vec_id", "cid")
            .join(c, "vec_id")
            .collect(),
        )
    )
    want_pr = sorted(
        map(
            tuple,
            ranked.filter(F.col("cell_rank") <= 3)
            .select("vec_id", F.col("cid").alias("cluster_id"), "cell_rank")
            .collect(),
        )
    )
    assert got_arg == want_arg
    assert got_pr == want_pr


@pytest.mark.parametrize("table", ["embeddings", "documents"])
def test_caches_follow_a_rewritten_table(spark, tmp_path, table):
    """Every at-rest cache is keyed on its input table's fingerprint:
    once the table is rewritten in-process, a second run must equal a
    run made from empty caches. One query per family built from the
    table — embeddings: planes, kmeans, pqbooks, ivfpq, ivfsq8, sq8;
    documents: vpairs, dsir, ppl, simhash, langq, textemb, stage9."""
    import shutil

    import pyarrow.parquet as pq

    from comp5339dataengineering_realtimefuelanalysis_spark.functions.caching import (
        release_tracked,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf, copy_function=shutil.copyfile)
    queries, column = {
        "embeddings": (
            (
                rl.q_emb_kmeans_train,
                rl.q_emb_ivf_topk,
                rl.q_emb_ivf_kmeans_topk,
                rl.q_emb_pq_codes,
                rl.q_emb_ivf_pq_topk,
                rl.q_emb_ivf_sq8_topk,
                rl.q_emb_sq8_codes,
            ),
            "embedding",
        ),
        "documents": (
            (
                rl.q_doc_lsh_verified_pairs,
                rl.q_doc_dsir_weights,
                rl.q_doc_lm_ppl,
                rl.q_doc_simhash,
                rl.q_doc_profile,
                rl.q_doc_embed_hash,
                rl.q_corpus_curation_pipeline_2l,
            ),
            "text",
        ),
    }[table]

    def run():
        out = {}
        for q in queries:
            out[q.__name__] = sorted(map(tuple, q(spark, sf).collect()))
            # a frame left persisted would serve the old file's rows to
            # any later plan over the same path, hiding the cache layer
            release_tracked()
        return out

    rl.release_ivf_indexes()
    try:
        before = run()
        # perturb: every id takes another id's vector (unit-norm) or
        # text, so seeds, query vectors, cells, scores and pairs move
        path = f"{sf}/{table}.parquet"
        t = pq.read_table(path)
        i = t.schema.get_field_index(column)
        pq.write_table(t.set_column(i, column, t.column(i)[::-1]), path)
        cached = run()
        rl.release_ivf_indexes()
        fresh = run()
    finally:
        rl.release_ivf_indexes()
    assert fresh != before
    for name in fresh:
        assert cached[name] == fresh[name], name
