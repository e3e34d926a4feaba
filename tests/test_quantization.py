"""Product quantization (operators/quantization.py): codebook shape,
encode determinism, ADC arithmetic replayed exactly in Python, and
guard behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from comp5339dataengineering_realtimefuelanalysis_spark.operators import quantization as qz

DIM, M, KS = 8, 4, 4
D = DIM // M


def _vec(seed: int) -> list[float]:
    import hashlib

    return [
        (int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:6], 16)
         % 2001 - 1000) / 4000.0
        for i in range(DIM)
    ]


def _corpus(spark, n=40):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in range(n)],
        "vec_id long, embedding array<float>",
    )


def test_pq_shapes_codes_and_determinism(spark):
    df = _corpus(spark)
    books = qz.pq_train(df, m=M, ks=KS, dim=DIM)
    rows = books.collect()
    by_sub: dict[int, set] = {}
    for r in rows:
        assert len(r.c_svec) == D
        by_sub.setdefault(r.sub, set()).add(r.cid)
    assert set(by_sub) == set(range(M))
    assert all(0 < len(c) <= KS for c in by_sub.values())

    codes = qz.pq_encode(df, books, m=M, dim=DIM).collect()
    # exactly one code per (vector, subspace), codes from that sub's book
    assert len(codes) == 40 * M
    assert {(r.vec_id, r.sub) for r in codes} == {
        (i, j) for i in range(40) for j in range(M)
    }
    for r in codes:
        assert r.code in by_sub[r.sub]
    # determinism: retrain + re-encode is byte-identical
    again = qz.pq_encode(
        df, qz.pq_train(df, m=M, ks=KS, dim=DIM), m=M, dim=DIM
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, codes))


def test_pq_adc_matches_python_replication(spark):
    """ADC distances are exact integer sums of per-sub squared L2 to
    the coded centroid — replay them from the collected codebooks and
    codes and compare every (query, vector) value."""
    df = _corpus(spark, n=25)
    books = qz.pq_train(df, m=M, ks=KS, dim=DIM)
    codes = qz.pq_encode(df, books, m=M, dim=DIM)
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = {
        (r.qid, r.vec_id): int(r.adc_dist)
        for r in qz.pq_adc_topk(
            codes, books, queries, k=25, m=M, dim=DIM
        ).collect()
    }

    def scaled(v):
        from decimal import Decimal, ROUND_HALF_UP

        return [
            int(Decimal(float(x) * 1e9).quantize(0, ROUND_HALF_UP))
            for x in v
        ]

    cent = {(r.sub, r.cid): r.c_svec for r in books.collect()}
    code = {(r.vec_id, r.sub): r.code for r in codes.collect()}
    vecs = {r.vec_id: scaled(r.embedding) for r in df.collect()}
    for (qid, vid), adc in got.items():
        exp = 0
        for j in range(M):
            qs = vecs[qid][j * D:(j + 1) * D]
            cs = cent[(j, code[(vid, j)])]
            exp += sum((a - b) * (a - b) for a, b in zip(qs, cs))
        assert adc == exp, (qid, vid)
    # ranks follow (adc_dist, vec_id) exactly — k=25 returned all rows
    assert len(got) == 3 * 25


def test_pq_adc_self_top1_on_separated_clusters(spark):
    """Three well-separated clusters: a query that IS a corpus vector
    must rank itself first — its ADC distance is only its own
    quantization error, far below the inter-cluster distance."""
    # ids interleaved across clusters (id % 3 == cluster) so the
    # lowest-id training seeds land one per cluster — seeding three
    # Lloyd seeds inside one cluster can leave two true clusters
    # merged under a shared centroid (ADC then ties across clusters)
    rows = []
    for c, base in enumerate([0.4, 0.0, -0.4]):
        for i in range(6):
            rows.append(
                (i * 3 + c,
                 [base + (0.002 * ((i + d) % 3)) for d in range(DIM)])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = qz.pq_train(df, m=M, ks=3, dim=DIM)
    codes = qz.pq_encode(df, books, m=M, dim=DIM)
    queries = df.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    top1 = {
        r.qid: r.vec_id
        for r in qz.pq_adc_topk(
            codes, books, queries, k=18, m=M, dim=DIM
        ).filter(F.col("rank") == 1).collect()
    }
    # top-1 stays within the query's own cluster (codes are shared
    # cluster-wide, so same-cluster members tie at the same ADC
    # distance; the vec_id tiebreak picks the lowest member)
    for c in (0, 1, 2):
        assert top1[c] % 3 == c, top1


def test_pq_guards(spark):
    df = _corpus(spark, n=8)
    with pytest.raises(ValueError, match="not divisible"):
        qz.pq_train(df, m=3, ks=4, dim=DIM)
    # wrong-width vector raises loudly instead of mis-slicing
    bad = spark.createDataFrame(
        [(1, [0.1] * (DIM + 1))], "vec_id long, embedding array<float>"
    )
    books = qz.pq_train(df, m=M, ks=KS, dim=DIM)
    with pytest.raises(Exception, match="does not match unrolled dim"):
        qz.pq_encode(bad, books, m=M, dim=DIM).collect()

def test_ivf_pq_probes_all_equals_flat_adc_and_prunes(spark, tmp_path):
    """IVF-PQ vs flat ADC: probing EVERY cell must reproduce
    pq_adc_topk exactly (cell pruning changes the candidate set, never
    a surviving distance); fewer probes only lose, never invent,
    pairs; and the probe join partition-prunes the code-index scan."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
        similarity as sim,
    )

    df = _corpus(spark, n=40)
    qs = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    k_cells = 3
    cents = sim.kmeans_train_centroids(df, k=k_cells, iters=2)
    books = qz.pq_train(df, m=M, ks=KS, dim=DIM)
    path = str(tmp_path / "ivf_pq")
    qz.ivf_pq_write(df, cents, books, path, m=M, dim=DIM)
    # at rest: codes only — the vector column is NOT stored
    idx = spark.read.parquet(path)
    assert set(idx.columns) == {"vec_id", "sub", "code", "cluster_id"}

    codes = qz.pq_encode(df, books, m=M, dim=DIM)
    flat = {
        (r.qid, r.vec_id): (int(r.adc_dist), r.rank)
        for r in qz.pq_adc_topk(
            codes, books, qs, k=10, m=M, dim=DIM
        ).collect()
    }
    full = {
        (r.qid, r.vec_id): (int(r.adc_dist), r.rank)
        for r in qz.ivf_pq_topk(
            spark, path, books, qs, cents, k=10, probes=k_cells,
            m=M, dim=DIM,
        ).collect()
    }
    assert full == flat  # all cells probed == flat ADC

    got1 = {
        (r.qid, r.vec_id)
        for r in qz.ivf_pq_topk(
            spark, path, books, qs, cents, k=10, probes=1, m=M, dim=DIM
        ).collect()
    }
    got2 = {
        (r.qid, r.vec_id)
        for r in qz.ivf_pq_topk(
            spark, path, books, qs, cents, k=10, probes=2, m=M, dim=DIM
        ).collect()
    }
    # probes only add recall against the flat-ADC reference
    assert len(got1 & set(flat)) <= len(got2 & set(flat))

    plan = (
        qz.ivf_pq_topk(
            spark, path, books, qs, cents, k=10, probes=2, m=M, dim=DIM
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_ivf_pq_rerank_recovers_exact_cosine(spark, tmp_path):
    """Two-stage retrieval contract: with all cells probed and
    candidates = n, the exact re-rank stage must reproduce brute-force
    cosine_topk EXACTLY (stage 1 then recalls everything and stage 2
    is a full exact scoring); smaller candidate budgets only lose
    recall, never invent pairs; and recall is monotone in the budget."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
        similarity as sim,
    )

    df = _corpus(spark, n=40)
    qs = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    k_cells = 3
    cents = sim.kmeans_train_centroids(df, k=k_cells, iters=2)
    books = qz.pq_train(df, m=M, ks=KS, dim=DIM)
    path = str(tmp_path / "ivf_pq_rr")
    qz.ivf_pq_write(df, cents, books, path, m=M, dim=DIM)

    truth = {
        (r.qid, r.vec_id): (r.cosine, r.rank)
        for r in sim.cosine_topk(qs, df, k=10).collect()
    }
    full = {
        (r.qid, r.vec_id): (r.cosine, r.rank)
        for r in qz.ivf_pq_rerank_topk(
            spark, path, books, qs, cents, df,
            k=10, candidates=40, probes=k_cells, m=M, dim=DIM,
        ).collect()
    }
    assert full == truth  # all probed + all recalled == brute force

    got5 = {
        (r.qid, r.vec_id)
        for r in qz.ivf_pq_rerank_topk(
            spark, path, books, qs, cents, df,
            k=10, candidates=5, probes=k_cells, m=M, dim=DIM,
        ).collect()
    }
    got20 = {
        (r.qid, r.vec_id)
        for r in qz.ivf_pq_rerank_topk(
            spark, path, books, qs, cents, df,
            k=10, candidates=20, probes=k_cells, m=M, dim=DIM,
        ).collect()
    }
    assert len(got5 & set(truth)) <= len(got20 & set(truth))
    # the exact stage's scores are true cosines: every returned pair
    # that IS in the brute-force top-10 carries the identical score
    for pair, (cos, _r) in full.items():
        assert truth[pair][0] == cos


def test_sq8_python_replay_and_topk(spark):
    """SQ8 train/encode/distance replayed exactly in plain Python from
    the same inputs (codebook = per-dim (min, ceil-step), codes =
    floor-div, distance = midpoint-reconstruction squared L2 on the
    grid), plus the rank contract and the 0..255 code bound."""
    df = _corpus(spark, n=30)
    stats = qz.sq8_train(df, dim=DIM)
    codes = qz.sq8_encode(df, stats, dim=DIM)
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = {
        (r.qid, r.rank): (r.vec_id, r.sq_dist)
        for r in qz.sq8_topk(codes, stats, queries, k=5, dim=DIM)
        .collect()
    }

    # plain-Python replay — through float32 (the column type) and
    # HALF_UP rounding (Spark's F.round), like the engine
    import struct
    from decimal import ROUND_HALF_UP, Decimal

    S = 1_000_000_000

    def grid(x: float) -> int:
        f = struct.unpack("f", struct.pack("f", x))[0]
        return int(Decimal(f * S).quantize(0, ROUND_HALF_UP))

    vecs = {i: [grid(x) for x in _vec(i)] for i in range(30)}
    vmin = [min(v[j] for v in vecs.values()) for j in range(DIM)]
    vmax = [max(v[j] for v in vecs.values()) for j in range(DIM)]
    step = [max((vmax[j] - vmin[j] + 254) // 255, 1) for j in range(DIM)]
    code = {
        i: [(v[j] - vmin[j]) // step[j] for j in range(DIM)]
        for i, v in vecs.items()
    }
    assert all(0 <= c <= 255 for cs in code.values() for c in cs)
    recon = {
        i: [vmin[j] + cs[j] * step[j] + step[j] // 2
            for j in range(DIM)]
        for i, cs in code.items()
    }
    for q in range(3):
        dists = sorted(
            (sum((vecs[q][j] - recon[i][j]) ** 2 for j in range(DIM)), i)
            for i in vecs
        )
        for rank, (dist, i) in enumerate(dists[:5], start=1):
            assert got[(q, rank)] == (i, dist), (q, rank)

    # encode parity with the replay (spot-check shape + values)
    enc = {(r.vec_id, r.dim): r.code for r in codes.collect()}
    assert len(enc) == 30 * DIM
    for i in (0, 7, 29):
        for j in range(DIM):
            assert enc[(i, j)] == code[i][j]


def test_sq8_encode_out_of_range_saturates(spark):
    """Encoding vectors OUTSIDE the trained per-dim range saturates to
    code 0 / 255 (the FAISS SQ8 posture) instead of emitting codes the
    0..255 distance LUT silently drops: every dim keeps contributing
    to sq8_topk's sum, so an off-distribution vector still gets a
    full-rank (if shift-degraded) distance."""
    df = _corpus(spark, n=30)
    stats = qz.sq8_train(df, dim=DIM)
    far = spark.createDataFrame(
        [
            (100, [10.0] * DIM),    # above every trained vmax
            (101, [-10.0] * DIM),   # below every trained vmin
        ],
        "vec_id long, embedding array<float>",
    )
    codes = qz.sq8_encode(far, stats, dim=DIM)
    got = {(r.vec_id, r.dim): r.code for r in codes.collect()}
    assert len(got) == 2 * DIM
    assert all(got[(100, j)] == 255 for j in range(DIM))
    assert all(got[(101, j)] == 0 for j in range(DIM))
    # the saturated codes join the full LUT: all DIM terms present in
    # the distance sum, both far vectors ranked for every query
    q = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    all_codes = qz.sq8_encode(df, stats, dim=DIM).union(codes)
    top = qz.sq8_topk(all_codes, stats, q, k=32, dim=DIM)
    by_q: dict[int, set[int]] = {}
    for r in top.collect():
        by_q.setdefault(r.qid, set()).add(r.vec_id)
    for qid in (0, 1):
        assert {100, 101} <= by_q[qid]


def test_ivf_sq8_probes_all_equals_flat_and_prunes(spark, tmp_path):
    """IVF-SQ8 vs flat SQ8: probing EVERY cell must reproduce sq8_topk
    exactly; the at-rest index stores codes only; the probe join
    partition-prunes the code-index scan."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
        similarity as sim,
    )

    df = _corpus(spark, n=40)
    qs = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    k_cells = 3
    cents = sim.kmeans_train_centroids(df, k=k_cells, iters=2)
    stats = qz.sq8_train(df, dim=DIM)
    path = str(tmp_path / "ivf_sq8")
    qz.ivf_sq8_write(df, cents, stats, path, dim=DIM)
    idx = spark.read.parquet(path)
    assert set(idx.columns) == {"vec_id", "dim", "code", "cluster_id"}

    codes = qz.sq8_encode(df, stats, dim=DIM)
    flat = {
        (r.qid, r.vec_id): (int(r.sq_dist), r.rank)
        for r in qz.sq8_topk(codes, stats, qs, k=10, dim=DIM).collect()
    }
    full = {
        (r.qid, r.vec_id): (int(r.sq_dist), r.rank)
        for r in qz.ivf_sq8_topk(
            spark, path, stats, qs, cents, k=10, probes=k_cells, dim=DIM
        ).collect()
    }
    assert full == flat

    # fewer probes shrink the candidate pool: every returned distance
    # is still the exact flat-SQ8 distance for that pair (pruning
    # changes WHICH pairs rank, never a surviving value)
    all_flat = {
        (r.qid, r.vec_id): int(r.sq_dist)
        for r in qz.sq8_topk(codes, stats, qs, k=40, dim=DIM).collect()
    }
    got1 = {
        (r.qid, r.vec_id): int(r.sq_dist)
        for r in qz.ivf_sq8_topk(
            spark, path, stats, qs, cents, k=10, probes=1, dim=DIM
        ).collect()
    }
    for pair, dist in got1.items():
        assert all_flat[pair] == dist, pair

    plan = (
        qz.ivf_sq8_topk(
            spark, path, stats, qs, cents, k=10, probes=2, dim=DIM
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_pq_train_fused_matches_per_sub(spark, monkeypatch):
    """The fused (sub, cid)-keyed Lloyd chain must be BIT-exact to the
    DuckDB oracle's m independent per-subspace chains (_sql_pq_ctes):
    same seeds, same argmin tiebreak, same floor-div re-quantization —
    the subspaces only ride shared aggregates as independent key
    groups. Checked at iters 0 (pure seeds), 1, and 2."""
    import duckdb

    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    n = 40
    corpus = _corpus(spark, n=n)
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)",
        [(i, _vec(i)) for i in range(n)],
    )
    monkeypatch.setattr(rl, "_PQ_M", M)
    monkeypatch.setattr(rl, "_PQ_KS", KS)
    monkeypatch.setattr(rl, "_EMB_DIM", DIM)

    for iters in (0, 1, 2):
        monkeypatch.setattr(rl, "_PQ_ITERS", iters)
        want = sorted(
            (sub, cid, tuple(c_svec))
            for sub, cid, c_svec in con.execute(
                f"WITH {rl._sql_pq_ctes()}"
                " SELECT sub, cid, c_svec FROM pqbooks"
            ).fetchall()
        )
        got = sorted(
            (r.sub, r.cid, tuple(r.c_svec))
            for r in qz.pq_train(
                corpus, m=M, ks=KS, iters=iters, dim=DIM
            ).collect()
        )
        assert got == want, f"iters={iters}"
