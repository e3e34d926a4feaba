"""Product quantization (PQ) for embedding columns: train sub-space
codebooks, encode vectors to m small codes, and answer top-k by
asymmetric distance computation (ADC) over the codes.

Why this exists at 100 TB: a 64-dim float32 embedding is 256 bytes; its
PQ code at m=4 subspaces x 16 centroids is 4 bytes (6 bits used). ADC
scans codes + a per-query lookup table instead of raw vectors, so the
candidate scan reads ~64x less and never touches the vector column —
the standard IVF-PQ recipe (Jégou et al. 2011, "Product Quantization
for Nearest Neighbor Search"). Here PQ is the orthogonal compression
axis to the existing blocking paths: compose with the IVF cell index
(operators/similarity.py: ivf_write_kmeans) by encoding within cells.

Everything is integer-exact on the 1e9 grid, so the whole chain —
sub-codebook training (the same deterministic floor-div Lloyd as
kmeans_train_centroids, per dim/m-wide slice), code assignment (argmin
with cid tiebreak), and ADC distances (sums of per-sub integer squared
L2) — replays bit-exactly in the DuckDB oracle. No RNG anywhere:
seeds are the lowest-id vectors' slices.

Overflow discipline (same Cauchy-Schwarz ledger as similarity.py):
vectors are unit-norm on the grid (|x| <= ~1e9), sub-slices inherit
the bound, and the ADC TOTAL over the m subspaces is exactly the
FULL-vector squared grid distance (the sub squared-L2 terms partition
the dims), so the total obeys the same full-vector bound
|q - c|^2 <= (|q| + |c|)^2 <= 4e18 < 2^63 — int64 is safe for every
per-sub term AND the final sum (measured max at sf0.01: 9.2e17).
adc_dist is therefore emitted as bigint on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import (
    _ACC,
    _dim_guard,
    kmeans_assign,
    l2sq_scaled_unrolled,
    scaled_vec,
)


def _sub_slices(
    df: DataFrame, id_cols: list[str], vec_col: str, m: int, dim: int
) -> DataFrame:
    """One row per (ids..., sub) with the int64-scaled dim/m-wide
    sub-vector ``svec``. The slice happens on the FLOAT vector and the
    scaling per element, so slice-then-scale == scale-then-slice and
    the oracle's list_slice replay is exact. Size-guarded before the
    explode — a wrong-width vector raises instead of mis-slicing."""
    d = dim // m
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("sub"),
                scaled_vec(
                    F.slice(
                        _dim_guard(F.col(vec_col), dim, F.col(vec_col)),
                        j * d + 1,
                        d,
                    )
                ).alias("svec"),
            )
            for j in range(m)
        ]
    )
    return df.select(*id_cols, F.explode(subs).alias("_t")).select(
        *id_cols, F.col("_t.sub").alias("sub"), F.col("_t.svec").alias("svec")
    )


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    ks: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Sub-space codebooks ``(sub, cid, c_svec)``: one deterministic
    exact-integer Lloyd run (the kmeans_train_centroids math — lowest-id
    seeds, (dist, cid) argmin tiebreak, floor-div re-quantization) per
    dim/m-wide slice.

    The m sub-trainings are FUSED into ONE Lloyd chain keyed on
    (sub, cid): the subspaces ride the same aggregates as independent
    key groups (slicing keeps ids, scale-then-slice ==
    slice-then-scale). Per-subspace chains (whether numpy-kernel, with
    one eager centroid collect per iteration per subspace, or exploded
    and lazily unioned, with m copies of every stage in one plan)
    measured 7.4–11.7 s at sf0.1 for m=16, almost all of it
    scheduler/plan overhead on tiny frames; the fused chain measured
    ~0.6 s warm. Tested bit-exact against the DuckDB oracle's m
    per-subspace chains (plans/registry_llm.py:_sql_pq_ctes)."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    d = dim // m
    slices = _sub_slices(corpus, [id_col], vec_col, m, dim)
    # k lowest-id seeds, shared by every subspace (each id appears in
    # all m slice groups); broadcast-tiny by construction
    seed_ids = corpus.orderBy(F.col(id_col)).limit(ks).select(id_col)
    cents = slices.join(F.broadcast(seed_ids), id_col).select(
        "sub", F.col(id_col).alias("cid"), F.col("svec").alias("c_svec")
    )
    dist = l2sq_scaled_unrolled(
        F.col("svec"), F.col("c_svec"), d
    )
    quant = (
        (
            F.col("s")
            - F.pmod(F.col("s"), F.col("n_members").cast(_ACC))
        )
        / F.col("n_members").cast(_ACC)
    ).cast("long")
    for _ in range(iters):
        # assignment: broadcast the m*ks centroid rows, fan out per
        # (vector, sub), collapse map-side — pq_encode's proven shape
        assigned = (
            slices.join(F.broadcast(cents), "sub")
            .select(id_col, "sub", "svec", "cid", dist.alias("dist"))
            .groupBy(id_col, "sub")
            .agg(
                F.min_by("cid", F.struct("dist", "cid")).alias("cid"),
                # identical across the ks fan-out rows of this (id, sub)
                F.first("svec").alias("svec"),
            )
        )
        cents = (
            assigned.select(
                "sub", "cid", F.posexplode("svec").alias("dim", "sv")
            )
            .groupBy("sub", "cid", "dim")
            .agg(
                F.count(F.lit(1)).alias("n_members"),
                F.sum(F.col("sv").cast(_ACC)).alias("s"),
            )
            .withColumn("cv", quant)
            .groupBy("sub", "cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "cv"))
                ).alias("dc")
            )
            .select(
                "sub",
                "cid",
                F.transform(F.col("dc"), lambda x: x["cv"]).alias(
                    "c_svec"
                ),
            )
        )
    return cents


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """PQ codes ``(id_col, sub, code)`` — each vector's nearest
    sub-centroid per subspace (exact int64 squared L2, lowest-cid
    tiebreak). Exploded columnar form: it is both the at-rest layout
    (group by id to get the packed code array) and the join shape ADC
    consumes. Scale: n*m narrow rows through one broadcast-HASH join
    on ``sub`` (the dim-unrolled distance evaluates inside whole-stage
    codegen above an equi-join, unlike the nested-loop fan-out) and
    one map-side-combined argmin shuffle."""
    d = dim // m
    ex = _sub_slices(corpus, [id_col], vec_col, m, dim)
    dist = l2sq_scaled_unrolled(
        F.col("svec"), F.col("c_svec"), d
    )
    return (
        ex.join(F.broadcast(codebooks), "sub")
        .select(id_col, "sub", "cid", dist.alias("dist"))
        .groupBy(id_col, "sub")
        .agg(F.min_by("cid", F.struct("dist", "cid")).alias("code"))
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k by asymmetric distance: per query build the
    (sub, code) -> squared-sub-distance lookup table against the RAW
    query slices (q x m x ks rows — broadcast-tiny), then every code
    row joins its LUT entry and distances sum per (query, vector).
    Output ``(qid, vec_id, adc_dist, rank)`` with adc_dist the EXACT
    integer grid value as bigint (the m-sub total IS the full-vector
    squared grid distance, <= 4e18 under the unit-norm ledger — see
    module docstring) and rank the (adc_dist, vec_id)-ordered
    position, 1..k.

    Scale shape: codes join a BROADCAST lut on (sub, code) — n*m rows
    replicated per query map-side, collapsed by a map-side-combined
    (qid, id) sum, then a per-query top-k window over n*q narrow rows.
    At corpus scale, prune candidates FIRST (IVF cells /
    ivf_kmeans_topk) and ADC-rank within probed cells; the LUT join
    never reads the vector column at all — that is the point of PQ."""
    d = dim // m
    qsub = _sub_slices(queries, [qid_col], qvec_col, m, dim)
    lut = qsub.join(F.broadcast(codebooks), "sub").select(
        qid_col,
        "sub",
        F.col("cid").alias("code"),
        l2sq_scaled_unrolled(
            F.col("svec"), F.col("c_svec"), d
        ).alias("_sd"),
    )
    dists = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(qid_col, id_col)
        .agg(F.sum("_sd").alias("adc_dist"))
    )
    w = Window.partitionBy(qid_col).orderBy("adc_dist", id_col)
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "adc_dist", "rank")
    )


def ivf_pq_write(
    corpus: DataFrame,
    cents: DataFrame,
    codebooks: DataFrame,
    path: str,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Materialize the IVF-PQ layout — the full Jégou et al. recipe's
    at-rest half: PQ codes partitioned on disk by nearest-trained-
    centroid cell. Each row is ``(id_col, sub, code)`` under a
    ``cluster_id=`` partition directory; the raw vector column is NOT
    stored — a probed scan reads m small ints per vector instead of
    dim floats (the ~64x read-volume cut PQ exists for), and exact
    re-scoring, when a caller wants it, goes back to the source table
    by id. One cell-assignment shuffle + one encode shuffle, then a
    partitioned write; nothing corpus-sized through the driver. The
    cell assignment is the exact numpy kernel, which takes its width
    from ``cents``; ``dim`` sizes the PQ sub-slices only."""
    assigned = kmeans_assign(corpus, cents, id_col, vec_col).select(
        id_col, "cluster_id"
    )
    codes = pq_encode(corpus, codebooks, m, id_col, vec_col, dim)
    (
        # cluster the rows by their output partition before the
        # partitioned write (guide §6): without it every write task
        # opens a file per cell it happens to hold (tasks x cells
        # small files + commit overhead); with it each cell's rows
        # land in one task. At very large per-cell volumes add a
        # within-cell salt sized to the target file size.
        codes.join(assigned, id_col)
        .repartition(F.col("cluster_id"))
        .write.partitionBy("cluster_id")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_pq_topk(
    spark,
    path: str,
    codebooks: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    k: int = 10,
    probes: int = 1,
    m: int = 4,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ top-k against a materialized ``ivf_pq_write`` index —
    the composition pq_adc_topk's docstring promises: prune candidates
    FIRST (each query ranks the k trained centroids by exact full-dim
    integer L2 and probes its ``probes`` nearest cells — classic
    nprobe), then ADC-rank WITHIN the probed cells only. The probe
    frame broadcasts into the join against the cluster_id-partitioned
    code index, so dynamic partition pruning skips every un-probed
    cell's files, and the scan that remains reads codes — never the
    vector column.

    Candidate semantics are exact and oracle-replayable: a vector is a
    candidate for a query iff its (unique) cell is among the query's
    ``probes`` nearest centroids; adc_dist is the same integer grid
    value pq_adc_topk emits (bigint under the unit-norm ledger); rank
    is (adc_dist, id)-ordered within candidates, 1..k. A query whose
    probed cells hold fewer than k vectors returns fewer rows — ANN
    contract, same as ivf_kmeans_topk.

    Scale shape per query batch: one broadcast k-row centroid ranking
    (no shuffle), one DPP-pruned code scan joined to a broadcast
    (qid, sub, code) LUT, one map-side-combined (qid, id) sum, one
    per-query top-k window. Corpus-sized work touches only the probed
    fraction of code rows — probes/k of n*m small ints."""
    index = spark.read.parquet(path)
    q = queries.select(
        F.col(qid_col),
        scaled_vec(
            _dim_guard(F.col(qvec_col), dim, F.col(qvec_col))
        ).alias("q_svec"),
    )
    cell_d = l2sq_scaled_unrolled(
        F.col("q_svec"), F.col("c_svec"), dim
    )
    wp = Window.partitionBy(qid_col).orderBy("dist", "cid")
    probed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("dist", cell_d)
        .withColumn("cell_rank", F.row_number().over(wp))
        .filter(F.col("cell_rank") <= probes)
        .select(qid_col, F.col("cid").alias("cluster_id"))
    )
    d = dim // m
    qsub = _sub_slices(queries, [qid_col], qvec_col, m, dim)
    lut = qsub.join(F.broadcast(codebooks), "sub").select(
        qid_col,
        "sub",
        F.col("cid").alias("code"),
        l2sq_scaled_unrolled(
            F.col("svec"), F.col("c_svec"), d
        ).alias("_sd"),
    )
    dists = (
        index.join(F.broadcast(probed), "cluster_id")
        .join(F.broadcast(lut), [qid_col, "sub", "code"])
        .groupBy(qid_col, id_col)
        .agg(F.sum("_sd").alias("adc_dist"))
    )
    w = Window.partitionBy(qid_col).orderBy("adc_dist", id_col)
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "adc_dist", "rank")
    )


def ivf_pq_rerank_topk(
    spark,
    path: str,
    codebooks: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    candidates: int = 50,
    probes: int = 1,
    m: int = 4,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Two-stage IVF-PQ retrieval — the production recipe complete:
    stage 1 recalls ``candidates`` ids per query by ADC over the
    DPP-pruned code index (ivf_pq_topk — reads codes, never vectors),
    stage 2 fetches ONLY those candidates' raw vectors from the source
    table and re-ranks the top ``k`` by EXACT cosine. ADC's
    quantization error caps stage-1 precision; the exact re-rank
    restores it while touching ``candidates``/n of the vector bytes —
    the read-volume ledger that makes PQ pay at 100 TB.

    Deterministic end to end (ADC ties break on id; exact ties on
    cosine desc then id), so the whole two-stage plan replays in the
    SQL oracle. Scale shape: stage 1 as ivf_pq_topk; stage 2 is a
    BROADCAST of the q*candidates id pairs into one join against the
    source table (a point-lookup join at scale — partition-prunable
    when the source is id-bucketed), one codegen cosine per surviving
    pair, one per-query top-k window."""
    from .similarity import attach_scaled, dot_scaled

    adc = ivf_pq_topk(
        spark,
        path,
        codebooks,
        queries,
        cents,
        k=candidates,
        probes=probes,
        m=m,
        qid_col=qid_col,
        qvec_col=qvec_col,
        id_col=id_col,
        dim=dim,
    ).select(qid_col, id_col)
    q = attach_scaled(queries, qvec_col, "q_").select(
        qid_col, "q_svec", "q_norm"
    )
    cand_vecs = corpus.join(
        F.broadcast(adc), id_col
    )  # candidates/n of the vector column, by id
    scored = (
        cand_vecs.join(F.broadcast(q), qid_col)
        .select(
            qid_col,
            id_col,
            (
                dot_scaled(
                    scaled_vec(
                        _dim_guard(
                            F.col(vec_col), dim, F.col(vec_col)
                        )
                    ),
                    F.col("q_svec"),
                ).cast("double")
                / (F.col("q_norm") * _corpus_norm(vec_col))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cosine").desc(), id_col
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "cosine", "rank")
    )


def _corpus_norm(vec_col: str):
    """L2 norm of the scaled corpus vector — inline (per candidate row,
    not per pair: the q side is the only fan-out and it is broadcast)."""
    from .similarity import dot_scaled

    sv = scaled_vec(F.col(vec_col))
    return F.sqrt(dot_scaled(sv, sv).cast("double"))


# ---------------------------------------------------------------------------
# SQ8 scalar quantization — the high-fidelity compression tier beside PQ
# ---------------------------------------------------------------------------


def sq8_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-DIMENSION 8-bit affine codebook ``(dim, vmin, step)`` on the
    int64 grid — scalar quantization (the FAISS "SQ8" tier): each
    element compresses to one byte against its dimension's observed
    range, 4x smaller than float32 at far higher fidelity than PQ's
    m-byte codes (PQ is the 64x read-volume axis, SQ8 the cheap
    accuracy-preserving one; both scan code columns, never vectors).

    Integer-exact by construction: values live on the 1e9 grid,
    ``step = max((vmax - vmin + 254) div 255, 1)`` is CEIL division so
    codes fit 0..255 with no clamp branch, and train/encode/distance
    all replay in the oracle as integer arithmetic. Deterministic —
    no RNG, no iteration; the codebook is two aggregates.

    Scale shape: one posexplode + map-side-combined groupBy over
    (dim) — dim rows out, broadcast-sized forever."""
    ex = corpus.select(
        F.posexplode(
            scaled_vec(_dim_guard(F.col(vec_col), dim, F.col(vec_col)))
        ).alias("dim", "v")
    )
    return (
        ex.groupBy("dim")
        .agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
        .select(
            "dim",
            "vmin",
            F.greatest(
                F.expr("(vmax - vmin + 254) div 255"), F.lit(1)
            ).cast("long").alias("step"),
        )
    )


def sq8_encode(
    corpus: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """SQ8 codes ``(id_col, dim, code)`` — exploded columnar form (the
    at-rest layout and the join shape sq8_topk consumes), code =
    (v - vmin) div step in 0..255 by the ceil-step construction.
    Scale: n*dim narrow rows through one broadcast dim-row join —
    map-only, no shuffle.

    Values OUTSIDE the trained per-dim [vmin, vmax] range (encoding a
    batch the codebook wasn't trained on) SATURATE to code 0 / 255 —
    the FAISS SQ8 posture. Without the clamp an out-of-range code
    would silently vanish from sq8_topk's distance sum (its LUT inner
    join covers 0..255 only), understating sq_dist and corrupting
    ranks; saturation keeps every dim in the sum with the boundary
    reconstruction as its (distribution-shift-bounded) stand-in. The
    codebook is only VALID for the training distribution — retrain on
    drift, don't rely on saturation fidelity."""
    ex = corpus.select(
        F.col(id_col),
        F.posexplode(
            scaled_vec(_dim_guard(F.col(vec_col), dim, F.col(vec_col)))
        ).alias("dim", "v"),
    )
    return ex.join(F.broadcast(stats), "dim").select(
        id_col,
        "dim",
        F.least(
            F.greatest(F.expr("(v - vmin) div step"), F.lit(0)),
            F.lit(255),
        ).cast("int").alias("code"),
    )


def sq8_topk(
    codes: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    k: int = 10,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k against SQ8 codes by asymmetric distance —
    the pq_adc_topk shape with (sub -> dim, ks -> 256): per query
    build the (dim, code) -> squared-distance LUT against the
    MIDPOINT reconstruction (recon = vmin + code*step + step div 2 —
    halves the worst-case error vs left-edge), codes join their LUT
    entry, distances sum per (query, vector). Output ``(qid, vec_id,
    sq_dist, rank)``; sq_dist is the exact integer grid distance to
    the reconstruction (bigint — the dim-term total is the full-vector
    squared grid distance |q - recon|^2 <= (|q| + |recon|)^2, the same
    unit-norm ledger as PQ with |recon| <= |x| + sqrt(dim)*step slack).

    Scale shape: codes join a BROADCAST lut of q*dim*256 rows — the
    candidate scan reads n*dim one-byte codes and never the vector
    column; one map-side-combined (qid, id) sum; one per-query top-k
    window. Compose with the IVF cell index exactly as PQ does when
    the corpus outgrows a flat scan."""
    lutbase = stats.select(
        "dim",
        "vmin",
        "step",
        F.explode(F.sequence(F.lit(0), F.lit(255))).alias("code"),
    ).select(
        "dim",
        "code",
        F.expr("vmin + code * step + (step div 2)").alias("recon"),
    )
    q = queries.select(
        F.col(qid_col),
        F.posexplode(
            scaled_vec(_dim_guard(F.col(qvec_col), dim, F.col(qvec_col)))
        ).alias("dim", "qv"),
    )
    lut = q.join(F.broadcast(lutbase), "dim").select(
        qid_col,
        "dim",
        "code",
        (
            (F.col("qv") - F.col("recon"))
            * (F.col("qv") - F.col("recon"))
        ).alias("_sd"),
    )
    dists = (
        codes.join(F.broadcast(lut), ["dim", "code"])
        .groupBy(qid_col, id_col)
        .agg(F.sum("_sd").alias("sq_dist"))
    )
    w = Window.partitionBy(qid_col).orderBy("sq_dist", id_col)
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "sq_dist", "rank")
    )


def ivf_sq8_write(
    corpus: DataFrame,
    cents: DataFrame,
    stats: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Materialize the IVF-SQ8 layout: SQ8 codes partitioned on disk
    by nearest-trained-centroid cell — ivf_pq_write's at-rest recipe
    at the high-fidelity tier (dim one-byte codes per vector instead
    of m; measured 0.963 recall@10 where the tiny-codebook PQ tier
    pays real recall — SCALE_MEASURED.json ann_recall_quantized). The
    raw vector column is NOT stored. One cell-assignment shuffle +
    one map-only encode, then a partitioned write. The cell assignment
    is the exact numpy kernel, which takes its width from ``cents``;
    ``dim`` validates the SQ8 encode only."""
    assigned = kmeans_assign(corpus, cents, id_col, vec_col).select(
        id_col, "cluster_id"
    )
    codes = sq8_encode(corpus, stats, id_col, vec_col, dim)
    (
        # cluster by output partition before the write (see
        # ivf_pq_write's note — one task per cell, k files not
        # tasks x cells)
        codes.join(assigned, id_col)
        .repartition(F.col("cluster_id"))
        .write.partitionBy("cluster_id")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_sq8_topk(
    spark,
    path: str,
    stats: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    k: int = 10,
    probes: int = 1,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """IVF-SQ8 top-k against a materialized ivf_sq8_write index —
    ivf_pq_topk's composition with the SQ8 LUT: each query ranks the
    trained centroids by exact full-dim integer L2 and probes its
    ``probes`` nearest cells (broadcast probe frame -> dynamic
    partition pruning skips un-probed cells' files), then SQ8
    asymmetric distance ranks within the probed cells only. Candidate
    semantics, output contract (qid, vec_id, sq_dist, rank), and the
    integer-grid ledger match sq8_topk; the probed scan reads dim
    one-byte codes per vector, never the vector column."""
    index = spark.read.parquet(path)
    q = queries.select(
        F.col(qid_col),
        scaled_vec(
            _dim_guard(F.col(qvec_col), dim, F.col(qvec_col))
        ).alias("q_svec"),
    )
    cell_d = l2sq_scaled_unrolled(
        F.col("q_svec"), F.col("c_svec"), dim
    )
    wp = Window.partitionBy(qid_col).orderBy("dist", "cid")
    probed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("dist", cell_d)
        .withColumn("cell_rank", F.row_number().over(wp))
        .filter(F.col("cell_rank") <= probes)
        .select(qid_col, F.col("cid").alias("cluster_id"))
    )
    lutbase = stats.select(
        "dim",
        "vmin",
        "step",
        F.explode(F.sequence(F.lit(0), F.lit(255))).alias("code"),
    ).select(
        "dim",
        "code",
        F.expr("vmin + code * step + (step div 2)").alias("recon"),
    )
    qex = queries.select(
        F.col(qid_col),
        F.posexplode(
            scaled_vec(_dim_guard(F.col(qvec_col), dim, F.col(qvec_col)))
        ).alias("dim", "qv"),
    )
    lut = qex.join(F.broadcast(lutbase), "dim").select(
        qid_col,
        "dim",
        "code",
        (
            (F.col("qv") - F.col("recon"))
            * (F.col("qv") - F.col("recon"))
        ).alias("_sd"),
    )
    dists = (
        index.join(F.broadcast(probed), "cluster_id")
        .join(F.broadcast(lut), [qid_col, "dim", "code"])
        .groupBy(qid_col, id_col)
        .agg(F.sum("_sd").alias("sq_dist"))
    )
    w = Window.partitionBy(qid_col).orderBy("sq_dist", id_col)
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "sq_dist", "rank")
    )
