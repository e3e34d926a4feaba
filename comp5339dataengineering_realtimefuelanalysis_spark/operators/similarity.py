"""Similarity search over embedding columns (array<float>).

Two paths:
  * cosine_topk — exact brute force: broadcast the (small) query set,
    score every corpus vector, window top-k. The correctness baseline.
  * ann_lsh_topk — random-hyperplane LSH: bucket corpus + queries by
    sign-pattern, score only within matching buckets. The scale path:
    at 100 TB the corpus never self-joins; per-query cost is bucket-sized.

Determinism: vector elements are scaled to int64 at 1e9 (round(x·1e9)),
products (≤1e18, exact in int64) accumulate into DECIMAL(38,0) — integer
arithmetic is associative, so the dot product is independent of
partition/summation order AND bit-identical to the DuckDB oracle's
SUM(BIGINT)→HUGEINT over the same scaled elements (float sums are
neither). The final cosine division runs in IEEE double on identical
inputs, hence identical outputs. The 1e-9 quantization is far below
float32 input precision, so ranking quality is unaffected.

Hyperplanes for LSH are generated from the same portable md5-based hash
as the dedup operators — no RNG, reproducible everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SCALE = 1_000_000_000.0  # 1e9: element quantization grid
# decimal(38,0) is addition-stable (scale 0 never loses precision) and
# holds ~1e19 products × 1e19 rows without overflow
_ACC = "decimal(38,0)"


def _scaled(x: Column) -> Column:
    """int64 element at 1e9 grid; identical to the oracle's
    CAST(round(CAST(x AS DOUBLE) * 1e9) AS BIGINT)."""
    return F.round(x.cast("double") * F.lit(_SCALE), 0).cast("long")


def scaled_vec(vec: Column) -> Column:
    """Whole vector on the int64 grid (array<long>). Compute this ONCE per
    side before a join: re-scaling inside the pair expression multiplies
    the rounding work by the pair count."""
    return F.transform(vec, _scaled)


def dot_scaled(sa: Column, sb: Column) -> Column:
    """Exact dot of two pre-scaled int64 arrays."""
    prods = F.zip_with(sa, sb, lambda x, y: x * y)
    return F.aggregate(
        prods, F.lit(0).cast(_ACC), lambda acc, x: acc + x.cast(_ACC)
    )


def l2sq_scaled_unrolled(sa: Column, sb: Column, dim: int) -> Column:
    """Exact scaled squared-L2 distance of two pre-scaled int64 arrays
    as a DIM-UNROLLED int64 expression: dim element_at squared
    differences summed. Every term is a plain codegen-able expression —
    higher-order-function lambdas (zip_with/aggregate) never enter
    whole-stage codegen and run on the interpreted path, measured ~30µs
    per evaluation — and int64 accumulation avoids decimal(38,0)
    codegen's per-op BigDecimal allocation (~10µs per 64-term
    evaluation; longs are ~100x cheaper). Use for HOT inner loops
    over a static dim (PQ sub-codebook training, probe-cell ranking);
    the HOF forms remain for dynamic dims and unbounded norms on the
    cosine paths. k-means centroid assignment runs neither: it is the
    numpy kernel _np_assign_frame, exact at any norm.

    SAFE ONLY under a norm bound the CALLER guarantees: for vectors
    with L2 norm <= 1.5 on the 1e9 grid, sum (x-y)^2 = |x|^2 + |y|^2 -
    2xy <= 9e18 < 2^63, and every per-term square is <= (3e9)^2; terms
    are non-negative, so partial sums never exceed the total (and by
    Cauchy-Schwarz a dot product under the same bound stays within
    |x||y| <= 2.25e18). Under the bound every value equals the exact
    integer squared-L2 (the oracle's HUGEINT replay)."""
    terms = []
    for j in range(dim):
        d = (
            F.element_at(sa, j + 1).cast("long")
            - F.element_at(sb, j + 1).cast("long")
        )
        terms.append(d * d)
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _dim_guard(arr: Column, dim: int, expr: Column) -> Column:
    """Make a dim/vector-length mismatch LOUD: the unrolled expressions
    hard-index 1..dim, so a longer vector would silently truncate the
    sum (underestimated cosines, missed near-dups) and a shorter one
    throws a bare array-index error. One size() compare per evaluation;
    raise_error carries the actual length."""
    return F.when(F.size(arr) == dim, expr).otherwise(
        F.raise_error(
            F.format_string(
                "vector length %s does not match unrolled dim "
                + str(dim),
                F.size(arr),
            )
        )
    )


def _pair_guard(a: Column, b: Column, expr: Column) -> Column:
    """Make a PAIRWISE length mismatch LOUD on the dynamic-dim HOF
    paths: zip_with silently truncates to the shorter array, so a
    corpus/centroid (or query/index) length skew would underestimate
    every dot product instead of failing. Unlike ``_dim_guard`` this
    imposes no static dim — equal-length pairs of ANY width pass, so
    dim-agnostic callers keep working."""
    return F.when(F.size(a) == F.size(b), expr).otherwise(
        F.raise_error(
            F.format_string(
                "paired vector lengths %s and %s differ",
                F.size(a),
                F.size(b),
            )
        )
    )


def attach_scaled(df: DataFrame, vec_col: str, prefix: str = "") -> DataFrame:
    """Add ``{prefix}svec`` (int64-scaled vector) and ``{prefix}norm``
    (double L2 norm on the scaled grid) — the per-vector precomputation
    that turns per-pair cosine into one zip_with + one divide."""
    out = df.withColumn(f"{prefix}svec", scaled_vec(F.col(vec_col)))
    return out.withColumn(
        f"{prefix}norm",
        F.sqrt(
            dot_scaled(F.col(f"{prefix}svec"), F.col(f"{prefix}svec")).cast(
                "double"
            )
        ),
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    query_vec: str = "qvec",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query by cosine.

    Physical shape: broadcast-nested-loop join (queries are small),
    per-partition scoring, then a window top-k — the shuffle carries only
    (query, corpus_id, cosine) triples, k-filtered by AQE-friendly
    row_number. Ties broken by corpus id for determinism.
    """
    cs = attach_scaled(corpus, corpus_vec, "c_")
    qs = attach_scaled(queries, query_vec, "q_")
    scored = cs.crossJoin(F.broadcast(qs)).select(
        F.col(query_id),
        F.col(corpus_id),
        (
            dot_scaled(F.col("q_svec"), F.col("c_svec")).cast("double")
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 8,
    dim: int = 64,
    max_bucket: int | None = None,
    block_col: str | None = None,
    unit_norm: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``.

    LSH blocking first (same sign-bucket under ``planes`` random
    hyperplanes), exact cosine verify second — the corpus never fully
    self-joins. Output: (id_a, id_b, cosine), id_a < id_b.

    ``max_bucket``: skew guard — buckets larger than this are dropped
    before the self-join (a degenerate bucket, e.g. a mass of identical
    embeddings, otherwise makes pair generation O(b²); exact dedup should
    collapse those upstream). See operators.dedup.cap_buckets for the
    observable dropped-bucket stats. Set it at scale.

    ``block_col``: use an EXISTING column of ``df`` as the blocking key
    instead of hyperplane signs — e.g. a k-means cell id
    (``kmeans_assign``), the data-ADAPTIVE choice. Hyperplane buckets
    depend on the corpus direction distribution: on a corpus whose
    vectors concentrate around a shared direction (any single-domain
    text corpus under feature hashing), most rows share a sign pattern
    and within-bucket pair generation degrades toward O(n²) — measured
    5x the time for 3x the docs. k-means cells track density by
    construction, so cell sizes stay ~n/k and pair cost stays linear
    for k grown with the corpus.
    """
    from .dedup import cap_buckets

    bucketed = attach_scaled(df, vec_col).withColumn(
        "bucket",
        F.col(block_col)
        if block_col is not None
        else _hyperplane_bucket(F.col(vec_col), planes, dim),
    )
    if max_bucket is not None:
        bucketed, _ = cap_buckets(bucketed, ["bucket"], max_bucket)
    if unit_norm:
        # UNPACKED-COLUMN scoring: project svec into ``dim`` primitive
        # long columns per side BEFORE the join, then score with plain
        # column-arithmetic sum-of-products. The array form (a
        # dim-term element_at chain evaluated above the join) runs at
        # interpreted speed even inside a WholeStageCodegen Project —
        # measured 42.1 s vs 4.1 s for the same 9M candidate pairs at
        # x10 — while primitive columns stay in fast codegen. The
        # unpack itself is one element_at per (row, dim) on the n-row
        # side, trivial next to the pair fan-out, and the shuffled
        # bytes are unchanged (same dim longs per row, flat instead of
        # boxed in an array). Identical int64 math (|dot| <= 1e18 by
        # Cauchy-Schwarz under the unit-norm grid bound, so plain long
        # accumulation is exact) -> bit-identical cosines. _dim_guard
        # rides the first unpacked column so a length-mismatched
        # vector still raises instead of silently truncating.
        def unpack(tag: str) -> list[Column]:
            return [
                (
                    _dim_guard(
                        F.col("svec"), dim, F.element_at("svec", 1)
                    )
                    if i == 0
                    else F.element_at("svec", i + 1)
                ).alias(f"_{tag}{i}")
                for i in range(dim)
            ]

        a = bucketed.select(
            F.col(id_col).alias("id_a"),
            F.col("norm").alias("na"),
            "bucket",
            *unpack("a"),
        )
        b = bucketed.select(
            F.col(id_col).alias("id_b"),
            F.col("norm").alias("nb"),
            "bucket",
            *unpack("b"),
        )
        dot = F.col("_a0") * F.col("_b0")
        for i in range(1, dim):
            dot = dot + F.col(f"_a{i}") * F.col(f"_b{i}")
        return (
            a.join(b, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                (
                    dot.cast("double") / (F.col("na") * F.col("nb"))
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= F.lit(threshold))
            .distinct()
        )
    a = bucketed.select(
        F.col(id_col).alias("id_a"),
        F.col("svec").alias("sa"),
        F.col("norm").alias("na"),
        "bucket",
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"),
        F.col("svec").alias("sb"),
        F.col("norm").alias("nb"),
        "bucket",
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            # generic path: the HOF decimal dot — unrolled DECIMAL is
            # SLOWER than interpreted HOF (BigDecimal alloc per term,
            # measured 5x at x10), so unpacking only pays with longs
            (
                dot_scaled(F.col("sa"), F.col("sb")).cast("double")
                / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .distinct()
    )


def _hyperplane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from md5 of "plane:dim" — no RNG state, reproducible."""
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return (h / float(1 << 31)) - 1.0


def _hyperplane_bucket(vec: Column, planes: int, dim: int = 64) -> Column:
    """Sign-pattern bucket id: bit p = sign(vec · plane_p)."""
    bucket = F.lit(0)
    for p in range(planes):
        # constant plane folded into the plan as an array literal
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(
                    *[
                        F.lit(_hyperplane_component(p, d))
                        for d in range(dim)
                    ]
                ),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _hyperplane_projections(vec: Column, planes: int, dim: int) -> Column:
    """array<double> of the vector's projection onto each hyperplane."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(
                        *[
                            F.lit(_hyperplane_component(p, d))
                            for d in range(dim)
                        ]
                    ),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for p in range(planes)
        ]
    )


def ivf_write(
    corpus: DataFrame,
    path: str,
    planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF (inverted-file) ANN layout: the corpus bucketed
    by hyperplane sign-pattern and written as parquet PARTITIONED BY the
    bucket, with the int64-scaled vector and L2 norm precomputed.

    This is the at-rest form of ``ann_lsh_topk``'s corpus side: a query
    then reads only its probed buckets (a partition-pruned scan — at 100 TB
    the unprobed ~2^planes - probes fraction of the corpus is never
    touched), and per-row preprocessing is already paid.
    """
    cb = attach_scaled(corpus, vec_col, "c_").withColumn(
        "bucket", _hyperplane_bucket(F.col(vec_col), planes, dim)
    )
    (
        # cluster by output partition before the write (guide §6 —
        # see ivf_pq_write's note)
        cb.select(id_col, "c_svec", "c_norm", "bucket")
        .repartition(F.col("bucket"))
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    planes: int = 6,
    dim: int = 64,
    probes: int = 1,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    query_vec: str = "qvec",
) -> DataFrame:
    """Approximate top-k against a materialized ``ivf_write`` index.

    Multi-probe: each query searches its own bucket plus the buckets
    reached by flipping the ``probes - 1`` planes with the smallest
    projection margin (the classic multi-probe LSH order) — recall rises
    with ``probes`` while the scan stays partition-pruned to
    ``probes / 2**planes`` of the corpus. The probe join broadcasts the
    (small) query set, so Spark's dynamic partition pruning derives the
    bucket filter for the index scan at runtime.

    With ``probes=1`` results are identical to ``ann_lsh_topk`` on the
    same corpus/planes (same buckets, same exact-cosine scoring).
    """
    index = spark.read.parquet(path)
    qs = attach_scaled(queries, query_vec, "q_").withColumn(
        "projs", _hyperplane_projections(F.col(query_vec), planes, dim)
    )
    bucket = F.lit(0)
    for p in range(planes):
        bucket = bucket + F.when(
            F.element_at(F.col("projs"), p + 1) > 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
    qs = qs.withColumn("bucket0", bucket)
    # planes ranked by |margin| ascending: flip the least-confident first
    flip_order = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(F.element_at(F.col("projs"), p + 1)).alias(
                        "margin"
                    ),
                    F.lit(p).alias("plane"),
                )
                for p in range(planes)
            ]
        )
    )
    # 2^plane via a literal int array lookup — pure integer (pow()
    # is a libm call with no cross-engine exactness guarantee, and
    # the bucket id it feeds reaches the output set)
    pow2 = F.array(*[F.lit(1 << p) for p in range(planes)])
    probe_list = [F.col("bucket0")] + [
        F.col("bucket0").bitwiseXOR(
            F.element_at(
                pow2, F.element_at(flip_order, i + 1)["plane"] + 1
            )
        )
        for i in range(max(0, min(probes - 1, planes)))
    ]
    probed = qs.withColumn(
        "bucket", F.explode(F.array(*probe_list))
    ).select(query_id, "q_svec", "q_norm", "bucket")
    scored = index.join(F.broadcast(probed), "bucket").select(
        F.col(query_id),
        F.col(corpus_id),
        (
            dot_scaled(F.col("q_svec"), F.col("c_svec")).cast("double")
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    planes: int = 6,
    dim: int = 64,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    query_vec: str = "qvec",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    hyperplane bucket. Recall rises as ``planes`` falls (bigger buckets).

    At scale, persist the bucketed corpus partitioned by bucket — each
    query then touches one partition (an IVF-style inverted file).
    """
    cb = attach_scaled(corpus, corpus_vec, "c_").withColumn(
        "bucket", _hyperplane_bucket(F.col(corpus_vec), planes, dim)
    )
    qb = attach_scaled(queries, query_vec, "q_").withColumn(
        "bucket", _hyperplane_bucket(F.col(query_vec), planes, dim)
    )
    scored = cb.join(F.broadcast(qb), "bucket").select(
        F.col(query_id),
        F.col(corpus_id),
        (
            dot_scaled(F.col("q_svec"), F.col("c_svec")).cast("double")
            / (F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF training: one exact Lloyd (k-means) iteration
# ---------------------------------------------------------------------------


def kmeans_step(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd iteration over the corpus: assign every vector to its
    nearest seed centroid (exact squared-L2 on the int64 grid), then
    recompute per-cluster per-dimension means — the training step that
    turns the IVF layout's buckets into data-adaptive cells (run it
    Kmax times driver-side for full k-means; each step is one job).

    Determinism end-to-end: seeds are the k lowest-id vectors (no RNG);
    distances are exact integers (see _np_assign_frame), so argmin has
    no float ambiguity, with cluster id as the documented tiebreak;
    means divide an exact integer sum once in IEEE double.

    Scale shape: the seed side is k rows — collected once and carried
    in the assignment kernel's closure, never shuffled; the assignment
    is a narrow map (no exchange); the centroid update explodes
    assigned vectors to (cluster, dim) — dim-fold map-side fan-out into
    one shuffle of k×dim groups.

    Output: (cluster_id, dim, n_members, mean) — k×dim rows.
    """
    c = corpus.select(
        F.col(id_col), scaled_vec(F.col(vec_col)).alias("svec")
    )
    return _lloyd_means(
        _lloyd_assign(c, _kmeans_seeds(corpus, k, id_col, vec_col), id_col)
    )


def _kmeans_seeds(
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Deterministic seeds: the k lowest-id vectors (no RNG)."""
    return (
        corpus.orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("cid"),
            scaled_vec(F.col(vec_col)).alias("c_svec"),
        )
    )


# Centroid assignment: ONE mapInArrow numpy kernel. Each Arrow batch
# gets every (vector, centroid) squared-L2 distance from one matrix
# product, |v|^2 + |c|^2 - 2 V.C^T, with NO exchange: mapInArrow is a
# narrow map and the k-row centroid side rides the task closure.
# Exact at any magnitude, chosen from the data per batch: when every
# vector and centroid norm is inside the 1.5 (x the 1e9 grid) bound
# that l2sq_scaled_unrolled documents, every term is <= 4.5e18 < 2^63
# and int64 math is exact; otherwise the batch is promoted to Python
# ints (dtype=object) — slower, still exact, same argmin. Ties break to
# the LOWEST cid exactly as ROW_NUMBER() OVER (ORDER BY dist, cid):
# centroids are sorted by cid, and argmin / stable argsort take the
# first minimum. Any cid type works — the sorted cid values are one
# Arrow array the kernel takes from. Tested against the DuckDB oracle's
# HUGEINT replay (tests/test_similarity.py). It replaced a decimal-HOF
# crossJoin that computed the same distances at 1.5-1.7x the wall
# (emb_kmeans_step/train at sf0.1, SCALE.md).
_NORM_SQ_BOUND = (1.5 * _SCALE) ** 2  # 2.25e18: int64-exact below it
_WIDTH_MSG = "vector length {} does not match centroid width {}"


def _np_assign_frame(
    c: DataFrame,
    cents: DataFrame,
    id_col: str,
    probes: int | None = None,
    keep_svec: bool = False,
) -> DataFrame:
    """Assign ``c``'s ``(id_col, svec)`` rows to ``cents``'
    ``(cid, c_svec)`` (see the block comment above). ``probes=None`` ->
    argmin frame ``(id, cid[, svec])``; ``probes=p`` -> multi-probe
    frame ``(id, cluster_id, cell_rank)`` with rank 1..p by (dist, cid).

    The width comes from the centroids: every centroid and every vector
    must share it or the kernel raises ValueError, so dim-agnostic
    callers pass no dim. ``probes`` past the centroid count CLAMPS with
    a warning instead of raising: drop-empty Lloyd on a near-uniform or
    tiny corpus can leave fewer centroids than probes, probing every
    cell is exhaustive coverage rather than an error, and the oracle's
    ``ROW_NUMBER() <= probes`` replay has exactly the clamped semantics.

    Behavior notes:
    * the ``cents.collect()`` below is EAGER — building a kmeans-family
      plan runs the centroid-training jobs at plan-construction time
      (the collect, bounded by k, is what folds the centroids into one
      matrix product per batch).
    * a NULL whole-vector row is dropped; a NULL vector ELEMENT raises
      (it is corrupt input, not a distance)."""
    import warnings

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    rows = sorted(
        (tuple(r) for r in cents.select("cid", "c_svec").collect()),
        key=lambda r: r[0],
    )
    dim = max((len(cv) for _, cv in rows if cv is not None), default=0)
    for _, cv in rows:
        if cv is None or len(cv) != dim:
            raise ValueError(
                _WIDTH_MSG.format("NULL" if cv is None else len(cv), dim)
            )
    cid_type = cents.schema["cid"].dataType
    fields = [StructField(id_col, c.schema[id_col].dataType)]
    if probes is None:
        fields.append(StructField("cid", cid_type))
        if keep_svec:
            fields.append(StructField("svec", ArrayType(LongType())))
    else:
        if probes > len(rows):
            warnings.warn(
                f"probes={probes} exceeds the number of trained centroids "
                f"({len(rows)}); clamping to {len(rows)} — every cell is "
                "probed (exhaustive coverage for this corpus)",
                stacklevel=3,
            )
            probes = len(rows)
        fields += [
            StructField("cluster_id", cid_type),
            StructField("cell_rank", IntegerType()),
        ]
    out_schema = StructType(fields)
    if not rows:
        # empty centroid set: nothing to assign to
        return c.sparkSession.createDataFrame([], out_schema)
    C = np.asarray([cv for _, cv in rows], dtype=np.int64)
    Cf = C.astype(np.float64)
    c_bounded = bool(np.einsum("ij,ij->i", Cf, Cf).max() <= _NORM_SQ_BOUND)
    cids = pa.array([cid for cid, _ in rows], type=to_arrow_type(cid_type))

    def kernel(batches):
        import numpy as _np
        import pyarrow as _pa
        import pyarrow.compute as _pc

        for b in batches:
            ids, sv = b.column(0), b.column(1)
            if sv.null_count:
                mask = _pc.is_valid(sv)
                ids, sv = ids.filter(mask), sv.filter(mask)
            n = len(ids)
            if n == 0:
                continue
            lens = _pc.list_value_length(sv).to_numpy(
                zero_copy_only=False
            )
            if (lens != dim).any():
                bad = int(lens[(lens != dim).argmax()])
                raise ValueError(_WIDTH_MSG.format(bad, dim))
            flat = _pc.list_flatten(sv)
            if flat.null_count:
                raise ValueError(
                    "vector contains NULL elements — cannot assign"
                )
            V = (
                flat.to_numpy(zero_copy_only=False)
                .astype(_np.int64, copy=False)
                .reshape(n, dim)
            )
            Vf = V.astype(_np.float64)
            if c_bounded and (
                _np.einsum("ij,ij->i", Vf, Vf).max() <= _NORM_SQ_BOUND
            ):
                W, Cw = V, C
            else:
                W, Cw = V.astype(object), C.astype(object)
            dist = (
                (W * W).sum(axis=1)[:, None]
                + (Cw * Cw).sum(axis=1)[None, :]
                - 2 * (W @ Cw.T)
            )
            if probes is None:
                cols = [ids, cids.take(_pa.array(dist.argmin(axis=1)))]
                if keep_svec:
                    cols.append(sv)
            else:
                order = _np.argsort(dist, axis=1, kind="stable")
                cols = [
                    ids.take(_pa.array(_np.repeat(_np.arange(n), probes))),
                    cids.take(_pa.array(order[:, :probes].ravel())),
                    _pa.array(
                        _np.tile(
                            _np.arange(1, probes + 1, dtype=_np.int32), n
                        )
                    ),
                ]
            yield _pa.RecordBatch.from_arrays(cols, out_schema.names)

    return c.select(id_col, "svec").mapInArrow(kernel, out_schema)


def _lloyd_assign(
    c: DataFrame,
    cents: DataFrame,
    id_col: str,
) -> DataFrame:
    """``(id, cid, svec)``: every (id, svec) row with its nearest
    centroid by exact integer squared-L2, lowest-cid tiebreak — the
    assignment half of a Lloyd update, run by _np_assign_frame."""
    return _np_assign_frame(c, cents, id_col, keep_svec=True)


def _lloyd_sums(assigned: DataFrame) -> DataFrame:
    """(cid, dim, n_members, s): exact per-cluster per-dimension count
    and int-grid coordinate sum of the assigned vectors."""
    ex = assigned.select("cid", F.posexplode("svec").alias("dim", "sv"))
    return ex.groupBy("cid", "dim").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("sv").cast(_ACC)).alias("s"),
    )


def _lloyd_means(assigned: DataFrame) -> DataFrame:
    """The presentation form of one Lloyd update: per-cluster
    per-dimension mean back in real space (one exact-int division in
    IEEE double)."""
    return _lloyd_sums(assigned).select(
        F.col("cid").alias("cluster_id"),
        "dim",
        "n_members",
        (
            (F.col("s").cast("double") / F.col("n_members").cast("double"))
            / F.lit(1e9)
        ).alias("mean"),
    )


def kmeans_train_centroids(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroids (cid, c_svec) after ``iters`` exact Lloyd updates from
    the deterministic lowest-id seeds (``iters=0`` returns the seeds).

    Each update re-quantizes the new centroid to the int64 grid with
    MATHEMATICAL FLOOR division, spelled ``(s - ((s % n + n) % n)) / n``
    — bit-identical wherever ``%`` is the truncating remainder (Spark
    and DuckDB both), unlike round(), whose half-way ties Spark
    (HALF_UP) and DuckDB (half-even) break differently. That makes the
    whole training replayable as chained oracle CTEs. The ≤1-grid-unit
    (1e-9) quantization bias is far below float32 input precision.

    A cluster that loses all members simply disappears from the next
    round's centroid set (standard drop-empty Lloyd) — deterministic on
    both engines because the assignments are.

    Scale shape per iteration: one k-row centroid collect feeding the
    narrow assignment kernel (no exchange), one k x dim group-by — the
    same shape as ``kmeans_step``; ``iters`` is a small constant. The
    collects are eager, so building the chain runs iterations 1..iters-1.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    c = corpus.select(
        F.col(id_col), scaled_vec(F.col(vec_col)).alias("svec")
    )
    cents = _kmeans_seeds(corpus, k, id_col, vec_col)
    for _ in range(iters):
        sums = _lloyd_sums(_lloyd_assign(c, cents, id_col))
        quant = (
            (
                F.col("s")
                - F.pmod(F.col("s"), F.col("n_members").cast(_ACC))
            )
            / F.col("n_members").cast(_ACC)
        ).cast("long")
        cents = (
            sums.withColumn("cv", quant)
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "cv"))
                ).alias("dc")
            )
            .select(
                "cid",
                F.transform(F.col("dc"), lambda x: x["cv"]).alias(
                    "c_svec"
                ),
            )
        )
    return cents


def kmeans_train(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full fixed-iteration Lloyd training: the ``iters``-th update's
    per-cluster per-dimension means (same schema as ``kmeans_step``;
    ``iters=1`` IS ``kmeans_step`` — asserted in tests). Fixed iteration
    count rather than a convergence test keeps the computation a finite
    deterministic expression an oracle can replay."""
    if iters < 1:
        # iters=0 would silently present the means of one assignment
        # against the raw seeds — which IS iters=1 by this definition
        raise ValueError(f"kmeans_train requires iters >= 1, got {iters}")
    c = corpus.select(
        F.col(id_col), scaled_vec(F.col(vec_col)).alias("svec")
    )
    cents = kmeans_train_centroids(corpus, k, iters - 1, id_col, vec_col)
    return _lloyd_means(_lloyd_assign(c, cents, id_col))


def kmeans_assign(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``corpus`` plus ``cluster_id`` = nearest trained centroid (exact
    integer L2, lowest-cid tiebreak) — the IVF cell assignment."""
    c = corpus.select(
        F.col(id_col), scaled_vec(F.col(vec_col)).alias("svec")
    )
    return corpus.join(
        _lloyd_assign(c, cents, id_col).select(
            id_col, F.col("cid").alias("cluster_id")
        ),
        id_col,
    )


def kmeans_assign_probes(
    corpus: DataFrame,
    cents: DataFrame,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Each vector's ``probes`` NEAREST trained centroids — the
    multi-probe blocking assignment (one row per (vector, probe):
    ``(id_col, cluster_id, cell_rank)``, cell_rank 1..probes by exact
    integer L2, lowest-cid tiebreak). Rank r here is identical to
    ``ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist, cid) = r`` —
    the oracle-replayable contract.

    Scale shape: one narrow pass of the assignment kernel
    (_np_assign_frame), which ranks every distance once per vector and
    emits n*probes rows — no exchange. ``probes`` past the centroid
    count clamps with a warning (see _np_assign_frame).
    """
    if probes < 1:
        raise ValueError(f"probes must be >= 1, got {probes}")
    c = corpus.select(
        F.col(id_col), scaled_vec(F.col(vec_col)).alias("svec")
    )
    return _np_assign_frame(c, cents, id_col, probes=probes)


def ivf_write_kmeans(
    corpus: DataFrame,
    cents: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the LEARNED-centroid IVF layout: corpus partitioned
    by nearest-trained-centroid cell, scaled vector + norm precomputed at
    rest. The k-means analog of ``ivf_write`` (hyperplane buckets):
    data-adaptive cells follow the corpus distribution, so cell sizes are
    balanced by construction where hyperplane buckets depend on luck."""
    cb = attach_scaled(
        kmeans_assign(corpus, cents, id_col, vec_col), vec_col, "c_"
    )
    (
        # cluster by output partition before the write (guide §6 —
        # see ivf_pq_write's note)
        cb.select(id_col, "c_svec", "c_norm", "cluster_id")
        .repartition(F.col("cluster_id"))
        .write.partitionBy("cluster_id")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_kmeans_topk(
    spark,
    path: str,
    queries: DataFrame,
    cents: DataFrame,
    k: int = 10,
    probes: int = 1,
    query_id: str = "qid",
    corpus_id: str = "vec_id",
    query_vec: str = "qvec",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k against a materialized ``ivf_write_kmeans``
    index: each query probes its ``probes`` nearest centroid cells
    (exact integer L2 to the k trained centroids — a broadcast k-row
    ranking, the classic IVF nprobe), and only those partitions of the
    index are scanned (broadcast probe join -> dynamic partition
    pruning). Exact-cosine scoring within the probed cells; every corpus
    vector lives in exactly one cell, so no cross-probe dedup is needed.
    ``dim`` is validated against the query vectors (loud failure on a
    mismatched caller, same contract as the unrolled kernels); scoring
    itself uses the dynamic-dim HOF path, which any query/index length
    skew would hit as a zip_with truncation otherwise.
    """
    index = spark.read.parquet(path)
    q = attach_scaled(queries, query_vec, "q_").withColumnRenamed(
        query_id, "qid_"
    )
    q = q.withColumn("q_svec", _dim_guard(F.col("q_svec"), dim, F.col("q_svec")))
    # pairwise guard on top of the static query-side check: an index or
    # centroid frame written at a different dim must fail loudly, not
    # zip_with-truncate to the shorter side
    dist = _pair_guard(
        F.col("q_svec"),
        F.col("c_svec"),
        F.aggregate(
            F.zip_with(
                F.col("q_svec"),
                F.col("c_svec"),
                lambda x, y: (x.cast(_ACC) - y.cast(_ACC))
                * (x.cast(_ACC) - y.cast(_ACC)),
            ),
            F.lit(0).cast(_ACC),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("qid_").orderBy("dist", "cid")
    probed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("dist", dist)
        .withColumn("cell_rank", F.row_number().over(w))
        .filter(F.col("cell_rank") <= probes)
        .select(
            F.col("qid_").alias(query_id),
            "q_svec",
            "q_norm",
            F.col("cid").alias("cluster_id"),
        )
    )
    scored = index.join(F.broadcast(probed), "cluster_id").select(
        F.col(query_id),
        F.col(corpus_id),
        _pair_guard(
            F.col("q_svec"),
            F.col("c_svec"),
            dot_scaled(F.col("q_svec"), F.col("c_svec")).cast("double")
            / (F.col("q_norm") * F.col("c_norm")),
        ).alias("cosine"),
    )
    wr = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )
