"""Deduplication operators for LLM training-data pipelines.

Five families, each a composition of built-in DataFrame ops (no UDFs):

  * exact        — content-hash groupBy; survivor = min id per hash
  * n-gram Jaccard — shingle inverted index -> candidate pairs -> exact
                   Jaccard (the precise-but-quadratic-in-cluster baseline)
  * MinHash+LSH  — K permutation-min signatures -> banded bucket join ->
                   candidates (the 100 TB path: cost ~ linear in corpus)
  * SimHash      — bit-vote fingerprint -> banded match -> Hamming verify
  * embedding    — cosine-threshold near-dup over vector columns
                   (see operators/similarity.py for the cosine machinery)

Portability/determinism: all hashing is derived from md5 hex prefixes
(32-bit) pushed through integer affine permutations mod a >2^32 prime —
every intermediate fits signed int64 and the identical computation is
expressible in DuckDB SQL, so the oracle harness can replay it exactly.

Scale notes inline per operator; the common theme is: shingle explosion is
the expensive step (bounded by ~text_len rows per doc), signatures shrink
each doc to K ints, and the LSH bucket join shuffles only (band, key)
pairs — never the cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import _MEMO_CAP, norm_text

# Prime just above 2^32; with multipliers < 2^31 every a*h + b stays well
# inside signed-64 range (max ~4.6e18 < 9.2e18).
MINHASH_PRIME = 4294967311
# Deterministic affine-permutation constants (fixed seeds so results are
# reproducible run-to-run and engine-to-engine).
_A0, _A_STEP = 1103515245, 12345
_B0, _B_STEP = 375892,   2891


def permutation_constants(k: int) -> list[tuple[int, int]]:
    """K (a, b) pairs for h_i(x) = (a_i*x + b_i) mod P, a_i odd < 2^31."""
    out = []
    a, b = _A0, _B0
    for _ in range(k):
        out.append((a | 1, b))
        a = (a * 2862933555777941757 + _A_STEP) % (1 << 31)
        b = (b * 3202034522624059733 + _B_STEP) % (1 << 31)
    return out


def hash32(col: Column | str) -> Column:
    """Portable 32-bit content hash: first 8 hex chars of md5, as int64.

    Identical in DuckDB as ('0x' || substring(md5(x),1,8))::BIGINT.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by canonical-content hash.

    Output: every row tagged with its content hash, the canonical
    (minimum) id of its duplicate group, and is_canonical. One hash
    shuffle on the content hash; survivors = filter(is_canonical).
    """
    hashed = df.withColumn("content_hash", F.md5(norm_text(text_col).cast("binary")))
    w = Window.partitionBy("content_hash")
    return (
        hashed.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn(
            "is_canonical", (F.col(id_col) == F.col("canonical_id"))
        )
    )


def dedup_exact_stream(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: FIRST ARRIVAL per canonical content hash
    survives — the streaming analog of ``dedup_exact``'s min-id pick,
    with arrival order replacing id order (a stream cannot see the
    future minimum).

    With ``ts_col`` + ``watermark``, uses ``dropDuplicatesWithinWatermark``
    so per-hash state is EVICTED once the watermark passes — bounded
    state for unbounded corpora (a re-ingested duplicate older than the
    watermark window is treated as new; choose the window >= the
    realistic re-delivery horizon). Without a watermark, state grows with
    distinct content — the exact semantics, for bounded backfills.
    """
    hashed = df.withColumn(
        "content_hash", F.md5(norm_text(text_col).cast("binary"))
    )
    if ts_col is not None and watermark is not None:
        return hashed.withWatermark(
            ts_col, watermark
        ).dropDuplicatesWithinWatermark(["content_hash"])
    return hashed.dropDuplicates(["content_hash"])


# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def _shingle_array(n: int) -> Column:
    """The n-gram array over the projected normalized text ``__t``:
    substring(__t, i, n) for i in 1..max(len - n + 1, 1), so short
    text yields its whole remainder and empty text one '' shingle.
    expr form because substring's pos argument must be the lambda
    variable."""
    return F.expr(
        f"transform(sequence(1, greatest(length(__t) - {n - 1}, 1)),"
        f" i -> substring(__t, i, {n}))"
    )


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Distinct character n-gram shingles per document: (id, shingle)
    rows — the inverted-index form the n-gram join operators key on.
    Output size is ~len(text) rows per doc plus one (doc, shingle)
    dedup shuffle; operators that only need each doc's SET take
    shingle_sets instead, which builds it row-local.
    """
    # Normalize ONCE into a projected column before shingling: Catalyst's
    # CollapseProject keeps the projection (the alias is referenced more
    # than once and regexp_replace is non-cheap), so the regex doesn't
    # re-run per shingle — measured ~5x on minhash at sf0.1.
    normed = df.select(F.col(id_col), norm_text(text_col).alias("__t"))
    return normed.select(
        F.col(id_col), F.explode(_shingle_array(n)).alias("shingle")
    ).distinct()


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Each document's distinct shingle set: (id, sh_set array<string>),
    one row per input row, built row-local — no explode, no shuffle.
    The text is normalized once into a projected column, and the set
    is array_distinct over the n-gram array. The NULL filter keeps the
    contract of the explode + collect_set form it replaces: NULL text
    yields one NULL shingle there, which collect_set drops, so NULL
    text gives [] (empty text gives ['']). Element order is first
    occurrence; every consumer treats the array as a set."""
    normed = df.select(F.col(id_col), norm_text(text_col).alias("__t"))
    return normed.select(
        F.col(id_col),
        F.filter(
            F.array_distinct(_shingle_array(n)), lambda x: x.isNotNull()
        ).alias("sh_set"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    the rolling k-gram hash sequence, MIN-selected per sliding window of
    ``window`` consecutive positions, distinct selections per doc.

    Guarantee: two documents sharing any substring of length >=
    ``n + window - 1`` share at least one fingerprint — the standard
    plagiarism/containment-detection primitive (substring-level, where
    MinHash is whole-document-level).

    Physical shape: shingle explode -> ONE window pass keyed by doc
    (in-partition sort on position, no global sort) -> doc-keyed
    collect_set. Output: (id, fps array<long> sorted, n_fps). Selection
    uses full windows only (plus the leading partial window when a doc has
    fewer than ``window`` shingles, so no doc is left without prints);
    MIN-per-frame is position-tie-free by construction, so the selected
    SET is engine-portable even though the paper's "rightmost min"
    position rule is not.
    """
    normed = df.select(F.col(id_col), norm_text(text_col).alias("__t"))
    sh = normed.select(
        F.col(id_col),
        F.posexplode(_shingle_array(n)).alias("pos", "shingle"),
    )
    # posexplode is 0-based; the selection filter (and the SQL oracle)
    # count positions from 1
    hashed = sh.select(
        F.col(id_col),
        (F.col("pos") + 1).alias("pos"),
        hash32("shingle").alias("h"),
    )
    w_frame = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    w_doc = Window.partitionBy(id_col)
    sel = (
        hashed.withColumn("mh", F.min("h").over(w_frame))
        .withColumn("n_sh", F.count(F.lit(1)).over(w_doc))
        .filter(
            F.col("pos")
            <= F.greatest(F.col("n_sh") - F.lit(window - 1), F.lit(1))
        )
    )
    return sel.groupBy(id_col).agg(
        F.array_sort(F.collect_set("mh")).alias("fps"),
        F.size(F.array_sort(F.collect_set("mh"))).alias("n_fps"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    max_df: int | None = None,
    join_hint: str | None = "shuffle_hash",
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold.

    Inverted-index join: pairs are generated only for docs sharing >=1
    shingle, then |A∩B| counted per pair and |A∪B| = |A|+|B|-|A∩B|.
    Output: (id_a, id_b, jaccard), id_a < id_b.

    Scale: candidate generation is quadratic within a shingle's posting
    list — fine for rare shingles, catastrophic for stop-shingles.
    ``max_df`` drops shingles whose document frequency exceeds the cap
    BEFORE the join (Jaccard is then over the rare-shingle sets, sizes
    included — a standard discriminative variant: a stop-shingle shared
    by half the corpus carries no dedup signal but dominates the join
    cost). At 100 TB always set it, or prune with minhash_lsh_pairs +
    jaccard_verify_pairs instead.

    ``join_hint``: strategy pin on every corpus-sized join side — the
    rare-shingle semi-join, the inverted-index self-join, and the two
    size joins. Same hazard class as ``jaccard_verify_pairs``'s pin,
    and again MEASURED, not hypothetical: at 500k docs (r14 x100
    sweep) the unpinned plan died on "Cannot broadcast the table that
    is larger than 8.0 GiB: 10.3 GiB" — highly compressible shingle
    strings pass the broadcast threshold on compressed stats while
    the deserialized relation is GBs. Pass ``None`` to restore
    size-based planning for bounded inputs.
    """
    sh = shingles(df, text_col, id_col, n)
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        if join_hint is not None:
            # at open vocabulary the rare-shingle set IS the corpus
            # vocabulary — never broadcast; the shuffle it forces is
            # on "shingle", the exact key the self-join below needs,
            # so the pin adds no extra exchange
            rare = rare.hint(join_hint)
        sh = sh.join(rare, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    if join_hint is not None:
        a, b = a.hint(join_hint), b.hint(join_hint)
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    if join_hint is not None:
        sz_a, sz_b = sz_a.hint(join_hint), sz_b.hint(join_hint)
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_verify_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.5,
    sets_df: DataFrame | None = None,
    sets_hint: str | None = "shuffle_hash",
) -> DataFrame:
    """Exact Jaccard for a given candidate-pair set (id_a, id_b).

    The 100 TB composition: LSH generates candidates (linear-ish cost),
    this verifies them exactly. Shingle SETS are built per doc
    (shingle_sets: an array column, bounded by text length, no shuffle)
    and the per-pair Jaccard is a pure array expression — no
    inverted-index explosion, cost ~ |candidates|.

    ``sets_df``: optional precomputed (id, sh_set array) frame — pass a
    PERSISTED one when the pipeline also needs the distinct shingle sets
    elsewhere (e.g. a downstream contamination screen explodes them back
    to (id, shingle) rows), so the sets are built once.

    ``sets_hint``: join-strategy hint applied to the sets sides,
    default ``"shuffle_hash"`` (see the inline note — corpus-sized
    sides must never be auto-broadcast). Pass ``None`` when the caller
    KNOWS the sets frame is bounded (the streaming path's sets are
    batch docs + touched corpus docs only) and a broadcast is the
    right plan.

    Two output-preserving filters run ahead of the Jaccard filter:

    - Length bound: J(A,B) = |A∩B| / |A∪B| <= min(|A|,|B|) /
      max(|A|,|B|) (intersection is at most the smaller set, union at
      least the larger), so a pair with min/max < t is provably below
      threshold. The division is the same correctly-rounded double
      expression as the Jaccard itself, and rounding is monotone, so
      bound >= J >= t survives exactly. The prune joins candidates
      against a (id, size) projection — 16-byte rows instead of full
      shingle arrays — so the sets join runs over survivors only.
    - One-intersect pre-filter: Catalyst pushes the Jaccard filter into
      the sets join's condition, where n = |A∩B| appears twice (numerator
      and union), so every candidate paid two array_intersects. The
      pre-filter n·(1+t) >= t·(1 − 1e-9)·(|A|+|B|) needs n once and is
      evaluated first; the Jaccard filter then runs on its survivors
      only. It keeps every pair the Jaccard filter keeps: with
      u = |A|+|B|−n, fl(n/u) >= t implies n/u >= t/(1+ε) (ε = 2^-53,
      division correctly rounded), i.e. n·(1+t') >= t'·(|A|+|B|) with
      t' = t/(1+ε) <= t. The sizes are exact in a double, and the
      rounding of fl(1+t), the two products and t·(1 − 1e-9) moves
      each side by under 3ε relative, far inside the 1e-9 slack. An
      empty pair (|A|+|B| = 0) passes it and meets the Jaccard filter
      as before.
    """
    from ..functions.caching import tracked_persist

    # persist: this frame feeds the size prune AND both sides of the
    # candidate join — without it each reference re-derives the sets.
    # Materializing also gives AQE real stats to pick the join
    # strategy. Ownership: registered with functions.caching so the
    # caller that materializes the result can release_tracked()
    # afterwards.
    sets = (
        sets_df
        if sets_df is not None
        else tracked_persist(shingle_sets(df, text_col, id_col, n))
    )
    # shuffle_hash pins the join strategy: BOTH sides here are
    # corpus-sized by contract (sets = one row per doc, candidates =
    # the LSH pair set), so neither may ever be broadcast — yet both
    # are highly compressible (repetitive shingle strings; delta-
    # friendly id pairs), so compressed cache/shuffle statistics can
    # pass the autoBroadcastJoinThreshold while the deserialized
    # broadcast relation is GBs. Measured at x100 (500k docs, 28M
    # candidates): the unpinned plan OOM'd the driver building exactly
    # such a misestimated broadcast. The hint survives AQE re-planning
    # (strategy hints take priority over size-based broadcast), builds
    # the per-partition hash table on the sets side (bounded by
    # corpus/partitions, the scalable quantity), and skips the sort a
    # merge-join pin would add.
    #
    # size-only prune BEFORE the sets move: the (id, size) frame is
    # corpus-sized in rows but 16 bytes wide, so the two prune joins
    # shuffle candidate ids + one long each — the full shingle arrays
    # then join only the surviving pairs. Measured at 500k docs the
    # banded candidates are 0.17% precision (28.2M candidates / 46.7k
    # true pairs); most false candidates differ wildly in length and
    # die here for the cost of two narrow joins.
    sizes = sets.select(F.col(id_col), F.size("sh_set").alias("__sz"))
    sa = sizes.select(
        F.col(id_col).alias("id_a"), F.col("__sz").alias("__sz_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("id_b"), F.col("__sz").alias("__sz_b")
    )
    if sets_hint is not None:
        sa, sb = sa.hint(sets_hint), sb.hint(sets_hint)
    candidates = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.least("__sz_a", "__sz_b").cast("double")
            / F.greatest("__sz_a", "__sz_b")
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    a = sets.select(
        F.col(id_col).alias("id_a"), F.col("sh_set").alias("set_a")
    )
    b = sets.select(
        F.col(id_col).alias("id_b"), F.col("sh_set").alias("set_b")
    )
    if sets_hint is not None:
        a, b = a.hint(sets_hint), b.hint(sets_hint)
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    total = F.size(F.col("set_a")) + F.size(F.col("set_b"))
    union = total - inter
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .filter(
            inter.cast("double") * F.lit(1.0 + threshold)
            >= F.lit(threshold * (1.0 - 1e-9)) * total.cast("double")
        )
        .withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Bucket-skew guard (shared by every banded/bucketed pair generator)
# ---------------------------------------------------------------------------


def cap_buckets(
    df: DataFrame, key_cols: list[str], max_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """Drop rows belonging to buckets with more than ``max_bucket`` members.

    The skew guard for LSH-style blocking: a degenerate bucket key (e.g.
    thousands of boilerplate near-identical docs sharing one band value)
    makes the within-bucket self-join O(b²) in that bucket — AQE skew-split
    only parallelizes the shuffle, not the pair generation. Oversized
    buckets carry no *near*-dup signal anyway (their members are handled by
    exact dedup upstream), same rationale as ``max_df`` in
    ``ngram_jaccard_pairs``.

    Returns ``(kept, dropped_stats)``: ``kept`` is the capped frame;
    ``dropped_stats`` is one row per dropped bucket (key cols + ``n_rows``)
    — count/collect it to make the drop observable (log it, sink it to a
    metrics table). The size count reuses the bucket-key partitioning the
    downstream join needs, so the guard adds no extra shuffle key.
    """
    w = Window.partitionBy(*key_cols)
    sized = df.withColumn("__bsz", F.count(F.lit(1)).over(w))
    kept = sized.filter(F.col("__bsz") <= max_bucket).drop("__bsz")
    dropped = (
        sized.filter(F.col("__bsz") > max_bucket)
        .groupBy(*key_cols)
        .agg(F.max("__bsz").alias("n_rows"))
    )
    return kept, dropped


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_arrow_fn(n: int, num_hashes: int):
    """mapInArrow kernel factory for minhash_signatures: a document's
    shingle set is row-local, so the K permutation-mins are one numpy
    matrix pass per doc with ZERO exchanges (no shingle explode, no
    K-agg shuffle). Text arrives JVM-normalized
    (norm_text), shingling is pure slicing (Python str slices count
    code points exactly like Spark's substring), h32 is the exact
    hash32 recipe in hashlib (memoized per distinct shingle per task,
    the memo cleared whenever it reaches _MEMO_CAP entries), and
    (h*a + b) % P runs in int64 with NO overflow: max product
    (2^32-1)(2^31-1) + 2^31 ~ 9.22337e18 < 2^63-1, all terms positive
    so truncated and floored remainders agree. NULL-text rows emit
    all-NULL signatures, as the oracle's MIN over a NULL text's single
    NULL shingle hash does. Tested bit-exact against the DuckDB oracle
    (plans/registry_llm.py:_sql_minhash_sig)."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    consts = permutation_constants(num_hashes)
    A = np.array([a for a, _ in consts], dtype=np.int64)
    B = np.array([b for _, b in consts], dtype=np.int64)
    P = np.int64(MINHASH_PRIME)
    lo = max(n - 1, 0)
    cap = _MEMO_CAP

    def fn(it):
        cache: dict = {}

        def h32_py(s: str) -> int:
            v = cache.get(s)
            if v is None:
                v = int(
                    hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16
                )
                if len(cache) >= cap:
                    cache.clear()
                cache[s] = v
            return v

        for batch in it:
            texts = batch.column(1).to_pylist()
            sig_cols: list = [[] for _ in range(num_hashes)]
            for t in texts:
                if t is None:
                    # the row stays: one NULL shingle -> NULL hash ->
                    # NULL mins
                    for c in sig_cols:
                        c.append(None)
                    continue
                # substring(t, i, n) for i in 1..max(len-n+1, 1):
                # short text yields its whole remainder, empty text
                # one '' shingle — the shingle_sets/shingles array
                sh = {t[j:j + n] for j in range(max(len(t) - lo, 1))}
                H = np.fromiter(
                    (h32_py(s) for s in sh),
                    dtype=np.int64,
                    count=len(sh),
                )
                sig = (
                    (H[:, None] * A[None, :] + B[None, :]) % P
                ).min(axis=0)
                for k, c in enumerate(sig_cols):
                    c.append(int(sig[k]))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0)]
                + [pa.array(c, pa.int64()) for c in sig_cols],
                ["__mh_id"] + [f"mh_{k}" for k in range(num_hashes)],
            )

    return fn


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 16,
) -> DataFrame:
    """K-wide MinHash signature per doc: columns mh_0..mh_{K-1}.

    An Arrow batch kernel (guide §4.2 — the signature is row-local in
    the doc's shingle set, so it needs no shingle explosion and no
    shuffle; see _minhash_arrow_fn for the bit-exactness argument).
    """
    # keep the caller's id type (string ids are a supported
    # contract — the incremental-dedup silver store uses them)
    id_type = df.schema[id_col].dataType.simpleString()
    src = df.select(
        F.col(id_col).alias("__mh_id"),
        norm_text(text_col).alias("__mh_norm"),
    )
    out_schema = f"__mh_id {id_type}, " + ", ".join(
        f"mh_{k} long" for k in range(num_hashes)
    )
    return src.mapInArrow(
        _minhash_arrow_fn(n, num_hashes), out_schema
    ).withColumnRenamed("__mh_id", id_col)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one signature band.

    Band key = concatenated minhash values of the band's rows; the bucket
    join shuffles only (band, key) pairs. Output: distinct (id_a, id_b),
    id_a < id_b. Verify candidates with exact Jaccard (or accept the
    probabilistic guarantee) downstream.

    With K=16, b=4 bands of r=4 rows, the S-curve threshold is
    (1/b)^(1/r) ≈ 0.71 Jaccard — tune K/b/r per corpus.

    ``max_bucket``: skew guard — buckets with more members are dropped
    before the self-join (see ``cap_buckets``; use it directly to observe
    what was dropped). ALWAYS set this at scale: one degenerate band key
    otherwise makes pair generation quadratic in its bucket size.
    """
    banded = _banded_signatures(df, text_col, id_col, n, num_hashes, bands)
    if max_bucket is not None:
        banded, _ = cap_buckets(banded, ["band", "key"], max_bucket)

    a = banded.select(F.col(id_col).alias("id_a"), "band", "key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _banded_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, band, key) rows: each doc's signature split into LSH bands."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
            ).alias("key"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """``df`` plus a ``band_keys`` array column: band b's LSH key at index
    b, identical strings to ``_banded_signatures``'s exploded ``key``.

    The AT-REST form for a continuously-deduped corpus: store this array
    (``bands`` short strings per doc) in the silver table so incremental
    screening never re-shingles or re-hashes corpus text — the banded
    join side is just ``posexplode(band_keys)``. See
    ``streaming/incremental_dedup.py`` for the consuming topology.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    keys = F.array(
        *[
            F.concat_ws(
                "_", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
            )
            for b in range(bands)
        ]
    )
    sig_keys = sig.select(id_col, keys.alias("band_keys"))
    return df.join(sig_keys, id_col)


def banded_from_keys(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode a stored ``band_keys`` array back into the (id, band, key)
    shape every banded join in this module consumes."""
    return df.select(
        id_col, F.posexplode("band_keys").alias("band", "key")
    )


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
    left_banded_df: DataFrame | None = None,
    right_banded_df: DataFrame | None = None,
    prune_right: bool = False,
) -> DataFrame:
    """ASYMMETRIC LSH candidate join: LEFT (an incoming batch) docs that
    share at least one signature band with a RIGHT (existing corpus) doc.

    The incremental-dedup shape a continuously-ingesting pipeline needs:
    screening a daily batch against the accumulated corpus must cost
    ~|batch| + the touched corpus buckets, never a corpus self-join. At
    rest, persist the corpus banded frame bucketed by (band, key) and
    this probe becomes a co-located join. ``max_bucket`` caps RIGHT-side
    buckets (a degenerate corpus band would otherwise fan every matching
    batch doc out by the bucket size).

    Output: distinct (id_a = left id, id_b = right id) candidate pairs —
    verify with ``jaccard_verify_pairs`` downstream.

    ``left_banded_df`` / ``right_banded_df``: precomputed (id, band, key)
    frames (``banded_from_keys`` over a stored ``band_keys`` column) —
    pass the corpus side from storage so screening a batch costs zero
    corpus-side text processing.

    ``prune_right=True`` (set it when |left| << |right|): semi-join the
    right side down to the left's broadcast (band, key) set BEFORE the
    ``max_bucket`` groupBy. Per-(band, key) counts are unchanged by
    dropping other groups, so cap-after-prune keeps the output identical
    while the corpus-side aggregation — otherwise a full-corpus shuffle
    per screening batch — runs over touched buckets only.
    """
    lb = (
        left_banded_df
        if left_banded_df is not None
        else _banded_signatures(left, text_col, id_col, n, num_hashes, bands)
    )
    rb = (
        right_banded_df
        if right_banded_df is not None
        else _banded_signatures(right, text_col, id_col, n, num_hashes, bands)
    )
    jk = ["band", "key"]
    if prune_right:
        rb = rb.join(F.broadcast(lb.select(*jk).distinct()), jk, "semi")
    if max_bucket is not None:
        rb, _ = cap_buckets(rb, jk, max_bucket)
    return (
        lb.select(F.col(id_col).alias("id_a"), *jk)
        .join(rb.select(F.col(id_col).alias("id_b"), *jk), jk)
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Per-doc SimHash: sign of the per-bit vote over token hashes.

    One explode + one groupBy with `bits` + 1 plain-sum aggregates — a
    single shuffle on the doc id. Output: (id, simhash int64).

    The majority vote is computed as ``2 * ones_i > n_tokens`` (equivalent
    to the classic ±1 vote being positive) so each aggregate is a bare
    ``SUM((h >> i) & 1)`` — far cheaper to plan/codegen than `bits`
    conditional sums, which dominated wall-clock on one-shot runs.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(norm_text(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    toks = toks.withColumn("h32", hash32("tok"))
    votes = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.shiftright(F.col("h32"), i).bitwiseAND(F.lit(1))).alias(
                f"v_{i}"
            )
            for i in range(bits)
        ],
    )
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp + F.when(
            F.col(f"v_{i}") * 2 > F.col("n_tok"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    fps_df: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: banded blocking (a pair within Hamming
    distance < bands must share at least one exact band by pigeonhole),
    then exact Hamming verify via bit_count(xor).

    Output: (id_a, id_b, hamming), id_a < id_b, hamming <= max_hamming.

    ``max_bucket``: skew guard for degenerate band values — see
    ``cap_buckets``. Set it at scale.

    ``fps_df``: optional precomputed ``(id_col, simhash)`` fingerprint
    frame (must match ``bits``) — callers that already materialized
    the fingerprints skip recomputing them.
    """
    fp = (
        fps_df
        if fps_df is not None
        else simhash_fingerprint(df, text_col, id_col, bits)
    )
    width = bits // bands
    mask = (1 << width) - 1
    banded = fp.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col,
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    if max_bucket is not None:
        banded, _ = cap_buckets(banded, ["band", "key"], max_bucket)
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "key"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("sh_a").bitwiseXOR(F.col("sh_b"))
            ).alias("hamming"),
        )
        # Filter BEFORE distinct: hamming is a function of the pair, so the
        # result is identical, but the dedup shuffle only carries pairs that
        # survive the threshold (~5x fewer rows on the synthetic corpus).
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Dedup clustering: connected components over near-dup pair edges
# ---------------------------------------------------------------------------


def _canonical_edges(e: DataFrame) -> DataFrame:
    return (
        e.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return _canonical_edges(
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller neighbor of h (and h itself) to its min."""
    nbrs = e.select(F.col("v").alias("h"), F.col("u").alias("l"))
    mins = nbrs.groupBy("h").agg(F.min("l").alias("m"))
    return _canonical_edges(
        nbrs.join(mins, "h")
        .select(F.col("l").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("h").alias("u"), F.col("m").alias("v")))
    )


def _local_components(e: DataFrame) -> DataFrame:
    """Single-task union-find finish for a SMALL (contracted) edge set.

    The tail of the hybrid scheme in ``connected_components``: once star
    contraction (or the input itself) is below the local-finish threshold,
    the remaining closure is one Arrow-batched ``mapInPandas`` pass over
    the coalesced edge set — one job instead of O(log n) further rounds
    whose per-round cost is pure scheduling overhead on tiny frames. This
    is the documented escalation path (compose > applyInPandas) applied
    where the data has stopped being big.

    Output matches the star-convergence derivation exactly: one row per
    node appearing in ``e``, with ``component`` = the smallest node id of
    its component (union-by-min + path compression).
    """
    dt = e.schema["u"].dataType.simpleString()

    def fn(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        seen = set()
        for pdf in batches:
            for u, v in zip(pdf["u"].to_list(), pdf["v"].to_list()):
                seen.add(u)
                seen.add(v)
                ra, rb = find(u), find(v)
                if ra != rb:
                    if ra > rb:
                        ra, rb = rb, ra
                    parent[rb] = ra
        if seen:
            nodes = sorted(seen)
            yield pd.DataFrame(
                {"node": nodes, "component": [find(x) for x in nodes]}
            )

    return e.coalesce(1).mapInPandas(fn, f"node {dt}, component {dt}")


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    local_finish_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components of the undirected pair graph — the clustering
    step that turns near-dup PAIRS into dedup GROUPS (transitive closure:
    A~B, B~C puts A,C in one cluster even if never directly compared).

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each round
    is two groupBy+join passes over the current edge set, and the edge
    set contracts toward one star per component in O(log n) rounds —
    this is the 100 TB shape (label propagation converges in O(diameter)
    rounds, unbounded on chain-like clusters; star contraction does not
    depend on topology). TWO rounds run per materialization/convergence
    check (count + order-independent xxhash64 sum): near-dup graphs
    converge in 2-3 rounds, so this halves the driver round-trips for
    one possibly-wasted round of extra work after the fixpoint. When the
    checksum shows the contracted edge set is small, the next super-round
    reads it as one task instead of the parent's partitioning — the
    iteration cost tracks the shrinking data, not the input layout.

    Returns ``(node, component)`` with one row per node that appears in
    ``edges``; ``component`` is the smallest node id of its component
    (the canonical survivor under min-id dedup). Nodes with no edges are
    absent — union singletons at the call site.

    HYBRID: distributed star contraction runs only while the edge set
    exceeds ``local_finish_edges``; below that, one single-task
    union-find pass (``_local_components``) finishes the closure in ONE
    job. Correct because both star operators preserve the node set (every
    endpoint keeps at least one incident edge each round), so the
    contracted graph has the same nodes and the same components as the
    input. At 100 TB the contraction does the heavy lifting; the local
    finish replaces only the tail rounds whose per-round cost is driver
    scheduling on a few thousand edges.
    """
    # localCheckpoint (NOT persist): each round's plan references the
    # previous round's several times (unions + both join sides), so the
    # nested logical plan grows ~6x per round — persist caches the DATA
    # but Catalyst still re-analyzes the whole exponential tree (measured:
    # driver heap OOM on an 8-node chain). Checkpointing truncates the
    # lineage to the materialized blocks; the superseded round's blocks
    # are dropped by the ContextCleaner when their frame goes out of
    # scope. (Cluster note: localCheckpoint trades fault-tolerance for
    # speed — on executor loss the job recomputes from scratch, the
    # standard choice for short iterative refinements.)
    #
    # The INITIAL checkpoint is EAGER: round 1's star plans reference the
    # edge set ~6 times, and an unmaterialized lazy checkpoint re-derives
    # the (expensive) upstream pair-generation DAG per consuming stage of
    # that first job — one dedicated materialization job is cheaper.
    # Per-ROUND checkpoints are lazy (below): their one consumer is the
    # convergence checksum, which materializes the blocks as a side
    # effect, halving driver round-trips on contracted edge sets whose
    # per-job cost is pure scheduling overhead.
    cur = _canonical_edges(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint(eager=True)

    def checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulate: a long sum of 64-bit hashes overflows
            # under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    # the count on the just-checkpointed blocks is cheap (no recompute)
    # and decides up front whether any distributed round is needed at all
    n = cur.count()
    prev: tuple | None = None
    converged = False
    for _ in range(max_iter):
        if n <= local_finish_edges:
            break
        step = _small_star(_large_star(cur))
        nxt = _small_star(_large_star(step)).localCheckpoint(eager=False)
        cur_check = checksum(nxt)  # materializes nxt's checkpoint too
        cur = nxt
        n = cur_check[0]
        if cur_check == prev:
            converged = True
            break
        prev = cur_check

    if not converged:
        if n > local_finish_edges:
            # max_iter exhausted while still above the local-finish
            # threshold: refusing to coalesce a still-large edge set into
            # one task (OOM at scale) — star contraction halves graph
            # height per round, so hitting this means max_iter is set far
            # below log2(diameter) for the input
            raise RuntimeError(
                f"connected_components: {n} edges remain after {max_iter} "
                f"contraction rounds (> local_finish_edges="
                f"{local_finish_edges}); raise max_iter rather than "
                "single-tasking a large edge set"
            )
        return _local_components(cur)

    # At convergence every component is a star rooted at its min id:
    # edge (m, v) assigns v -> m, and the root maps to itself.
    members = cur.select(
        F.col("v").alias("node"), F.col("u").alias("component")
    )
    roots = cur.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return members.union(roots).distinct()


# ---------------------------------------------------------------------------
# Test-set contamination: n-gram overlap between a probe set and a corpus
# ---------------------------------------------------------------------------


def ngram_overlap_pairs(
    probe: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_frac: float = 0.2,
    max_df: int | None = None,
    corpus_sets_df: DataFrame | None = None,
) -> DataFrame:
    """Decontamination check: for each probe (eval/benchmark) document,
    which corpus (training) documents share n-grams with it, and how much
    of the probe is covered.

    Inverted-index join on distinct shingles — the same shape as
    ``ngram_jaccard_pairs`` but asymmetric (probe x corpus, no self
    pairs), which is the realistic case: |probe| << |corpus|, so posting
    lists pair each corpus hit with only the few probe docs sharing the
    shingle. ``max_df`` (document frequency measured on the CORPUS side)
    drops boilerplate shingles before the join; probe coverage fractions
    are then over each probe doc's rare-shingle set, mirrored exactly in
    the oracle.

    Output: (probe_id, corpus_id, n_shared, frac) with
    frac = n_shared / |probe doc's (rare) shingle set| >= min_frac.

    ``corpus_sets_df``: an optional precomputed (id, sh_set) frame for
    the corpus side, as shingle_sets builds it (each set distinct, so
    its explode has ``shingles`` semantics — duplicates would inflate
    the overlap counts). Pass a persisted frame when a pipeline already
    built the corpus sets: exploding cached arrays is map-only, where
    ``shingles`` re-normalizes the text and shuffles to dedup. The
    probe side is always shingled here from ``probe``'s ``text_col``.
    """
    sp = shingles(probe, text_col, id_col, n)
    sc = (
        corpus_sets_df.select(
            F.col(id_col), F.explode("sh_set").alias("shingle")
        )
        if corpus_sets_df is not None
        else shingles(corpus, text_col, id_col, n)
    )
    if max_df is not None:
        rare = (
            sc.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        sp = sp.join(rare, "shingle")
        sc = sc.join(rare, "shingle")
    sizes = sp.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sp.select(F.col(id_col).alias("probe_id"), "shingle")
    b = sc.select(F.col(id_col).alias("corpus_id"), "shingle")
    inter = (
        a.join(b, "shingle")
        .groupBy("probe_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(
            sizes.select(
                F.col(id_col).alias("probe_id"), F.col("sz")
            ),
            "probe_id",
        )
        .withColumn("frac", F.col("n_shared") / F.col("sz"))
        .filter(F.col("frac") >= F.lit(min_frac))
        .select("probe_id", "corpus_id", "n_shared", "frac")
    )
