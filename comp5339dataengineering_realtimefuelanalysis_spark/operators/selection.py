"""Data-selection operators: deterministic sampling for corpus curation.

Training-data mixes are built by sampling source corpora at per-stratum
rates (by language, source, quality band, ...). The sampler here is
HASH-based, not RNG-based: membership is a pure function of the row id,
so (a) the same row is selected in every run, on any cluster layout,
with no seed plumbing; (b) resampling at a higher rate is a superset of
the lower rate (bucket < 10 ⊂ bucket < 20) — the property that lets a
curriculum grow a mix without churning previously selected data; (c) the
identical selection is expressible in SQL for the oracle.

All map-only: no shuffle, runs at scan speed. (The bucket predicate is a
computed expression, so it filters in the scan STAGE, not inside the
parquet reader — only the stratum-column predicate, when constant, can
push down further.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hash32


def hash_bucket(id_col: Column | str, buckets: int = 100) -> Column:
    """Stable per-row bucket in [0, buckets): md5-derived 32-bit hash of
    the id's string form, mod buckets. Engine-portable (DuckDB:
    ('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT % N)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (hash32(c.cast("string")) % F.lit(buckets)).cast("int")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, int],
    id_col: str = "doc_id",
    default_pct: int = 0,
) -> DataFrame:
    """Keep each row iff its hash bucket falls below its stratum's
    percentage. ``rates`` maps stratum value -> percent kept (0-100);
    unlisted strata get ``default_pct``. Output = input columns plus the
    ``bucket`` the decision was made on (auditability: a reviewer can
    re-derive every keep/drop)."""
    pct: Column = F.lit(default_pct)
    for value, p in sorted(rates.items()):
        pct = F.when(F.col(strata_col) == value, F.lit(p)).otherwise(pct)
    return df.withColumn("bucket", hash_bucket(id_col)).filter(
        F.col("bucket") < pct
    )


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str = "doc_id",
    alpha: float = 0.5,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Temperature-based mixture sampling (the multilingual-LM mixing
    knob): target stratum proportions p_s ∝ (n_s/N)^alpha, realized by
    DOWNSAMPLING only — each stratum keeps
    ``rate_s = (n_min/n_s)^(1-alpha)`` of its rows, so the rarest
    stratum is kept in full and abundant strata are flattened toward
    it (alpha=1 keeps natural proportions; alpha=0 keeps ~n_min rows of
    every stratum — uniform). Selection is the hash-bucket sampler, so
    it is deterministic, layout-independent, and nested across alphas
    (a hotter mix is a superset of a colder one stratum-by-stratum,
    because rate_s grows monotonically with alpha and bucket
    thresholds nest).

    alpha=0.5 (the default, and the common operating point) computes
    rates with sqrt — CORRECTLY ROUNDED in IEEE 754, so the DuckDB
    oracle replays the exact double and the keep decision bit-exactly.
    Other alphas go through pow(), which is not guaranteed identical
    across engines' libm; the decision only differs if rate*buckets
    straddles an integer within 1 ulp, but oracle-gated pipelines
    should pin alpha=0.5 (the registry does).

    Scale shape: one tiny per-stratum count aggregate, a broadcast
    rates join, then a map-only filter — scan speed at any corpus
    size. Output: input columns + keep_rate + bucket (auditability)."""
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
    mn = counts.agg(F.min("n").alias("n_min"))
    nd = F.col("n").cast("double")
    md = F.col("n_min").cast("double")
    if alpha == 0.5:
        rate = F.sqrt(md / nd)
    else:
        rate = F.pow(md / nd, F.lit(1.0 - alpha))
    rates = counts.crossJoin(F.broadcast(mn)).select(
        strata_col, rate.alias("keep_rate")
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .withColumn("bucket", hash_bucket(id_col, buckets))
        .filter(
            F.col("bucket").cast("double")
            < F.col("keep_rate") * F.lit(float(buckets))
        )
    )


def dsir_weights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    smooth: int = 1,
    seed: str = "dsir",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document
    by how much more likely its hashed bag-of-n-grams is under the
    TARGET distribution (rows where ``target`` is true — e.g. a
    high-quality or in-domain subset) than under the RAW corpus
    distribution. Selecting high-weight docs tilts a crawl toward the
    target domain without training a classifier.

    Model: word uni+bigram features hashed into ``buckets`` buckets
    (the same feature hashing as embed_text, different seed); both
    distributions are add-``smooth`` smoothed multinomials over
    buckets. The log-likelihood ratio of bucket b (base 2 — a global
    constant factor vs natural log, so selection order is unchanged),

        lr_b = log2((t_b + s)/(T + sB)) - log2((r_b + s)/(R + sB))
             = log2fix(R + sB, r_b + s) - log2fix(T + sB, t_b + s),

    is computed ENTIRELY in int64 via functions/fixlog.py's
    fixed-point base-2 log (20 fractional bits) — each of the two
    calls has its arguments ordered p >= q, so the signed ratio is a
    difference of two exact non-negative int64s. A document's weight
    is the exact integer sum sum_b c_db * lr_b over its bucket
    counts. Round 14's BM25 driver red proved the previous posture
    (B ln() evaluations rounded to a micro-nat grid) is NOT portable
    — a 1-ulp libm divergence near a rounding boundary flips an
    int64; the fixed-point kernel removes libm from the value
    entirely, so local oracle green implies driver green on any
    build. Weights are in 2^-20 log2 units: divide by 2^20 for the
    real base-2 log-ratio (multiply by ln 2 for nats).

    Scale shape: one explode + map-side-combined groupBy over token
    occurrences (the same cost class as minhash signatures), two
    B-row aggregates, a 1-row totals aggregate (broadcast nested-loop
    join of a 1-row build side — no collect), one broadcast join of
    the B-row lr table, and a final map-side-combined groupBy on the
    id. Nothing is all-pairs; nothing touches the driver.

    Every input row yields an output row (NULL text is coalesced to
    '' and contributes the empty-string feature, mirroring
    embed_text's contract), so weights can be left-joined back
    without row-count surprises.
    """
    from .dedup import hash32
    from .text import _word_ngram_arrays, word_array

    grams = _word_ngram_arrays(F.col("_words"), (1, 2))
    feats = F.concat(grams[1], grams[2])
    dbc = (
        df.select(
            F.col(id_col),
            F.coalesce(target.cast("boolean"), F.lit(False)).alias(
                "_tgt"
            ),
            word_array(text_col).alias("_words"),
        )
        .select(id_col, "_tgt", F.explode(feats).alias("feat"))
        .select(
            id_col,
            "_tgt",
            F.pmod(
                hash32(F.concat(F.col("feat"), F.lit("#" + seed))),
                F.lit(buckets),
            ).alias("bucket"),
        )
        .groupBy(id_col, "_tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from ..functions.caching import tracked_persist

    dbc = tracked_persist(dbc)  # feeds raw/target/total aggs + join
    raw_b = dbc.groupBy("bucket").agg(F.sum("c").alias("r"))
    tgt_b = (
        dbc.filter(F.col("_tgt"))
        .groupBy("bucket")
        .agg(F.sum("c").alias("t"))
    )
    tot = dbc.agg(
        F.sum("c").alias("R_tot"),
        F.sum(F.when(F.col("_tgt"), F.col("c")).otherwise(0)).alias(
            "T_tot"
        ),
    )
    from ..functions import fixlog

    s, sB = smooth, smooth * buckets
    # lr = log2fix(R+sB, r+s) - log2fix(T+sB, t+s): two kernel passes
    # over the B-row bucket frame (p >= q holds in both: r <= R_tot,
    # t <= T_tot, s <= sB), then one subtraction — all int64
    lr_base = (
        raw_b.join(tgt_b, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "bucket",
            f"R_tot + {sB} AS _pa",
            f"r + {s} AS _qa",
            f"coalesce(T_tot, 0) + {sB} AS _pb",
            f"coalesce(t, 0) + {s} AS _qb",
        )
    )
    lr = fixlog.spark_apply_multi(
        lr_base,
        [("_pa", "_qa", "_lra"), ("_pb", "_qb", "_lrb")],
    ).selectExpr("bucket", "_lra - _lrb AS lr")
    return (
        dbc.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("c") * F.col("lr")).alias("dsir_weight"))
    )


def gumbel2_py(h: int) -> int:
    """Pure-Python reference of _gumbel2_fix's noise (ground truth for
    the cross-engine tests). With u = (2h + 1)/2^33 (h a 32-bit hash),

        g = -log2(-log2 u) * 2^20
          = 20 * 2^20 - log2tbl(max(1, 33 * 2^20 - log2tbl(2h + 1)))
    """
    from ..functions.fixlog import log2tbl_py

    inner = max(1, 33 * (1 << 20) - log2tbl_py(2 * h + 1))
    return 20 * (1 << 20) - log2tbl_py(inner)


def _gumbel2_fix(df: DataFrame, id_col: str, seed: str) -> DataFrame:
    """Append ``_g``: hash-derived BASE-2 Gumbel noise on the 2^-20
    fixed-point grid, all int64 (the fixlog posture — no libm in any
    hashed value). With u = (2h + 1)/2^33 (h the 32-bit id hash),

        _g = -log2(-log2(u)) * 2^20
           = 20*2^20 - log2tbl(max(1, 33*2^20 - log2tbl(2h + 1)))

    where log2tbl is fixlog's TABLE face: bit-length for the integer
    part plus a 4096-entry lookup of the 12-bit-truncated mantissa's
    fractional log2 (the table itself is computed once by the exact
    layered kernel — fixlog.log2_table). Per-row cost is two
    bit-lengths, two shift-divides, and two constant-array lookups.

    WHY the table face and not the layered kernel (round-16 decision,
    pinned so this doesn't get re-migrated): round 15 ran the full
    ~48-projection-layer kernel TWICE PER SCORED ROW here, violating
    fixlog's own small-frames-only guidance, and the dsir family
    regressed 2-4x normalized — almost entirely analyzer/binder time
    that both engines spend on ~100 projection layers, not data math.
    The per-BUCKET sites (dsir lr, CCNet nl, BM25 idf) keep the exact
    layered kernel: they amortize over broadcast-sized frames and the
    statistics deserve full mantissa precision. Noise does not — the
    12-bit mantissa only compresses the Gumbel tail beyond |g| ~ 12
    in log2 units (hash-probability < 2^-12 events), immaterial for
    sampling diversity, and the function stays a DEFINED deterministic
    int64 map both engines replay bit-identically.

    Base-2 Gumbel-top-k selects the SAME set as natural-log Gumbel:
    -log2(-log2 u) = (-ln(-ln u))/ln2 + log2(ln 2), and the weights
    are also in log2 units, so every score is the old nat-score
    scaled by 1/ln2 plus a global constant — a strictly monotone
    transform of the old ordering."""
    from ..functions import fixlog
    from .dedup import hash32

    # One parsed SQL array literal, NOT F.lit(list): pyspark's lit()
    # expands a list into one py4j lit() call PER ELEMENT (4096 x 2
    # uses measured ~3 s of driver time per plan build).
    tbl = F.expr(
        "cast(array("
        + ",".join(map(str, fixlog.log2_table()))
        + ") as array<bigint>)"
    )

    def look(mcol: str) -> Column:
        return F.element_at(tbl, (F.col(mcol) + 1).cast("int"))

    df = df.withColumn(
        "_h",
        hash32(
            F.concat(F.col(id_col).cast("string"), F.lit("#g" + seed))
        ),
    )
    df = df.selectExpr("*", "2 * _h + 1 AS _x")
    df = df.selectExpr(
        "*", "cast(length(bin(_x)) as bigint) - 1 AS _e1"
    )
    df = df.selectExpr(
        "*",
        "(_x * 4096) div shiftleft(cast(1 as bigint),"
        " cast(_e1 as int)) - 4096 AS _m1",
    )
    df = df.withColumn(
        "_l",
        F.greatest(
            F.lit(33 * (1 << 20)).cast("long")
            - (F.col("_e1") * F.lit(1 << 20) + look("_m1")),
            F.lit(1).cast("long"),
        ),
    )
    df = df.selectExpr(
        "*", "cast(length(bin(_l)) as bigint) - 1 AS _e2"
    )
    df = df.selectExpr(
        "*",
        "(_l * 4096) div shiftleft(cast(1 as bigint),"
        " cast(_e2 as int)) - 4096 AS _m2",
    )
    df = df.withColumn(
        "_g",
        F.lit(20 * (1 << 20)).cast("long")
        - (F.col("_e2") * F.lit(1 << 20) + look("_m2")),
    )
    return df.drop("_h", "_x", "_e1", "_m1", "_l", "_e2", "_m2")


def dsir_sample(
    df: DataFrame,
    target: Column,
    frac: float = 0.25,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    smooth: int = 1,
    seed: str = "dsir",
    gumbel: bool = True,
    scored_df: DataFrame | None = None,
) -> DataFrame:
    """DSIR importance RESAMPLING: keep ceil(frac * n) documents by
    Gumbel-top-k over the importance weights — equivalent to sampling
    without replacement with probability proportional to
    2^(weight/2^20), the paper's selection rule (hash-derived Gumbel
    noise keeps diversity: hard top-k by weight alone would fill the
    quota with near-copies of the most target-like boilerplate;
    ``gumbel=False`` gives that hard variant). The noise is a pure
    int64 function of the id (see _gumbel2_fix) on the same 2^-20
    log2 grid as the weights — selection is deterministic,
    layout-independent, and engine-replayable with NO transcendental
    anywhere (score = weight + g stays exact int64).

    The top-k itself runs as orderBy(score, id).limit(k) —
    TakeOrderedAndProject, a per-partition top-k + driver merge, never
    a single-task global window; k comes from one count() action (the
    same count-then-plan pattern as the pipeline's semantic-stage
    blocking switch).
    That is the right plan while k is selection-sized. At corpus scale
    (frac of 100 TB) merge k rows through the driver is the wrong
    shape — compute a weight CUTOFF once via approx_percentile(score,
    1-frac) and keep score >= cutoff as a map-only filter instead;
    the boundary fuzz is one approx-percentile error band. The
    registry's ``doc_dsir_sample`` pins this exact-rank gumbel variant
    for oracle parity (plans/registry_llm.py:q_doc_dsir_sample).

    ``scored_df``: an already-scored ``(id_col, dsir_weight, score)``
    frame (e.g. the registry's shared at-rest materialization,
    _dsir_scored_for) — the weight chain and the noise are skipped and
    only the SELECTION runs. The caller owns the contract that the
    frame was scored with the same (target, buckets, smooth, seed,
    gumbel) parameters; values are unchanged by construction since
    the frame stores the identical integers this function would
    recompute.
    """
    from ..functions.caching import tracked_persist

    if scored_df is not None:
        scored = scored_df.select(id_col, "dsir_weight", "score")
    else:
        w = dsir_weights(
            df,
            target,
            text_col=text_col,
            id_col=id_col,
            buckets=buckets,
            smooth=smooth,
            seed=seed,
        )
        if gumbel:
            w = _gumbel2_fix(w, id_col, seed)
            g = F.col("_g")
        else:
            g = F.lit(0).cast("long")
        # persist before the count: the k-sizing action and the top-k
        # plan both consume `scored`, and without a persist the count()
        # would re-run the whole weight computation (lr aggregates,
        # broadcast join, per-doc groupBy) a second time for the
        # orderBy/limit.
        scored = tracked_persist(
            w.select(
                id_col,
                "dsir_weight",
                (F.col("dsir_weight") + g).alias("score"),
            )
        )
    n = scored.count()
    k = int(-(-frac * n // 1))  # ceil without importing math
    return scored.orderBy(
        F.col("score").desc(), F.col(id_col)
    ).limit(k)


def dsir_sample_cutoff(
    df: DataFrame,
    target: Column,
    frac: float = 0.25,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    smooth: int = 1,
    seed: str = "dsir",
    gumbel: bool = True,
    accuracy: int = 10_000,
    scored_df: DataFrame | None = None,
) -> DataFrame:
    """The 100 TB shape of ``dsir_sample``: instead of merging
    k = frac*n rows through the driver (TakeOrderedAndProject is a
    per-partition top-k + DRIVER merge — the wrong plan when k is a
    quarter of a corpus), compute the score CUTOFF once with
    approx_percentile(score, 1-frac) and keep ``score >= cutoff`` as a
    broadcast-scalar map-only filter. One sketch aggregate + one scan:
    nothing corpus-sized moves. The trade is the sketch's rank-error
    band (<= n/accuracy rows around the boundary, the standard
    Greenwald-Khanna bound); ties at the cutoff are all kept. Scoring
    (weights + Gumbel noise) is byte-identical to dsir_sample — only
    the SELECTION plan differs — so the two variants agree except
    within the boundary band (tested). The exact-rank variant stays
    the oracle-gated one (approx sketches are not cross-engine
    replayable); use this one when k is selection-at-scale.

    Cost parity (r17, interleaved min-of-6 at sf0.1): the sketch
    selection runs within ~5% of the exact-rank variant (3.84 vs
    3.64 s) — the larger gaps in per-round bench artifacts (r16:
    1.94 vs 1.55 normalized) were loop-position warmth, not plan
    cost, fixed by bench.py's canonical iteration order. Don't
    re-shape this plan chasing a bench delta; measure interleaved
    first (SCALE.md §Round 17).

    ``scored_df``: see dsir_sample — pre-scored frame, selection only.
    """
    from ..functions.caching import tracked_persist

    if scored_df is not None:
        scored = scored_df.select(id_col, "dsir_weight", "score")
    else:
        w = dsir_weights(
            df,
            target,
            text_col=text_col,
            id_col=id_col,
            buckets=buckets,
            smooth=smooth,
            seed=seed,
        )
        if gumbel:
            w = _gumbel2_fix(w, id_col, seed)
            g = F.col("_g")
        else:
            g = F.lit(0).cast("long")
        scored = tracked_persist(
            w.select(
                id_col,
                "dsir_weight",
                (F.col("dsir_weight") + g).alias("score"),
            )
        )
    cut = scored.agg(
        F.percentile_approx(
            "score", F.lit(1.0 - frac), F.lit(accuracy)
        ).alias("_cutoff")
    )
    return scored.crossJoin(F.broadcast(cut)).filter(
        F.col("score") >= F.col("_cutoff")
    ).select(id_col, "dsir_weight", "score")


# The CCNet perplexity filter's pinned LM and keep rule, shared by the
# batch curation pipeline, the registry's LM queries and the streaming
# gate: bigram hash buckets, hashing seed, add-k smoothing, the fixlog
# grid's fractional bits (costs are log2 * 2^PPL_FRAC), and the tercile
# buckets a doc must land in to be kept (the high-perplexity tail goes).
PPL_BUCKETS = 4096
PPL_SEED = "lmppl"
PPL_SMOOTH = 1
PPL_FRAC = 20
PPL_KEEP = ("head", "middle")


def lm_ppl_score(
    df: DataFrame,
    target: Column | DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = PPL_BUCKETS,
    smooth: int = PPL_SMOOTH,
    seed: str = PPL_SEED,
    target_text_col: str | None = None,
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data"): score every document by its mean negative
    log-likelihood per bigram under a hashed-bigram LM trained on the
    TARGET rows (e.g. a trusted in-domain subset — CCNet's Wikipedia
    role). Low scores read as fluent/in-domain; the standard filter
    keeps the low-perplexity head of the corpus (see ppl_buckets).

    ``target`` is either a boolean Column over ``df`` (train on the
    matching in-corpus stratum — sugar for the common case) or a
    SEPARATE DataFrame (CCNet's actual recipe: the LM trains on an
    external trusted corpus like Wikipedia, disjoint from the frame
    being scored). A DataFrame target supplies its own text in
    ``target_text_col`` (defaults to ``text_col``); the scored frame's
    rows never feed the LM in that form.

    Model: word bigrams hashed into ``buckets`` buckets (the dsir
    feature hashing, bigram-only, its own seed); the LM is the
    add-``smooth`` multinomial over target bucket counts,
    p(b) = (t_b + s)/(T + sB). Per-bucket cost nl_b = -log2 p(b) =
    log2fix(T + sB, t_b + s) is computed ENTIRELY in int64 on the
    2^-20 fixed-point grid (functions/fixlog.py — the dsir_weights
    posture; base 2 instead of nats is a global constant factor, so
    every ordering/tercile downstream is unchanged). A document's
    nll_fix = sum_g c_dg * nl_bucket(g) is an exact integer with NO
    transcendental anywhere in its derivation — portable across
    engine builds by construction. ``mnll`` divides it back to mean
    BITS per bigram as (nll / n) / 2^20 — two correctly-rounded IEEE
    divisions both engines replay bit-exactly.

    Output: one row per input row — (id_col, n_bigrams, nll_fix,
    mnll); a doc with fewer than two words has no bigram and carries
    n_bigrams=0 with NULL nll/mnll (scoreless, not silently
    fluent).

    Scale shape: one explode + map-side-combined (id, bucket) groupBy
    over bigram occurrences, one B-row target aggregate, a 1-row
    totals aggregate, the broadcast B-row cost join, a map-side-
    combined per-id sum, and a plain shuffled left join back to the
    id spine (both sides are corpus-sized — only the B-row cost table
    and the 1-row totals are broadcast). Nothing all-pairs, nothing
    through the driver.
    """
    from ..functions.caching import tracked_persist
    from .dedup import hash32
    from .text import _word_ngram_arrays, word_array

    bigrams = _word_ngram_arrays(F.col("_words"), (2,))[2]

    def bucket_of(feat: Column) -> Column:
        return F.pmod(
            hash32(F.concat(feat, F.lit("#" + seed))), F.lit(buckets)
        )

    if isinstance(target, DataFrame):
        # external trusted corpus: its bigrams train the LM; the
        # scored frame contributes only the cost-table bucket domain
        ttc = target_text_col or text_col
        tgt_b = (
            target.select(word_array(ttc).alias("_words"))
            .select(F.explode(bigrams).alias("feat"))
            .select(bucket_of(F.col("feat")).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("t"))
        )
        tot = tgt_b.agg(
            F.coalesce(F.sum("t"), F.lit(0)).alias("T_tot")
        )
        dbc = (
            df.select(F.col(id_col), word_array(text_col).alias("_words"))
            .select(id_col, F.explode(bigrams).alias("feat"))
            .select(id_col, bucket_of(F.col("feat")).alias("bucket"))
            .groupBy(id_col, "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # feeds the cost-table bucket domain AND the per-doc cost join
        dbc = tracked_persist(dbc)
    else:
        dbc = (
            df.select(
                F.col(id_col),
                F.coalesce(target.cast("boolean"), F.lit(False)).alias(
                    "_tgt"
                ),
                word_array(text_col).alias("_words"),
            )
            .select(id_col, "_tgt", F.explode(bigrams).alias("feat"))
            .select(
                id_col,
                "_tgt",
                bucket_of(F.col("feat")).alias("bucket"),
            )
            .groupBy(id_col, "_tgt", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # feeds target agg, totals, cost join
        dbc = tracked_persist(dbc)
        tgt_b = (
            dbc.filter(F.col("_tgt"))
            .groupBy("bucket")
            .agg(F.sum("c").alias("t"))
        )
        tot = dbc.agg(
            F.sum(
                F.when(F.col("_tgt"), F.col("c")).otherwise(0)
            ).alias("T_tot")
        )
    from ..functions import fixlog

    s, sB = smooth, smooth * buckets
    # cost table over the buckets the CORPUS actually uses (raw side),
    # target-count 0 where the target never hit the bucket;
    # nl = -log2 p(b) = log2fix(T + sB, t + s), p >= q since t <= T
    # and s <= sB — the B-row kernel pass, then a broadcast join
    nl = fixlog.spark_apply(
        dbc.select("bucket")
        .distinct()
        .join(tgt_b, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "bucket",
            f"coalesce(T_tot, 0) + {sB} AS _p",
            f"coalesce(t, 0) + {s} AS _q",
        ),
        "_p", "_q", "nl",
    ).select("bucket", "nl")
    per_doc = (
        dbc.join(F.broadcast(nl), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("nl")).alias("nll_fix"),
        )
    )
    spine = df.select(id_col)
    # shuffled left join: per_doc is one row per scoreable doc —
    # corpus-sized — so a broadcast hint here would ship the whole
    # score table through the driver to every executor (driver OOM at
    # scale); broadcasts in this operator are reserved for the B-row
    # cost table and the 1-row totals only. r19: pin SHUFFLE_HASH on
    # the per-doc side (guide §3.1) — the planner's default here was a
    # SortMergeJoin, paying a full sort of BOTH corpus-sized sides for
    # a unique-key equi-join; the hash build is bounded by
    # scores/partitions and spills gracefully, and the left (spine)
    # side streams unsorted.
    return spine.join(per_doc.hint("shuffle_hash"), id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        "nll_fix",
        (
            F.col("nll_fix").cast("double")
            / F.col("n_bigrams").cast("double")
            / F.lit(1048576.0)
        ).alias("mnll"),
    )


def lm_ppl_cost_table(
    target: DataFrame,
    text_col: str = "text",
    buckets: int = PPL_BUCKETS,
    smooth: int = PPL_SMOOTH,
    seed: str = PPL_SEED,
) -> DataFrame:
    """The hashed-bigram LM as an AT-REST artifact: the FULL-domain
    (bucket 0..B-1, nl) fixed-point cost table trained on ``target``
    — lm_ppl_score's cost join, decoupled from any particular scored
    frame so it can be persisted once and reused (a streaming gate
    scoring micro-batches, repeated scoring passes over growing
    corpora). Full domain because future rows hash into arbitrary
    buckets; a bucket the target never hit costs
    log2fix(T + sB, s) — computable, not missing.

    nl values agree bit-exactly with lm_ppl_score(df, target=...) on
    every bucket both produce: same counts, same int64 kernel, no
    libm anywhere (test_cost_table_matches_inline_lm)."""
    from ..functions import fixlog
    from .dedup import hash32
    from .text import _word_ngram_arrays, word_array

    bigrams = _word_ngram_arrays(F.col("_words"), (2,))[2]
    tgt_b = (
        target.select(word_array(text_col).alias("_words"))
        .select(F.explode(bigrams).alias("feat"))
        .select(
            F.pmod(
                hash32(F.concat(F.col("feat"), F.lit("#" + seed))),
                F.lit(buckets),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    tot = tgt_b.agg(F.coalesce(F.sum("t"), F.lit(0)).alias("T_tot"))
    s, sB = smooth, smooth * buckets
    spark = target.sparkSession
    return fixlog.spark_apply(
        spark.range(buckets)
        .select(F.col("id").cast("long").alias("bucket"))
        .join(tgt_b, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "bucket",
            f"coalesce(T_tot, 0) + {sB} AS _p",
            f"coalesce(t, 0) + {s} AS _q",
        ),
        "_p", "_q", "nl",
    ).select("bucket", "nl")


def lm_ppl_score_with_costs(
    df: DataFrame,
    costs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = PPL_BUCKETS,
    seed: str = PPL_SEED,
) -> DataFrame:
    """Score ``df`` against a pinned full-domain cost table (the
    lm_ppl_cost_table artifact): same output contract as lm_ppl_score
    — (id, n_bigrams, nll_fix, mnll), scoreless docs carry
    n_bigrams=0 with NULL scores. ``buckets``/``seed`` must be the
    values the table was trained with (callers persisting the table
    persist them beside it).

    Scale shape: one explode + map-side-combined (id, bucket) groupBy
    of the SCORED frame only, the broadcast B-row cost join, a
    map-side-combined per-id sum, a shuffled left join to the id
    spine. The LM itself costs nothing here — that is the point of
    the at-rest table."""
    from .dedup import hash32
    from .text import _word_ngram_arrays, word_array

    bigrams = _word_ngram_arrays(F.col("_words"), (2,))[2]
    dbc = (
        df.select(F.col(id_col), word_array(text_col).alias("_words"))
        .select(id_col, F.explode(bigrams).alias("feat"))
        .select(
            id_col,
            F.pmod(
                hash32(F.concat(F.col("feat"), F.lit("#" + seed))),
                F.lit(buckets),
            ).alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = (
        dbc.join(F.broadcast(costs), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("nl")).alias("nll_fix"),
        )
    )
    spine = df.select(id_col)
    return spine.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        "nll_fix",
        (
            F.col("nll_fix").cast("double")
            / F.col("n_bigrams").cast("double")
            / F.lit(1048576.0)
        ).alias("mnll"),
    )


def tercile_cuts(
    mnll_col: str = "mnll", exact: bool = True, accuracy: int = 10_000
) -> tuple[Column, Column]:
    """The tercile aggregates (t1, t2) of ``mnll_col`` that split the
    scoreable docs into head/middle/tail. ``exact=True`` is the exact
    interpolated percentile — engine-parity-proven, but it buffers every
    value in ONE task's memory, wrong at corpus scale. ``exact=False``
    is the 100 TB path: approx_percentile's GK sketch (rank error <=
    n/``accuracy``; docs within that band of a cut may land in the
    adjacent bucket) — the dsir_sample / dsir_sample_cutoff duality."""
    qs = (1.0 / 3.0, 2.0 / 3.0)
    if exact:
        return tuple(F.percentile(mnll_col, F.lit(q)) for q in qs)
    return tuple(
        F.percentile_approx(mnll_col, F.lit(q), F.lit(accuracy))
        for q in qs
    )


def _with_bucket(
    scores: DataFrame,
    cuts: tuple[float, float] | None,
    mnll_col: str = "mnll",
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """``scores`` plus CCNet's ``ppl_bucket``: head (<= t1), middle
    (<= t2), tail, or 'empty' for a scoreless doc (no bigram) rather
    than an inherited bucket. The cuts are the pinned ``cuts`` or, when
    None, the terciles of ``scores`` itself (one 2-value aggregate + a
    broadcast-scalar cross join)."""
    m = F.col(mnll_col)
    if cuts is None:
        t1, t2 = tercile_cuts(mnll_col, exact, accuracy)
        pop = scores.filter(m.isNotNull()).agg(
            t1.alias("_t1"), t2.alias("_t2")
        )
        src, t1, t2 = (
            scores.crossJoin(F.broadcast(pop)), F.col("_t1"), F.col("_t2")
        )
    else:
        src, t1, t2 = scores, F.lit(cuts[0]), F.lit(cuts[1])
    bucket = (
        F.when(m.isNull(), F.lit("empty"))
        .when(m <= t1, F.lit("head"))
        .when(m <= t2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return src.select(*scores.columns, bucket.alias("ppl_bucket"))


def ppl_buckets(
    scores: DataFrame,
    id_col: str = "doc_id",
    mnll_col: str = "mnll",
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """CCNet's head/middle/tail split over the perplexity scores:
    tercile thresholds over the scoreable docs (see tercile_cuts for
    ``exact``/``accuracy``), then a map-only bucket assignment.
    Scoreless docs (no bigram) land in 'empty' rather than inheriting a
    bucket. Scale shape either way: one 2-value aggregate + a
    broadcast-scalar cross join + a map-only CASE — scan speed."""
    return _with_bucket(scores, None, mnll_col, exact, accuracy).select(
        id_col, mnll_col, "ppl_bucket"
    )


def ppl_gate(
    scores: DataFrame, cuts: tuple[float, float] | None = None
) -> DataFrame:
    """The perplexity gate's per-doc verdict over lm_ppl_score-shaped
    ``scores``, the one definition the batch curation pipeline and the
    streaming dedup both apply: the score columns plus ``ppl_bucket``,
    ``keep`` (bucket in PPL_KEEP) and ``reason`` ('ppl_<bucket>'). The
    cuts differ by design: the batch takes exact terciles over its own
    population (``cuts=None``); a stream cannot re-rank the past, so it
    passes the (t1, t2) it pinned at training time."""
    bucket = F.col("ppl_bucket")
    return _with_bucket(scores, cuts).select(
        "*",
        bucket.isin(*PPL_KEEP).alias("keep"),
        F.concat(F.lit("ppl_"), bucket).alias("reason"),
    )
