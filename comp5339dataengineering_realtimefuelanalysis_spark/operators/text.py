"""Text-analysis operators for LLM training-data pipelines: language ID,
quality scoring, token counting, fingerprinting.

All pure built-in expressions (regex/string ops run inside whole-stage
codegen; no Python). Every function is deterministic and engine-portable:
the same logic is expressible in ANSI-ish SQL, so each has a DuckDB oracle
in plans/registry.py.

Scale design: these are embarrassingly parallel per-row maps — no shuffle,
no state. At 100 TB they run at scan speed; the only care is keeping them
JVM-side (done) and letting column pruning drop the text column early when
only derived metrics flow downstream.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Entry bound on the per-task hash memos of the Arrow kernels
# (_embed_text_arrow_fn here, dedup._minhash_arrow_fn): a memo that
# reaches it is cleared, so a task's memory stays bounded however many
# distinct features its partition holds.
_MEMO_CAP = 1 << 16


def norm_text(col: Column | str) -> Column:
    """Canonical text form for hashing/shingling: lowercase, whitespace
    runs collapsed to single spaces, trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def token_count_regex(col: Column | str) -> Column:
    """BPE-ish lexical token count: alpha runs, digit runs, and single
    non-alphanumeric symbols each count as one token."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    ).cast("long")


def n_alpha(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("long")


def n_digit(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("long")


def n_punct(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(
        F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    ).cast("long")


# Stopword marker lists per language. Occurrence counting is done on the
# padded, lowercased text (' ' || text || ' ') via length deltas — a pure
# string-op formulation that is identical in Spark and DuckDB.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of ", " is ", " a "),
    "es": (" el ", " la ", " de ", " que ", " los "),
    "de": (" der ", " die ", " und ", " ist ", " das "),
    "fr": (" le ", " la ", " et ", " les ", " des "),
}


def _padded(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.lit(" "), F.lower(c), F.lit(" "))


def marker_hits(col: Column | str, markers: tuple[str, ...]) -> Column:
    """Total occurrences of the marker substrings (length-delta trick)."""
    t = _padded(col)
    total = F.lit(0)
    for m in markers:
        total = total + (
            (F.length(t) - F.length(F.replace(t, F.lit(m), F.lit(""))))
            / F.lit(len(m))
        ).cast("long")
    return total


def cjk_chars(col: Column | str) -> Column:
    """Count of CJK-range characters (zh detection)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(
        F.regexp_replace(c, r"[^一-鿿]", "")
    ).cast("long")


def lang_id(col: Column | str) -> Column:
    """N-gram/stopword-heuristic language ID over {en,es,de,fr,zh}.

    Deterministic argmax with fixed tie order (en > es > de > fr);
    'unknown' when nothing fires. CJK characters short-circuit to zh.
    """
    # Argmax via greatest() over (score, priority, name) structs — struct
    # comparison is lexicographic, so ties resolve by priority
    # (en > es > de > fr), identical to a prioritized WHEN chain. Each
    # score expression appears exactly ONCE: the naive chain re-inlines
    # every score ~5x and blows janino's 64KB method limit, dropping the
    # whole stage to interpreted mode (measured 5x slower at sf0.1).
    prio = {"en": 3, "es": 2, "de": 1, "fr": 0}
    best = F.greatest(
        *[
            F.struct(
                marker_hits(col, v).alias("score"),
                F.lit(prio[k]).alias("prio"),
                F.lit(k).alias("lang"),
            )
            for k, v in LANG_MARKERS.items()
        ]
    )
    expr = F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))
    return F.when(cjk_chars(col) > 0, F.lit("zh")).otherwise(expr)


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length, alpha ratio, punctuation
    density, mean word length sanity. All integer-derived arithmetic in a
    fixed operation order, so the double result is bit-identical across
    engines given the same text."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    toks = token_count_ws(c).cast("double")
    alpha_ratio = F.when(n > 0, n_alpha(c).cast("double") / n).otherwise(F.lit(0.0))
    punct_ratio = F.when(n > 0, n_punct(c).cast("double") / n).otherwise(F.lit(0.0))
    mean_wlen = F.when(toks > 0, n / toks).otherwise(F.lit(0.0))
    len_ok = F.when((n >= 20) & (n <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    wlen_ok = F.when((mean_wlen >= 3) & (mean_wlen <= 12), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return (
        F.lit(0.25) * len_ok
        + F.lit(0.35) * alpha_ratio
        + F.lit(0.25) * wlen_ok
        + F.lit(0.15) * (F.lit(1.0) - punct_ratio)
    )


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the canonical text form. Collision-safe
    for dedup purposes and portable across engines."""
    return F.md5(norm_text(col).cast("binary"))


def document_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document profile: token counts, char-class stats,
    language guess, quality score, fingerprint."""
    return df.select(
        "*",
        token_count_ws(text_col).alias("n_tokens_ws"),
        token_count_regex(text_col).alias("n_tokens_lex"),
        n_alpha(text_col).alias("n_alpha"),
        n_digit(text_col).alias("n_digit"),
        n_punct(text_col).alias("n_punct"),
        lang_id(text_col).alias("lang_guess"),
        quality_score(text_col).alias("quality"),
        fingerprint(text_col).alias("fp"),
    )


# ---------------------------------------------------------------------------
# Corpus-level term statistics (these DO shuffle, unlike the row maps above)
# ---------------------------------------------------------------------------


def tokens(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, tok) explosion of whitespace tokens of the normalized text —
    the shared entry point of the term-statistics operators."""
    return df.select(
        F.col(id_col),
        F.explode(F.split(norm_text(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed tf-idf.

    idf is the exact rational (N+1)/(df+1) instead of its logarithm: ln
    is monotone, so per-document rankings are IDENTICAL to ln-idf, and
    the score stays a ratio of exact int64 counts evaluated once in IEEE
    double — bit-reproducible across engines (transcendentals are not,
    and the oracle hash compares exact doubles).

    Shape: token explode -> (doc, tok) count [one shuffle, map-side
    combined] -> token df [second shuffle on tok] -> broadcast scalar N
    -> per-doc top-k window (partitioned by doc: parallel, no global
    sort). Ties broken by term ascending, so output is deterministic.
    """
    tf = tokens(df, text_col, id_col).groupBy(id_col, "tok").agg(
        F.count(F.lit(1)).alias("n_tf")
    )
    dfc = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("n_df"))
    total = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (F.col("n_docs") + F.lit(1)).cast("double") / (
        F.col("n_df") + F.lit(1)
    ).cast("double")
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        tf.join(dfc, "tok")
        .crossJoin(F.broadcast(total))
        .withColumn("score", F.col("n_tf").cast("double") * idf)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("tok").alias("term"),
            "n_tf",
            "n_df",
            "score",
            "rank",
        )
    )


def vocab_top(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 200,
) -> DataFrame:
    """Corpus vocabulary head: the k most frequent tokens with total and
    document frequencies, rank-stamped. The global top-k runs as
    orderBy+limit (TakeOrdered: per-partition heaps, no global sort);
    the rank window then orders only the k survivors. Ties broken by
    token ascending."""
    counts = tokens(df, text_col, id_col).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
    )
    top = counts.orderBy(F.col("n_total").desc(), F.col("tok").asc()).limit(k)
    w = Window.orderBy(F.col("n_total").desc(), F.col("tok").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("tok").alias("term"), "n_total", "n_docs", "rank"
    )


def bm25_rationals(k1: float, b: float) -> tuple[int, int, int, int]:
    """BM25 parameters as exact small rationals ``k1 = a/c, b = u/v``
    (lowest terms via Fraction.limit_denominator — deterministic pure
    Python, so both the Spark plan and the oracle SQL embed the SAME
    integers). Defaults 1.2 / 0.75 become 6/5 and 3/4."""
    from fractions import Fraction

    fk1 = Fraction(k1).limit_denominator(1000)
    fb = Fraction(b).limit_denominator(1000)
    return (fk1.numerator, fk1.denominator, fb.numerator, fb.denominator)


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    qid_col: str = "qid",
    qtext_col: str = "qtext",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    salts: int = 32,
) -> DataFrame:
    """Top-k documents per query by BM25 with the LUCENE idf (the
    always-non-negative ``log((N + 1) / (df + 0.5))`` variant — NOT
    Robertson's ``log((N - df + 0.5) / (df + 0.5))``, which goes
    negative for terms in more than half the corpus), the standard
    lexical retrieval baseline a curation pipeline needs beside the
    embedding ANN tier — e.g. for eval-set leakage probes phrased as
    keyword queries.

        score(q, d) = sum over distinct terms t of q:
            log2fix((2N + 2) / (2df_t + 1))              [idf, base 2]
            * tf * (k1 + 1)
              / (tf + k1 * (1 - b + b * dl/avgdl))       [saturation]

    Base-2 vs natural log rescales every term by the same 1/ln(2), so
    the RANKING is identical to ln-idf BM25; only the score unit
    changes.

    Determinism contract (the oracle hash compares exact values): the
    score contains NO floating point and NO transcendental anywhere —
    round 14 proved the ln()-based contract is not portable (a 1-ulp
    libm divergence between the JVM and one DuckDB build, amplified by
    floor(x * 1e6), flipped the driver hash while local runs passed
    bit-exact). Here the idf is functions/fixlog.py's fixed-point
    base-2 log (20 fractional bits) over the exact integer rational
    (2N + 2) / (2df + 1); the saturation is evaluated as an int64
    fixed-point rational with k1 = a/c, b = u/v (exact small
    fractions): with R = fix20(dl * N / S) (staged truncating
    division; S = total corpus tokens, so dl/avgdl never materializes
    a float average),

        den  = c*v * tf * 2^20  +  a*(v-u) * 2^20  +  a*u * R
        sat  = (tf * (a+c)*v * 2^36) div den          [16 frac bits]
        term = idf_fix20 * sat16                      [36 frac bits]

    and the per-(query, doc) score is SUM(term) over int64 — float
    addition order, the one nondeterministic ingredient of a
    distributed sum, never exists. int64 bounds (all proven, see
    fixlog.py): N < 2^50, dl * N < 2^62, S < 2^52, tf < 2^21 — orders
    beyond the 100 TB design point.

    Scale shape: one (doc, term) tf shuffle (map-side combined), one
    term-df shuffle, the query side is a BROADCAST of exploded query
    terms (queries are few by contract), the idf is computed once per
    TERM on the broadcast-sized term frame (not per scored row), and
    the top-k is TWO-PHASE: a per-(query, salt) local top-k over
    ``salts`` deterministic buckets, then the global window over only
    ``salts * k`` survivors — a single window partitioned by qid alone
    would funnel the whole corpus' scored rows through #queries tasks
    at 100 TB. Ties broken by id ascending; identical output to the
    naive single window. Corpus token total S is derived from the dl
    frame (SUM(dl)) rather than re-tokenizing the corpus a second
    time.
    """
    from ..functions import fixlog

    a, c, u, v = bm25_rationals(k1, b)
    qt = F.broadcast(
        tokens(queries, qtext_col, qid_col).distinct()
    )
    qterms = F.broadcast(qt.select("tok").distinct())
    # tf is deliberately NOT persisted although four branches consume
    # it (dl, dfc, the corpus-token total, the scoring join). The
    # re-derivations are pure map+partial-agg passes that pipeline
    # into each consumer; forcing one shared materialization was
    # A/B-measured ~1.5x SLOWER at sf0.1 (round 16: the cache build
    # pays a full unpruned (doc, term, tf) store + read that costs
    # more than the repeated streamlined passes save).
    # r19 (guide §2.3 — shuffle fewer bytes): the exploded token
    # stream is semi-joined against the broadcast query-term set
    # BEFORE the (doc, term) aggregation. Every downstream consumer
    # of tf only ever looks at query terms — the scoring join is
    # tf JOIN qt, and dfc feeds idf_terms which is also qt-filtered —
    # so n_tf/n_df values for query terms are identical while the
    # map-side partial agg and the exchange drop from every corpus
    # term to the ~10 query terms. Doc length / corpus totals never
    # came from tf (dl_arr below).
    tf = (
        tokens(df, text_col, id_col)
        .join(qterms, "tok", "semi")
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("n_tf"))
    )
    # dl = total tokens per doc = the token-ARRAY length, map-only —
    # no explode, no (doc, term) shuffle. Identical value to
    # SUM(n_tf) over tf (the oracle derives it that way), but this
    # branch costs one array-size projection instead of a full
    # tokenize + aggregate pass; s_toks collapses to a map-side-
    # combined scalar agg over the same arrays.
    dl_arr = F.filter(
        F.split(norm_text(text_col), " "), lambda t: t != ""
    )
    dl = df.select(
        F.col(id_col), F.size(dl_arr).cast("long").alias("dl")
    )
    dfc = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("n_df"))
    scalars = F.broadcast(
        df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(dl_arr)).cast("long").alias("s_toks"),
        )
    )
    # per-TERM fixed-point idf on the tiny query-term frame: the
    # 60-odd-step integer log2 recurrence runs once per distinct
    # query term, then joins into scoring as a 2-column broadcast
    idf_terms = F.broadcast(
        fixlog.spark_apply(
            dfc.join(qterms, "tok").crossJoin(scalars),
            "2 * n_docs + 2", "2 * n_df + 1", "idf_fix",
        ).select("tok", "idf_fix")
    )
    term_items = [
        "dl * n_docs AS _t",
        "_t div s_toks AS _ra",
        "(_t % s_toks) * 1024 AS _rr1",
        "_rr1 div s_toks AS _rb",
        "(_rr1 % s_toks) * 1024 AS _rr2",
        "_rr2 div s_toks AS _rc",
        "_ra * 1048576 + _rb * 1024 + _rc AS _r",
        f"{c * v} * n_tf * 1048576 + {a * (v - u)} * 1048576"
        f" + {a * u} * _r AS _den",
        f"(n_tf * {(a + c) * v} * 68719476736) div _den AS _sat",
        "idf_fix * _sat AS _sterm",
    ]
    scored = (
        tf.join(qt, "tok")
        .join(dl, id_col)
        .join(idf_terms, "tok")
        .crossJoin(scalars)
        .selectExpr(qid_col, id_col, *term_items)
        .groupBy(qid_col, id_col)
        .agg(F.sum("_sterm").alias("score_fix"))
    )
    local_w = Window.partitionBy(
        qid_col, F.pmod(F.xxhash64(id_col), F.lit(salts))
    ).orderBy(F.col("score_fix").desc(), F.col(id_col).asc())
    final_w = Window.partitionBy(qid_col).orderBy(
        F.col("score_fix").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_lr", F.row_number().over(local_w))
        .filter(F.col("_lr") <= k)
        .withColumn("rank", F.row_number().over(final_w))
        .filter(F.col("rank") <= k)
        .select(qid_col, id_col, "score_fix", "rank")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 512,
    stride: int = 384,
) -> DataFrame:
    """Fixed-size overlapping character chunks per document — the context
    chunking a pretraining / retrieval prep pipeline applies before
    tokenization (overlap = ``size - stride`` keeps boundary context).

    Map-only: sequence + transform + explode stays in codegen, output is
    ~len/stride rows per doc. Chunk starts are 0-based multiples of
    ``stride``; the final chunk is the remainder (shorter than ``size``),
    and a chunk starting at or past the end is never emitted — every
    character belongs to at least one chunk, empty docs yield none.
    Output: (id, chunk_idx, chunk_start, chunk_len, chunk) with chunk_idx
    0-based in document order.
    """
    n_chunks = F.greatest(
        F.ceil(
            (F.length(F.col(text_col)) - F.lit(size)) / F.lit(stride)
        ).cast("long")
        + 1,
        F.lit(1),
    )
    idx = F.explode(
        F.when(
            F.length(F.col(text_col)) > 0,
            F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        ).otherwise(F.array().cast("array<long>"))
    )
    out = df.select(F.col(id_col), idx.alias("chunk_idx"), F.col(text_col))
    start = F.col("chunk_idx") * stride
    chunk = F.substring(F.col(text_col), (start + 1).cast("int"), size)
    return out.select(
        id_col,
        "chunk_idx",
        start.alias("chunk_start"),
        F.length(chunk).alias("chunk_len"),
        chunk.alias("chunk"),
    )


def word_array(col: Column | str) -> Column:
    """The normalized text split on single spaces: the word array the
    n-gram builders below take. NULL text is coalesced to '' (one
    empty word), so every row yields features. Project it ONCE as a
    column before building n-grams: _word_ngram_arrays references it
    inside a transform lambda, and an inline expression there re-runs
    the normalization regex per array element."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(norm_text(F.coalesce(c, F.lit(""))), " ")


def _word_ngram_arrays(
    words: Column, ns: tuple[int, ...]
) -> dict[int, Column]:
    """Per-n word n-gram arrays over a PROJECTED word-array column
    (word_array, selected beforehand), built row-local (one
    O(|words|) transform each — cheap even on the interpreted HOF
    path; the COUNTING below deliberately is not row-local, see
    repetition_signals)."""

    def gram_at(n: int):
        # single-arg lambda factory: a `n=n` default would make Spark
        # treat it as the 2-arg (element, index) form and bind the
        # index COLUMN to n
        def build(i: Column) -> Column:
            return F.concat_ws(
                " ",
                *[F.element_at(words, (i + j + 1).cast("int"))
                  for j in range(n)],
            )

        return build

    out: dict[int, Column] = {}
    for n in ns:
        if n == 1:
            out[n] = words
            continue
        out[n] = F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n), gram_at(n)
            ),
        ).otherwise(F.array().cast("array<string>"))
    return out


def _rep_signals_arrow_fn(it):
    """mapInArrow kernel for repetition_signals: all n-grams of a doc
    are row-local, so the three fractions are computable per row with
    ZERO exchanges. The input text is PRE-NORMALIZED by norm_text IN
    THE JVM — the kernel only splits on single spaces, so there is no
    Python-vs-Java lowercase/regex semantics surface at all. Counting
    uses word TUPLES — words contain no spaces post-normalization, so
    tuple equality == joined-string equality. All divisions are single
    IEEE double ops on integer-exact operands, bit-identical to the
    DuckDB oracle's (plans/registry_llm.py:_sql_doc_repetition; tested
    bit-exact)."""
    import pyarrow as pa

    for batch in it:
        texts = batch.column(1).to_pylist()
        dup_w: list[float] = []
        top_b: list[float] = []
        dup_t: list[float] = []
        for t in texts:
            if t is None:
                # NULL text scores 0.0 on every fraction
                dup_w.append(0.0)
                top_b.append(0.0)
                dup_t.append(0.0)
                continue
            w = t.split(" ")
            n1 = len(w)  # >= 1: empty text -> one empty-string word
            dup_w.append(1.0 - len(set(w)) / n1)
            if n1 >= 2:
                c2: dict = {}
                for g in zip(w, w[1:]):
                    c2[g] = c2.get(g, 0) + 1
                top_b.append(max(c2.values()) / (n1 - 1))
            else:
                top_b.append(0.0)
            if n1 >= 3:
                c3: dict = {}
                for g in zip(w, w[1:], w[2:]):
                    c3[g] = c3.get(g, 0) + 1
                dup_t.append(
                    sum(1 for v in c3.values() if v > 1) / len(c3)
                )
            else:
                dup_t.append(0.0)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column(0),  # id passthrough, any type
                pa.array(dup_w, pa.float64()),
                pa.array(top_b, pa.float64()),
                pa.array(dup_t, pa.float64()),
            ],
            [
                "__rep_id",
                "dup_word_frac",
                "top_bigram_frac",
                "dup_trigram_frac",
            ],
        )


# The repetition gate's thresholds on ``repetition_signals``, shared by the
# batch curation pipeline and the streaming gate. Corpus-calibrated: the
# synthetic docs draw from a small vocabulary, so dup_word_frac runs high
# (median ~0.54) and the gate targets the degenerate tail (~2.4% of sf0.01
# docs fail). Production corpora would use Gopher's published operating
# points instead.
REP_MAX_DUP_WORD = 0.7
REP_MAX_TOP_BIGRAM = 0.12
REP_MAX_DUP_TRIGRAM = 0.05


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, "Scaling
    Language Models", §A1.1: repetitious documents are low-quality even
    when every individual line looks fine): per doc,

      * ``dup_word_frac``    — 1 - |distinct words| / |words|
      * ``top_bigram_frac``  — occurrences of the most frequent word
                               bigram / total bigrams
      * ``dup_trigram_frac`` — fraction of DISTINCT word trigrams that
                               occur more than once

    Docs whose text yields no n-gram of some order (too short) get 0.0
    for that fraction; empty text normalizes to one empty-string word,
    so dup_word_frac is 0.0 there too.

    Shape: an Arrow BATCH kernel (guide §4.2 — every n-gram of a doc is
    row-local, so the signals are a map-only pass with no explode and
    no exchange). The counting loop runs in CPython dicts over Arrow
    batches (~tens of ms per task); the row-local higher-order-function
    form runs on Spark's INTERPRETED expression path and measured ~70 s
    at sf0.1, and the explode + hash-count shape paid an explode of 3x
    the corpus tokens plus four exchanges.
    """
    # keep the caller's id type (string ids are supported)
    id_type = df.schema[id_col].dataType.simpleString()
    out = df.select(
        F.col(id_col).alias("__rep_id"),
        norm_text(text_col).alias("__rep_raw"),
    ).mapInArrow(
        _rep_signals_arrow_fn,
        f"__rep_id {id_type}, dup_word_frac double,"
        " top_bigram_frac double, dup_trigram_frac double",
    )
    return out.select(
        F.col("__rep_id").alias(id_col),
        "dup_word_frac",
        "top_bigram_frac",
        "dup_trigram_frac",
    )


def _reasons(fails: dict[str, Column]) -> Column:
    """A gate's reject reason: the names of its failing rules, in rule
    order, comma-joined ('' for a kept doc)."""
    return F.concat_ws(
        ",", *[F.when(c, F.lit(name)) for name, c in fails.items()]
    )


def repetition_gate(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The repetition gate's per-doc verdict, the one definition the
    batch curation pipeline and the streaming dedup both apply:
    (id, dup_word_frac, top_bigram_frac, dup_trigram_frac, keep,
    reason). A doc is kept when no fraction exceeds its ``REP_MAX_*``
    limit; ``reason`` names the fractions that do. The limits are read
    when the gate is built, so a caller that re-pins them sees the new
    values."""
    limits = {
        "dup_word": REP_MAX_DUP_WORD,
        "top_bigram": REP_MAX_TOP_BIGRAM,
        "dup_trigram": REP_MAX_DUP_TRIGRAM,
    }
    fails = {n: F.col(f"{n}_frac") > lim for n, lim in limits.items()}
    return repetition_signals(df, text_col, id_col).select(
        "*",
        (~reduce(operator.or_, fails.values())).alias("keep"),
        _reasons(fails).alias("reason"),
    )


def _embed_text_arrow_fn(dim: int, seed: str, ngrams: tuple[int, ...]):
    """mapInArrow kernel factory for embed_text: a document's feature
    multiset is row-local, so bucket counting + L2 normalization run
    with ZERO exchanges. Input text is JVM-normalized (norm_text over
    the coalesced column) — the kernel only splits on single spaces.
    Hashes are the exact hash32 recipe (int(md5(utf8)[:8 hex], 16),
    then pmod) in hashlib, memoized per distinct feature within the
    task (the bounded-vocab corpus repeats features heavily; the memo
    is cleared whenever it reaches _MEMO_CAP entries). float steps
    mirror the DuckDB oracle (plans/registry_llm.py:
    _sql_doc_embed_ctes): int counts -> exact-int sum of squares -> one
    double sqrt -> one double division -> float32 cast, all
    correctly-rounded IEEE ops on identical operands (tested
    bit-exact)."""
    import hashlib
    import math

    import pyarrow as pa

    bseed = "#" + seed
    sseed = "#s" + seed
    cap = _MEMO_CAP

    def fn(it):
        cache: dict = {}

        def bucket_sign(feat: str) -> tuple:
            bs = cache.get(feat)
            if bs is None:
                h = int(
                    hashlib.md5(
                        (feat + bseed).encode("utf-8")
                    ).hexdigest()[:8],
                    16,
                ) % dim
                s = (
                    int(
                        hashlib.md5(
                            (feat + sseed).encode("utf-8")
                        ).hexdigest()[:8],
                        16,
                    )
                    % 2
                ) * 2 - 1
                bs = (h, s)
                if len(cache) >= cap:
                    cache.clear()
                cache[feat] = bs
            return bs

        for batch in it:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            out: list = []
            for t in texts:
                counts = [0] * dim
                words = t.split(" ")
                feats: list = []
                if 1 in ngrams:
                    feats.extend(words)
                if 2 in ngrams and len(words) >= 2:
                    feats.extend(
                        a + " " + b for a, b in zip(words, words[1:])
                    )
                for n in ngrams:
                    if n in (1, 2):
                        continue
                    if len(words) >= n:
                        feats.extend(
                            " ".join(words[i:i + n])
                            for i in range(len(words) - n + 1)
                        )
                for feat in feats:
                    b, s = bucket_sign(feat)
                    counts[b] += s
                nrm = math.sqrt(float(sum(v * v for v in counts)))
                if nrm > 0:
                    out.append([float(v) / nrm for v in counts])
                else:
                    out.append([0.0] * dim)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(out, pa.list_(pa.float32())),
                ],
                ["__e_id", "embedding"],
            )

    return fn


def embed_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    seed: str = "emb",
    ngrams: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """Deterministic hashing-trick text embedding (feature hashing,
    Weinberger et al. ICML'09): word n-gram features hashed into ``dim``
    signed buckets, L2-normalized — the bridge from a text column to the
    embedding operator family (near-dup, clustering, ANN) with no model
    weights, fully engine-portable (md5-derived hashes) and therefore
    oracle-replayable. The geometry clusters documents sharing phrasing,
    which is exactly what the semantic-dedup composition consumes; swap
    in a real model's vectors at the same column contract when quality
    matters more than replayability.

    Shape: an Arrow batch kernel (guide §4.2 — the feature multiset is
    row-local, so counting needs no explode and no regroup; see
    _embed_text_arrow_fn for the bit-exactness argument). Dim-wide
    higher-order-function aggregates run on Spark's interpreted path
    (measured ~50 s at sf0.1). Output: (id, embedding array<float>);
    NULL text is coalesced to '' FIRST, so every input row yields an
    output row carrying the deterministic empty-string-feature vector;
    all-zero only if a feature array were empty (cannot happen after
    the coalesce — empty text normalizes to one empty-string feature —
    but the norm>0 guard keeps the math total).
    """
    # keep the caller's id type (string ids are supported)
    id_type = df.schema[id_col].dataType.simpleString()
    out = df.select(
        F.col(id_col).alias("__e_id"),
        norm_text(F.coalesce(F.col(text_col), F.lit(""))).alias(
            "__e_norm"
        ),
    ).mapInArrow(
        _embed_text_arrow_fn(dim, seed, ngrams),
        f"__e_id {id_type}, embedding array<float>",
    )
    return out.select(F.col("__e_id").alias(id_col), "embedding")


# PII patterns chosen for REGEX PORTABILITY: the same pattern strings
# compile identically under Java regex (Spark) and RE2 (DuckDB) — no
# lookbehind, no backreferences, no possessive quantifiers.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
              "<EMAIL>"),
    # Either an explicit phone marker (+/open-paren lead) or three
    # separator-joined digit groups — a bare "1914 - 1918" year range or
    # page span must NOT match (precision over recall)
    "phone": (
        r"(\+|\()[0-9()\- ]{6,14}[0-9]"
        r"|[0-9]{3,4}[ -][0-9]{3,4}[ -][0-9]{3,4}",
        "<PHONE>",
    ),
    "ip": (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
}

# Payment-card candidates: a separator-tolerant digit run. The regex is
# only the CANDIDATE generator — a match scrubs ONLY if its stripped
# digits are 13-19 long AND pass the Luhn checksum (card_matches), so
# ISBNs, order numbers, and page spans survive. 19-digit cards written
# WITH separators exceed the 19-char span and are not matched — the
# documented precision-over-recall trade.
CARD_CANDIDATE = r"[0-9][0-9 -]{11,17}[0-9]"
CARD_TOKEN = "<CARD>"
# Secret-looking candidates: one long unbroken token of base64ish
# characters ('/' excluded so URL paths split into segments). A match
# scrubs ONLY if it mixes upper+lower+digit AND has >= _SECRET_MIN_DISTINCT
# distinct characters (the entropy proxy) — hex hashes in prose (no
# uppercase) and repeated-pattern IDs survive.
SECRET_CANDIDATE = r"[A-Za-z0-9+_=-]{24,}"
SECRET_TOKEN = "<SECRET>"
_SECRET_MIN_DISTINCT = 12


def luhn_valid(col: Column) -> Column:
    """Luhn checksum over a digits-only string column, as a pure
    engine-portable expression (aggregate over 1..len, doubling every
    2nd digit from the right) — runs per CANDIDATE match, and card
    candidates are <= 19 chars, so the interpreted HOF path is noise."""
    n = F.length(col)

    def term(i: Column) -> Column:
        v = F.substring(col, i, F.lit(1)).cast("int")
        return F.when(
            ((n - i) % 2) == 1,
            F.when(v * 2 > 9, v * 2 - 9).otherwise(v * 2),
        ).otherwise(v)

    total = F.aggregate(
        F.sequence(F.lit(1), n), F.lit(0), lambda acc, i: acc + term(i)
    )
    return (total % 10) == 0


def card_matches(col: Column) -> Column:
    """Array of Luhn-valid card-shaped matches in the text (the
    candidate regex filtered by stripped-digit length 13-19 + Luhn)."""
    return F.filter(
        F.regexp_extract_all(col, F.lit(CARD_CANDIDATE), F.lit(0)),
        lambda m: _stripped_card_valid(m),
    )


def _stripped_card_valid(m: Column) -> Column:
    d = F.regexp_replace(m, "[ -]", "")
    return F.length(d).between(13, 19) & luhn_valid(d)


def secret_matches(col: Column) -> Column:
    """Array of secret-looking matches: long base64ish tokens mixing
    upper+lower+digit with enough distinct characters."""
    return F.filter(
        F.regexp_extract_all(col, F.lit(SECRET_CANDIDATE), F.lit(0)),
        lambda t: t.rlike("[a-z]")
        & t.rlike("[A-Z]")
        & t.rlike("[0-9]")
        & (
            F.size(F.array_distinct(F.split(t, "")))
            >= _SECRET_MIN_DISTINCT
        ),
    )


def _replace_each(
    acc: Column, matches: Column, token: str, boundary: str
) -> Column:
    """Replace every distinct match string (sorted — a deterministic,
    engine-identical replacement order) with ``token`` in ``acc``,
    ONLY where the occurrence is a standalone run: each match is
    anchored between ``boundary`` characters (a negated char class for
    the kind's charset) or string edges, so a valid card's digits
    embedded inside a LONGER run the Luhn gate rejected are NOT
    rewritten (a bare literal replace over-redacted there and made the
    audit count disagree with the replacements made). The anchored
    regex consumes its boundary characters, so back-to-back
    occurrences sharing a separator alternate misses within one pass —
    the whole fold runs TWICE; after pass one every remaining
    occurrence borders a replacement token (a boundary char), so pass
    two is always sufficient. Match literals are regex-escaped with
    java.util.regex.Pattern quoting (\\Q...\\E, RE2-compatible)."""
    repl = F.lit(f"$1{token}$2")

    def one_pass(t: Column) -> Column:
        return F.aggregate(
            F.array_sort(F.array_distinct(matches)),
            t,
            lambda a, m_: F.regexp_replace(
                a,
                F.concat(
                    F.lit(f"(^|{boundary})\\Q"),
                    m_,
                    F.lit(f"\\E({boundary}|$)"),
                ),
                repl,
            ),
        )

    return one_pass(one_pass(acc))


def _count_matches(c: Column, pat: str) -> Column:
    return F.size(
        F.regexp_extract_all(c, F.lit(pat), F.lit(0))
    ).cast("long")


def _scrub_stages(
    df: DataFrame, text_col: str, keep: list[str]
) -> DataFrame:
    """The PII replacement chain (email -> Luhn-valid card -> phone ->
    ip -> high-entropy secret) as SEPARATE projections: ``keep``
    columns, ``clean_text`` and the per-kind counts. Each stage's text
    is a projected column that the next stage references more than
    once (the card and secret folds read both the text and its match
    array, twice each), so CollapseProject leaves every stage
    evaluated once per row instead of re-inlining the chain so far
    into each fold. Columns a caller never selects (the counts, for
    scrub_text) are pruned by the optimizer."""
    email_pat, email_tok = PII_PATTERNS["email"]
    phone_pat, phone_tok = PII_PATTERNS["phone"]
    ip_pat, ip_tok = PII_PATTERNS["ip"]
    c = F.col(text_col)
    s = df.select(
        *keep,
        _count_matches(c, email_pat).alias("n_email"),
        F.regexp_replace(c, email_pat, email_tok).alias("_t1"),
    )
    s = s.select(
        *keep, "n_email", "_t1",
        card_matches(F.col("_t1")).alias("_cards"),
    )
    s = s.select(
        *keep,
        "n_email",
        F.size("_cards").cast("long").alias("n_card"),
        _replace_each(
            F.col("_t1"), F.col("_cards"), CARD_TOKEN, "[^0-9]"
        ).alias("_t2"),
    )
    s = s.select(
        *keep, "n_email", "n_card",
        _count_matches(F.col("_t2"), phone_pat).alias("n_phone"),
        F.regexp_replace(F.col("_t2"), phone_pat, phone_tok).alias("_t2p"),
    )
    s = s.select(
        *keep, "n_email", "n_card", "n_phone",
        _count_matches(F.col("_t2p"), ip_pat).alias("n_ip"),
        F.regexp_replace(F.col("_t2p"), ip_pat, ip_tok).alias("_t3"),
    )
    s = s.select(
        *keep, "n_email", "n_card", "n_phone", "n_ip", "_t3",
        secret_matches(F.col("_t3")).alias("_secrets"),
    )
    return s.select(
        *keep,
        _replace_each(
            F.col("_t3"), F.col("_secrets"), SECRET_TOKEN,
            "[^A-Za-z0-9+_=-]",
        ).alias("clean_text"),
        "n_email", "n_card", "n_phone", "n_ip",
        F.size("_secrets").cast("long").alias("n_secret"),
    )


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII redaction for training corpora: emails, Luhn-valid payment
    cards, phone-like number runs, IPv4 addresses, and high-entropy
    secret-looking tokens replaced with typed placeholder tokens, with
    per-kind match counts kept for auditing (a scrub you cannot measure
    is a scrub you cannot trust). Purely map-side regex + tiny-array
    expression work — scan speed at any corpus size; patterns are
    deliberately conservative (precision over recall: a placeholder in
    clean text is worse than a missed digit run for most training
    uses).

    Replacement order is email -> card -> phone -> ip -> secret (cards
    BEFORE phones: a card's digit groups are phone-shaped and must not
    be half-eaten by the phone scrub). Each count is computed on the
    text the corresponding replacement STAGE actually ran over (email
    on the original; cards on the post-email text; phones post-card;
    IPs post-phone; secrets post-ip) — so a Luhn-valid card's
    separator groups are not double-counted as a phone the scrub never
    replaced, and every count reconciles against the replacements its
    stage performed. The chain is _scrub_stages' staged projections,
    shared with scrub_text.
    """
    return _scrub_stages(df, text_col, [id_col]).select(
        id_col, "clean_text",
        "n_email", "n_card", "n_phone", "n_ip", "n_secret",
    )


def scrub_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` with ``text_col`` replaced in place by its scrubbed form
    (scrub_pii's chain, without the audit counts), every other column
    kept in order — the form for pipelines that scrub before hashing."""
    keep = [c for c in df.columns if c != text_col]
    return _scrub_stages(df, text_col, keep).select(
        *[
            F.col("clean_text").alias(c) if c == text_col else F.col(c)
            for c in df.columns
        ]
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# The Gopher battery's thresholds. min_words is pinned to 10 for the short
# synthetic docs (the paper's 50 would fail most of a corpus whose docs
# average ~35 words); every other threshold is the published operating
# point.
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
# The gate (gopher_gate) additionally calibrates the stop-word rule to
# this corpus: the bounded synthetic vocabulary carries at most ONE of
# the 8 stop-words per doc ('the'), so the published 2 would zero the
# corpus (measured: 0/500 pass at sf0.01; 382/500 pass at 1). The
# gopher_rules report keeps the paper's 2.
GOPHER_MIN_STOP = 1


def _gopher_words_arrow_fn(it):
    """mapInArrow kernel for gopher_rules' per-WORD stats: the four
    word aggregates (count, length sum, alpha-bearing count, distinct
    stop-hit count) are row-local over the JVM-normalized text —
    computed per row here with ZERO exchanges (no explode of every
    corpus token, no groupBy, no join back). The kernel only splits on
    single spaces (normalization happened in the JVM via norm_text, so
    there is no Python-vs-Java regex/lower surface); rows with no words
    emit NULL stats, as the DuckDB oracle's left-join miss does
    (plans/registry_llm.py:_sql_gopher_ctes), so every downstream
    division/coalesce sees identical inputs (tested bit-exact).
    Pass-through columns (symbols / line counts) are JVM expressions
    computed before the kernel."""
    import pyarrow as pa

    stop = set(GOPHER_STOPWORDS)
    for batch in it:
        names = batch.schema.names
        texts = batch.column(names.index("__g_norm")).to_pylist()
        n_words: list = []
        wlen_sum: list = []
        alpha_words: list = []
        stop_hits: list = []
        for t in texts:
            ws = t.split(" ") if t is not None else []
            ws = [w for w in ws if w != ""]
            if not ws:
                n_words.append(None)
                wlen_sum.append(None)
                alpha_words.append(None)
                stop_hits.append(None)
                continue
            n_words.append(len(ws))
            wlen_sum.append(sum(len(w) for w in ws))
            alpha_words.append(
                sum(
                    1
                    for w in ws
                    if any("a" <= ch <= "z" for ch in w)
                )
            )
            stop_hits.append(len(stop.intersection(ws)))
        cols = [
            batch.column(i)
            for i, n in enumerate(names)
            if n != "__g_norm"
        ]
        out_names = [n for n in names if n != "__g_norm"]
        cols += [
            pa.array(n_words, pa.int64()),
            pa.array(wlen_sum, pa.int64()),
            pa.array(alpha_words, pa.int64()),
            pa.array(stop_hits, pa.int64()),
        ]
        out_names += ["n_words", "wlen_sum", "alpha_words", "stop_hits"]
        yield pa.RecordBatch.from_arrays(cols, out_names)


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = GOPHER_MIN_WORDS,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The full Gopher quality-rule battery (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Appendix A) as per-rule boolean
    columns plus the composite ``keep`` — the published web-text gate,
    beside the repetition gates repetition_signals already provides.
    Thresholds are the ``GOPHER_*`` module constants; the two that
    callers vary stay parameters: ``min_words`` (default the pinned
    GOPHER_MIN_WORDS) and ``min_stop_hits`` (the paper's 2 for the
    report, GOPHER_MIN_STOP for the gate).

    Rules: word count in [min, GOPHER_MAX_WORDS]; mean word length in
    [3,10]; symbol-to-word ratio ('#', '...' and the Unicode ellipsis
    '…') <= 0.1; >= 80% of words carry an alphabetic character;
    >= min_stop_hits stop-word hits (the 8-word list); < 90% of lines
    bullet-started; <= 30% of lines ellipsis-ended.

    Scale shape: the per-WORD stats come from an Arrow batch kernel
    (guide §4.2 — they are row-local, so the pass is map-only;
    normalization stays in the JVM, see _gopher_words_arrow_fn); the
    per-LINE and per-CHAR rules are whole-text multiline regexp counts
    at scan cost (single codegen pass — no interpreted HOF lambdas).
    Every fraction is an int/int IEEE division in fixed order, so the
    booleans replay bit-exactly in the oracle. NULL/empty text yields
    zero words and fails the word-count rule (keep = false), never a
    NULL verdict."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_lines = F.size(F.split(t, "\n"))
    # per-line rules as whole-text multiline regexp counts — a single
    # codegen pass per doc, vs the per-element interpreted HOF-lambda
    # form (F.filter(lines, ...)) these replace. [^\S\n] is "\s minus
    # newline", which is exactly what \s meant inside a split("\n")
    # segment, so the counts (and hence the booleans) are bit-identical
    # to the per-line form — asserted by
    # test_gopher_line_rules_match_hof_form. (?d) (UNIX_LINES) pins
    # "line" to \n-delimited: plain (?m) would also let ^/$ fire at
    # bare \r, U+0085, U+2028, U+2029 — terminators the split("\n")
    # form and the chr(10)-splitting DuckDB oracle never recognize.
    bullet_lines = F.regexp_count(
        t, F.lit(r"(?dm)^[^\S\n]*[-*•]")
    )
    ellipsis_lines = F.regexp_count(
        t, F.lit(r"(?dm)(\.\.\.|…)[^\S\n]*$")
    )
    symbols = (
        F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    ) + F.regexp_count(t, F.lit(r"(\.\.\.|…)"))
    base = df.select(
        F.col(id_col),
        symbols.alias("symbols"),
        n_lines.alias("n_lines"),
        bullet_lines.alias("bullet_lines"),
        ellipsis_lines.alias("ellipsis_lines"),
        norm_text(text_col).alias("__g_norm"),
    )
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in base.schema.fields
        if f.name != "__g_norm"
    ) + (
        ", n_words long, wlen_sum long,"
        " alpha_words long, stop_hits long"
    )
    stats = base.mapInArrow(_gopher_words_arrow_fn, out_schema)
    j = stats.select(
        id_col,
        F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
        (
            F.col("wlen_sum").cast("double")
            / F.col("n_words").cast("double")
        ).alias("mean_word_len"),
        (
            F.col("alpha_words").cast("double")
            / F.col("n_words").cast("double")
        ).alias("alpha_word_frac"),
        (
            F.col("symbols").cast("double")
            / F.col("n_words").cast("double")
        ).alias("symbol_ratio"),
        F.coalesce(F.col("stop_hits"), F.lit(0)).alias("stop_hits"),
        (
            F.col("bullet_lines").cast("double")
            / F.col("n_lines").cast("double")
        ).alias("bullet_line_frac"),
        (
            F.col("ellipsis_lines").cast("double")
            / F.col("n_lines").cast("double")
        ).alias("ellipsis_line_frac"),
    )
    nw = F.col("n_words")
    checks = {
        "word_count_ok": (nw >= min_words) & (nw <= GOPHER_MAX_WORDS),
        "mean_wlen_ok": (
            (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WLEN)
            & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WLEN)
        ),
        "symbol_ok": F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO,
        "alpha_ok": (
            F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC
        ),
        "stopword_ok": F.col("stop_hits") >= min_stop_hits,
        "bullet_ok": (
            F.col("bullet_line_frac") < GOPHER_MAX_BULLET_LINE_FRAC
        ),
        "ellipsis_ok": (
            F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_LINE_FRAC
        ),
    }
    out = j
    for name, cond in checks.items():
        out = out.withColumn(
            name, F.coalesce(cond, F.lit(False))
        )
    keep = None
    for name in checks:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return out.withColumn("keep", keep)


def gopher_gate(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The Gopher gate's per-doc verdict, the one definition the batch
    curation pipeline and the streaming dedup both apply: the
    gopher_rules frame at the gate's thresholds (GOPHER_MIN_WORDS,
    GOPHER_MIN_STOP) plus ``reason``, the failing rules' names
    ('word_count', 'stopword', ...)."""
    rules = gopher_rules(
        df, text_col, id_col, min_stop_hits=GOPHER_MIN_STOP
    )
    fails = {
        c.removesuffix("_ok"): ~F.col(c)
        for c in rules.columns
        if c.endswith("_ok")
    }
    return rules.withColumn("reason", _reasons(fails))
