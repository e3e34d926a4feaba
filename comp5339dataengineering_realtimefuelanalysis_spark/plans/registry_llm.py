"""LLM-training-data-pipeline queries over the ``documents`` / ``embeddings``
tables: text analysis, dedup family, similarity search, multimodal plumbing.

Every oracle here is generated PROGRAMMATICALLY from the same constants the
Spark operators use (marker lists, permutation constants, band layout), so
the two sides cannot drift. Portability rules (see operators/dedup.py and
operators/similarity.py docstrings):

  * hashes: md5 hex prefixes as int64 — Spark conv(substr(md5,1,8),16,10),
    DuckDB ('0x' || substring(md5,1,8))::BIGINT;
  * integer affine permutations mod 4294967311 (all int64-safe);
  * dot products: elements scaled to int64 at 1e9, products summed exactly
    (Spark: decimal accumulate; DuckDB: SUM(BIGINT) -> HUGEINT);
  * every division that reaches the output runs in IEEE double on
    bit-identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import fixlog
from ..functions.caching import (
    materialize,
    memo_rows,
    release_materialized,
    tracked_persist,
)
from ..functions.scalars import dec_avg
from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import packing as pk
from ..operators import quantization as qz
from ..operators import selection as sel
from ..operators import similarity as sim
from ..operators import text as tx
from ..operators.text import (
    LANG_MARKERS,
    REP_MAX_DUP_TRIGRAM,
    REP_MAX_DUP_WORD,
    REP_MAX_TOP_BIGRAM,
)
from .base import QueryDef, load_table

# ---------------------------------------------------------------------------
# SQL expression builders (DuckDB dialect) mirroring operators/text.py
# ---------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _sql_marker_hits(markers: tuple[str, ...]) -> str:
    t = "(' ' || lower(text) || ' ')"
    parts = [
        f"CAST((length({t}) - length(replace({t}, '{m}', ''))) / {len(m)} AS BIGINT)"
        for m in markers
    ]
    return "(" + " + ".join(parts) + ")"


def _sql_lang_id() -> str:
    scores = {k: _sql_marker_hits(v) for k, v in LANG_MARKERS.items()}
    # WHEN order mirrors text.lang_id: en checked first, then es, de, fr
    whens = []
    for lang in ("en", "es", "de", "fr"):
        s = scores[lang]
        conds = [f"{s} > 0"] + [
            f"{s} >= {o}" for k, o in scores.items() if k != lang
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    cjk = "length(regexp_replace(text, '[^一-鿿]', '', 'g'))"
    return (
        f"CASE WHEN {cjk} > 0 THEN 'zh' "
        + " ".join(whens)
        + " ELSE 'unknown' END"
    )


_SQL_N_TOKENS_WS = (
    "CASE WHEN trim(text) = '' THEN 0 ELSE "
    "CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) END"
)
_SQL_N_TOKENS_LEX = (
    "CAST(length(regexp_extract_all(text,"
    " '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)"
)
_SQL_N_ALPHA = "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)"
_SQL_N_DIGIT = "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)"
_SQL_N_PUNCT = (
    "CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT)"
)


def _sql_quality() -> str:
    n = "CAST(length(text) AS DOUBLE)"
    toks = f"CAST({_SQL_N_TOKENS_WS} AS DOUBLE)"
    alpha_ratio = f"CASE WHEN {n} > 0 THEN CAST({_SQL_N_ALPHA} AS DOUBLE) / {n} ELSE 0.0 END"
    punct_ratio = f"CASE WHEN {n} > 0 THEN CAST({_SQL_N_PUNCT} AS DOUBLE) / {n} ELSE 0.0 END"
    mean_wlen = f"CASE WHEN {toks} > 0 THEN {n} / {toks} ELSE 0.0 END"
    len_ok = f"CASE WHEN {n} >= 20 AND {n} <= 10000 THEN 1.0 ELSE 0.0 END"
    wlen_ok = (
        f"CASE WHEN {mean_wlen} >= 3 AND {mean_wlen} <= 12 THEN 1.0 ELSE 0.0 END"
    )
    return (
        f"0.25 * {len_ok} + 0.35 * ({alpha_ratio}) + 0.25 * {wlen_ok}"
        f" + 0.15 * (1.0 - ({punct_ratio}))"
    )


# shingles: distinct 5-grams of the normalized text, with 32-bit hash
_SHINGLE_N = 5
_SQL_SHINGLES = f"""
    SELECT DISTINCT doc_id,
           unnest(list_transform(
               range(1, greatest(length({_NORM}) - {_SHINGLE_N - 1}, 1) + 1),
               i -> substring({_NORM}, CAST(i AS INT), {_SHINGLE_N}))) AS shingle
    FROM documents
"""
_SQL_H32 = "('0x' || substring(md5(shingle), 1, 8))::BIGINT"

_NUM_HASHES = 16
_BANDS = 4
# Skew guard (operators/dedup.py:cap_buckets) wired into every banded pair
# composition: buckets with more members than the cap are dropped before
# the self-join, mirrored in the oracle SQL via QUALIFY so the comparison
# stays exact. Caps sit above the measured normal-corpus maxima (minhash
# 112, simhash 1338 at sf0.1) so results are unchanged there, while a
# degenerate band key — thousands of boilerplate docs sharing one band —
# can no longer make pair generation quadratic at scale.
_LSH_MAX_BUCKET = 256
_SIMHASH_MAX_BUCKET = 2000


def _sql_minhash_sig(num_hashes: int = _NUM_HASHES) -> str:
    mins = ", ".join(
        f"MIN(({_SQL_H32} * {a} + {b}) % {dd.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(dd.permutation_constants(num_hashes))
    )
    return f"SELECT doc_id, {mins} FROM ({_SQL_SHINGLES}) sh GROUP BY doc_id"


def _sql_lsh_pairs(
    num_hashes: int = _NUM_HASHES, bands: int = _BANDS
) -> str:
    rows = num_hashes // bands
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('_', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ") AS key FROM sig"
        for b in range(bands)
    )
    return f"""
        WITH sig AS ({_sql_minhash_sig(num_hashes)}),
        bands AS (SELECT * FROM ({band_selects})
                  QUALIFY COUNT(*) OVER (PARTITION BY band, key)
                          <= {_LSH_MAX_BUCKET})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id
    """


_JACCARD_THRESHOLD = 0.5
# df cap for the all-pairs Jaccard query: stop-shingles shared by large
# fractions of the corpus carry no dedup signal but make the inverted-index
# join quadratic in corpus size (measured 220 s at sf0.1 uncapped).
_JACCARD_MAX_DF = 50


def _sql_jaccard_pairs() -> str:
    return f"""
        WITH sh_all AS ({_SQL_SHINGLES}),
        rare AS (SELECT shingle FROM sh_all GROUP BY shingle
                 HAVING COUNT(*) <= {_JACCARD_MAX_DF}),
        sh AS (SELECT s.doc_id, s.shingle FROM sh_all s
               JOIN rare r ON s.shingle = r.shingle),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b,
               CAST(n_inter AS DOUBLE)
                   / (sa.sz + sb.sz - n_inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter)
              >= {_JACCARD_THRESHOLD}
    """


_SIMHASH_BITS = 32


def _sql_simhash() -> str:
    toks = f"""
        SELECT doc_id, tok,
               ('0x' || substring(md5(tok), 1, 8))::BIGINT AS h32
        FROM (SELECT doc_id,
                     unnest(string_split({_NORM}, ' ')) AS tok
              FROM documents) t
        WHERE tok <> ''
    """
    votes = ", ".join(
        f"SUM(CASE WHEN (h32 >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v_{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
        WITH toks AS ({toks}),
        votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id)
        SELECT doc_id, ({fp}) AS simhash FROM votes
    """


_SIMHASH_BANDS = 4
_SIMHASH_MAX_HAMMING = 6


def _sql_simhash_pairs() -> str:
    """Replay of dd.simhash_pairs: the banded pigeonhole blocking is a
    DETERMINISTIC function of the exact fingerprints (band b = bits
    [b*width, (b+1)*width) of the simhash), so the oracle reproduces the
    candidate set exactly — no probabilistic gap."""
    width = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << width) - 1
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band,"
        f" (simhash >> {b * width}) & {mask} AS key FROM fp"
        for b in range(_SIMHASH_BANDS)
    )
    return f"""
        WITH fp AS ({_sql_simhash()}),
        bands AS (SELECT * FROM ({band_selects})
                  QUALIFY COUNT(*) OVER (PARTITION BY band, key)
                          <= {_SIMHASH_MAX_BUCKET})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
    """


# embeddings: int64-scaled exact cosine
_SCALE = "1000000000"  # 1e9


def _sql_scaled(col: str) -> str:
    return f"CAST(round(CAST({col} AS DOUBLE) * {_SCALE}) AS BIGINT)"


_TOPK_NQ = 8
_TOPK_K = 10


def _sql_cosine_topk() -> str:
    return f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qvec
                   FROM embeddings WHERE vec_id < {_TOPK_NQ}),
        pairs AS (
            SELECT q.qid, e.vec_id,
                   SUM({_sql_scaled('q.qvec[CAST(i AS INT)]')}
                       * {_sql_scaled('e.embedding[CAST(i AS INT)]')}) AS dot,
                   SUM({_sql_scaled('q.qvec[CAST(i AS INT)]')}
                       * {_sql_scaled('q.qvec[CAST(i AS INT)]')}) AS qn,
                   SUM({_sql_scaled('e.embedding[CAST(i AS INT)]')}
                       * {_sql_scaled('e.embedding[CAST(i AS INT)]')}) AS en
            FROM q, embeddings e, range(1, 65) r(i)
            GROUP BY q.qid, e.vec_id),
        scored AS (
            SELECT qid, vec_id,
                   CAST(dot AS DOUBLE)
                       / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(en AS DOUBLE)))
                       AS cosine
            FROM pairs),
        ranked AS (
            SELECT qid, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY cosine DESC, vec_id)
                       AS BIGINT) AS rank
            FROM scored)
        SELECT qid, vec_id, cosine, rank FROM ranked WHERE rank <= {_TOPK_K}
    """


_NEAR_DUP_THRESHOLD = 0.30  # synthetic embeddings: same-label cosine tops out ~0.47


def _sql_near_dup_pairs() -> str:
    """Label-blocked exact near-dup (the blocking is part of the operator
    semantics: same-label pairs only — the natural IVF-style partition)."""
    return f"""
        WITH pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   SUM({_sql_scaled('a.embedding[CAST(i AS INT)]')}
                       * {_sql_scaled('b.embedding[CAST(i AS INT)]')}) AS dot,
                   SUM({_sql_scaled('a.embedding[CAST(i AS INT)]')}
                       * {_sql_scaled('a.embedding[CAST(i AS INT)]')}) AS an,
                   SUM({_sql_scaled('b.embedding[CAST(i AS INT)]')}
                       * {_sql_scaled('b.embedding[CAST(i AS INT)]')}) AS bn
            FROM embeddings a JOIN embeddings b
                 ON a.label = b.label AND a.vec_id < b.vec_id,
                 range(1, 65) r(i)
            GROUP BY a.vec_id, b.vec_id)
        SELECT id_a, id_b,
               CAST(dot AS DOUBLE)
                   / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE)))
                   AS cosine
        FROM pairs
        WHERE CAST(dot AS DOUBLE)
                  / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE)))
              >= {_NEAR_DUP_THRESHOLD}
    """


# hyperplane LSH: the planes are deterministic md5-derived constants
# (similarity._hyperplane_component), so the sign-bucketing is exactly
# replayable in SQL. Projections are left-fold double sums in element
# order on BOTH engines (Spark F.aggregate == SQL left-assoc `+` chain),
# hence bit-identical signs.
_EMB_DIM = 64
_NEAR_DUP_PLANES = 6
_ANN_PLANES = 4


def _sql_hyperplane_proj(p: int, vec: str) -> str:
    terms = " + ".join(
        f"CAST({vec}[{d + 1}] AS DOUBLE) * ({sim._hyperplane_component(p, d)!r})"
        for d in range(_EMB_DIM)
    )
    return f"({terms})"


def _sql_bucket(planes: int, vec: str) -> str:
    cases = " + ".join(
        f"CASE WHEN {_sql_hyperplane_proj(p, vec)} > 0"
        f" THEN {1 << p} ELSE 0 END"
        for p in range(planes)
    )
    return f"({cases})"


def _sql_near_dup_lsh_pairs() -> str:
    return f"""
        WITH bk AS (SELECT vec_id, embedding,
                           {_sql_bucket(_NEAR_DUP_PLANES, "embedding")} AS bucket
                    FROM embeddings),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   SUM({_sql_scaled('a.embedding[CAST(i AS INT)]')}
                       * {_sql_scaled('b.embedding[CAST(i AS INT)]')}) AS dot,
                   SUM({_sql_scaled('a.embedding[CAST(i AS INT)]')}
                       * {_sql_scaled('a.embedding[CAST(i AS INT)]')}) AS an,
                   SUM({_sql_scaled('b.embedding[CAST(i AS INT)]')}
                       * {_sql_scaled('b.embedding[CAST(i AS INT)]')}) AS bn
            FROM bk a JOIN bk b
                 ON a.bucket = b.bucket AND a.vec_id < b.vec_id,
                 range(1, {_EMB_DIM + 1}) r(i)
            GROUP BY a.vec_id, b.vec_id)
        SELECT id_a, id_b,
               CAST(dot AS DOUBLE)
                   / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE)))
                   AS cosine
        FROM pairs
        WHERE CAST(dot AS DOUBLE)
                  / (sqrt(CAST(an AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE)))
              >= {_NEAR_DUP_THRESHOLD}
    """


def _sql_ann_lsh_topk() -> str:
    return f"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qvec,
                          {_sql_bucket(_ANN_PLANES, "embedding")} AS bucket
                   FROM embeddings WHERE vec_id < {_TOPK_NQ}),
        c AS (SELECT vec_id, embedding,
                     {_sql_bucket(_ANN_PLANES, "embedding")} AS bucket
              FROM embeddings),
        pairs AS (
            SELECT q.qid, c.vec_id,
                   SUM({_sql_scaled('q.qvec[CAST(i AS INT)]')}
                       * {_sql_scaled('c.embedding[CAST(i AS INT)]')}) AS dot,
                   SUM({_sql_scaled('q.qvec[CAST(i AS INT)]')}
                       * {_sql_scaled('q.qvec[CAST(i AS INT)]')}) AS qn,
                   SUM({_sql_scaled('c.embedding[CAST(i AS INT)]')}
                       * {_sql_scaled('c.embedding[CAST(i AS INT)]')}) AS en
            FROM q JOIN c ON q.bucket = c.bucket,
                 range(1, {_EMB_DIM + 1}) r(i)
            GROUP BY q.qid, c.vec_id),
        scored AS (
            SELECT qid, vec_id,
                   CAST(dot AS DOUBLE)
                       / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(en AS DOUBLE)))
                       AS cosine
            FROM pairs),
        ranked AS (
            SELECT qid, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY cosine DESC, vec_id)
                       AS BIGINT) AS rank
            FROM scored)
        SELECT qid, vec_id, cosine, rank FROM ranked WHERE rank <= {_TOPK_K}
    """


def _sql_ivf_topk_probes2() -> str:
    """Replay of ivf_topk(probes=2): each query scans its own sign-pattern
    bucket PLUS the bucket reached by flipping the plane with the smallest
    |projection margin| (multi-probe LSH order, similarity.py:ivf_topk).
    The flip plane is a deterministic argmin over (|proj|, plane) — the
    same lexicographic order Spark's array_sort uses — so the probe set,
    and therefore the exact-cosine top-k, is reproduced exactly."""
    ap = [
        f"abs({_sql_hyperplane_proj(p, 'embedding')})"
        for p in range(_ANN_PLANES)
    ]
    # argmin by (margin, plane): plane p wins iff no earlier clause did and
    # its margin is <= every later plane's (ties break to the lower plane,
    # matching array_sort on struct(margin, plane)). Generated from
    # _ANN_PLANES so the probe choice can never diverge from ivf_topk's.
    when_clauses = [
        "WHEN "
        + " AND ".join(f"{ap[p]} <= {ap[q]}" for q in range(p + 1, _ANN_PLANES))
        + f" THEN {p}"
        for p in range(_ANN_PLANES - 1)
    ]
    flip = (
        "CASE\n        "
        + "\n        ".join(when_clauses)
        + f"\n        ELSE {_ANN_PLANES - 1} END"
    )
    return f"""
        WITH qb AS (SELECT vec_id AS qid, embedding AS qvec,
                          {_sql_bucket(_ANN_PLANES, "embedding")} AS bucket0,
                          ({flip}) AS flip_plane
                   FROM embeddings WHERE vec_id < {_TOPK_NQ}),
        probes AS (
            SELECT qid, qvec, bucket0 AS bucket FROM qb
            UNION ALL
            SELECT qid, qvec,
                   xor(bucket0, (1 << flip_plane)) AS bucket FROM qb),
        c AS (SELECT vec_id, embedding,
                     {_sql_bucket(_ANN_PLANES, "embedding")} AS bucket
              FROM embeddings),
        pairs AS (
            SELECT p.qid, c.vec_id,
                   SUM({_sql_scaled('p.qvec[CAST(i AS INT)]')}
                       * {_sql_scaled('c.embedding[CAST(i AS INT)]')}) AS dot,
                   SUM({_sql_scaled('p.qvec[CAST(i AS INT)]')}
                       * {_sql_scaled('p.qvec[CAST(i AS INT)]')}) AS qn,
                   SUM({_sql_scaled('c.embedding[CAST(i AS INT)]')}
                       * {_sql_scaled('c.embedding[CAST(i AS INT)]')}) AS en
            FROM probes p JOIN c ON p.bucket = c.bucket,
                 range(1, {_EMB_DIM + 1}) r(i)
            GROUP BY p.qid, c.vec_id),
        scored AS (
            SELECT qid, vec_id,
                   CAST(dot AS DOUBLE)
                       / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(en AS DOUBLE)))
                       AS cosine
            FROM pairs),
        ranked AS (
            SELECT qid, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY cosine DESC, vec_id)
                       AS BIGINT) AS rank
            FROM scored)
        SELECT qid, vec_id, cosine, rank FROM ranked WHERE rank <= {_TOPK_K}
    """


# media: deterministic fake-decode mirror (md5-derived pseudo-metadata)
_SQL_MEDIA = """
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image'
                           WHEN 1 THEN 'audio'
                           ELSE 'video' END AS kind,
           text
    FROM documents
"""


def _sql_media_decode() -> str:
    h = "md5(text)"
    return f"""
        WITH media AS ({_SQL_MEDIA})
        SELECT media_id, kind,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(64 + ('0x' || substring({h}, 1, 2))::BIGINT % 192 AS INT)
                   AS width,
               CAST(64 + ('0x' || substring({h}, 3, 2))::BIGINT % 192 AS INT)
                   AS height,
               1000 + ('0x' || substring({h}, 5, 4))::BIGINT AS duration_ms
        FROM media
    """


def _sql_frame_sample() -> str:
    return f"""
        WITH decoded AS ({_sql_media_decode()})
        SELECT media_id,
               unnest(range(0, duration_ms // 1000 + 1)) AS frame_idx,
               unnest(range(0, duration_ms // 1000 + 1)) * 1000 AS ts_ms
        FROM decoded WHERE kind = 'video'
    """


# ---------------------------------------------------------------------------
# Spark query implementations
# ---------------------------------------------------------------------------


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, repartitioned to the cluster parallelism: the table is a
    single small parquet file (one row group -> ONE input partition), so
    map-only queries would otherwise run on a single core. One cheap
    shuffle of 5k rows buys full parallelism for the CPU-heavy per-row
    text work; at real scale the source has many splits and this is a
    no-op cost. r19: hash-repartition on doc_id instead of keyless
    round-robin — keyless repartition pays a local sort of its input
    (sortBeforeRepartition, guide §2.5) so retried tasks reproduce the
    row map; a hash of the unique id is retry-deterministic for free
    (same rationale as load_table's recovery, measured there 1.34 ->
    0.73 s on the lineitem scan)."""
    return load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.xxhash64(F.col("doc_id"))
    )


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # served from the shared profiled-corpus materialization
    # (_lang_quality_for, which carries the full document_profile
    # column set since r18) — identical per-row values, one regex pass
    # per process instead of one per consumer
    return _lang_quality_for(spark, sf_dir).select(
        "doc_id",
        F.col("n_tokens").alias("n_tokens_ws"),
        "n_tokens_lex",
        "n_alpha",
        "n_digit",
        "n_punct",
        "lang_guess",
        "quality",
        "fp",
    )


def q_doc_lang_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lang-ID from the shared profiled-corpus materialization — the
    # groupBy reads one narrow parquet column instead of re-running the
    # regex chain over the text (_lang_quality_for)
    return (
        _lang_quality_for(spark, sf_dir)
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_QUALITY_KEEP = 0.7


def q_corpus_prep_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep, composed from the text operators:
    profile -> quality + language gate -> exact dedup -> per-language
    corpus stats (doc count, token budget, mean quality).

    Scale shape: the profile/gate is a map-only scan; dedup is ONE hash
    shuffle. Because identical text implies identical derived columns,
    dedup is a DISTINCT on the derived row — no window sort, fully
    map-side combinable — and the final per-language rollup is a partial
    agg over the dedup output.
    """
    # the profiled frame comes from the shared at-rest materialization
    # (_lang_quality_for): the parquet round-trip is both the plan
    # barrier that keeps the regex chain from being substituted into
    # the gate predicate at the scan AND a cross-query cache — every
    # lang/quality consumer in the process reads the same profile
    # instead of re-running it (sf0.1: 4.3 s -> ~1.5 s for this query
    # alone, and the scan is shared with the curation pipelines)
    prof = _lang_quality_for(spark, sf_dir).select(
        F.col("lang_guess").alias("lang"), "n_tokens", "quality", "fp"
    )
    kept = prof.filter(
        (F.col("quality") >= _QUALITY_KEEP) & (F.col("lang") != "unknown")
    )
    # Dedup without a window: identical text implies identical derived
    # columns, so MIN over the fp group reproduces any survivor's values
    # while COUNT tracks how many raw copies collapsed.
    groups = kept.groupBy("fp").agg(
        F.min("lang").alias("lang"),
        F.min("n_tokens").alias("n_tokens"),
        F.min("quality").alias("quality"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return groups.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_copies").alias("n_raw"),
        F.sum("n_tokens").alias("total_tokens"),
        dec_avg("quality", "avg_quality"),
    )


def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.dedup_exact(docs).select(
        "doc_id", "content_hash", "canonical_id", "is_canonical"
    )


def q_doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir)
    return dd.minhash_signatures(
        docs, n=_SHINGLE_N, num_hashes=_NUM_HASHES
    )


def q_doc_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir)
    return dd.minhash_lsh_pairs(
        docs,
        n=_SHINGLE_N,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        max_bucket=_LSH_MAX_BUCKET,
    )


def q_doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir)
    return dd.ngram_jaccard_pairs(
        docs,
        n=_SHINGLE_N,
        threshold=_JACCARD_THRESHOLD,
        max_df=_JACCARD_MAX_DF,
    )


def _verified_pairs_for(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The default-banding (16/4) verified near-dup pair set
    ``(id_a, id_b, jaccard)``, materialized ONCE to parquet per
    process (caching.materialize): it is BOTH doc_lsh_verified_pairs'
    output AND doc_dedup_clusters' edge input, and each previously
    re-ran the full shingle -> signature -> banded-join -> verify
    chain (~3.5 s each at sf0.1). At cluster
    scale this IS the at-rest verified-pair table a dedup deployment
    persists before clustering. Doubles/longs round-trip parquet
    bit-exactly, so oracle parity is unaffected."""

    def build(path: str) -> None:
        docs = _docs_parallel(spark, sf_dir)
        # persisted candidate set: uncached, each reference re-derives
        # the signature -> banded-join chain
        cands = tracked_persist(
            dd.minhash_lsh_pairs(
                docs,
                n=_SHINGLE_N,
                num_hashes=_NUM_HASHES,
                bands=_BANDS,
                max_bucket=_LSH_MAX_BUCKET,
            )
        )
        dd.jaccard_verify_pairs(
            docs,
            cands,
            n=_SHINGLE_N,
            threshold=_JACCARD_THRESHOLD,
        ).write.mode("overwrite").parquet(path)

    params = (_SHINGLE_N, _NUM_HASHES, _BANDS, _LSH_MAX_BUCKET, _JACCARD_THRESHOLD)
    src = [(sf_dir, "documents")]
    return spark.read.parquet(materialize("vpairs", params, src, build))


def q_doc_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup composition: LSH candidates -> exact Jaccard verify
    (full-shingle-set Jaccard, no df cap: per-pair array intersection,
    cost ~ |candidates|, no inverted-index explosion). Served from the
    shared at-rest pair materialization (_verified_pairs_for), which
    doc_dedup_clusters consumes as its edge set."""
    return _verified_pairs_for(spark, sf_dir)


# The measured S-curve knee (r14 x30 sweep, SCALE_MEASURED.json:
# lsh_band_sweep): K=48 / b=8 / r=6 produces 12x fewer candidates than
# the K=16 / b=4 default at HIGHER union recall (0.971 vs 0.959) and
# 5x faster verify — r=6 suppresses the J~0.3 noise floor while
# doubled bands restore recall at the planted-dup J~0.7. The default
# queries keep (16, 4) for continuity with the at-rest band_keys
# layout; this is the operating point a bulk 100 TB dedup should run.
_KNEE_NUM_HASHES = 48
_KNEE_BANDS = 8
# The curation PIPELINE runs its near-dup stage at the knee at EVERY
# scale. r17 promoted it on x300 evidence (legacy 16/4 verify grew
# 7.65x for 3x data: r=4 band collisions are superlinear in corpus
# size while true pairs stay linear) and booked a "+13% raw at sf0.1"
# cost for the 3x minhash work. The r18 crossover sweep
# (SCALE_MEASURED.json: pipe_banding_crossover) was run to make that
# trade count-guarded — and dissolved its premise instead: on the
# stages banding touches (5 + 7), the knee wins at x30/x100 by
# 4.2x/3.6x as expected, AND ties-or-wins at x10 and even x1 (interleaved same-epoch A/B at
# sf0.1: knee 2.94 s vs legacy 3.51 s warm — legacy saves ~0.4 s of
# hashing but pays ~1.0 s more verify even at 2.3k docs). The r17
# "+13%" was a cross-round calibration artifact (raw floors compared
# across epochs whose cal factor halved), not a knee cost. There is
# no crossover: hash work is linear map-only at every scale while
# candidate volume is superlinear, so the knee's 12x candidate
# reduction dominates from the smallest measurable corpus up. A
# count-guarded legacy branch would knowingly pick the slower plan
# below its threshold, so stage 5 (and its oracle) pins the knee. The
# legacy-banding hook and the sweep tool were removed after commit
# 334796e, where they last lived; the sweep's results stay in
# SCALE_MEASURED.json.


def q_doc_lsh_verified_pairs_knee(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The verified-dedup composition at the measured S-curve knee
    (K=48, b=8, r=6) — same operators as doc_lsh_verified_pairs, two
    constructor arguments moved to where the r14 sweep measured the
    best candidate-precision/recall trade."""
    docs = _docs_parallel(spark, sf_dir)
    cands = tracked_persist(
        dd.minhash_lsh_pairs(
            docs,
            n=_SHINGLE_N,
            num_hashes=_KNEE_NUM_HASHES,
            bands=_KNEE_BANDS,
            max_bucket=_LSH_MAX_BUCKET,
        )
    )
    return dd.jaccard_verify_pairs(
        docs,
        cands,
        n=_SHINGLE_N,
        threshold=_JACCARD_THRESHOLD,
    )


def _sql_lsh_verified(
    num_hashes: int = _NUM_HASHES, bands: int = _BANDS
) -> str:
    return f"""WITH cands AS ({_sql_lsh_pairs(num_hashes, bands)}),
        sh AS ({_SQL_SHINGLES}),
        sets AS (SELECT doc_id, list_distinct(list(shingle)) AS sh_set
                 FROM sh GROUP BY doc_id)
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
                   / (len(a.sh_set) + len(b.sh_set)
                      - len(list_intersect(a.sh_set, b.sh_set)))
                   AS jaccard
        FROM cands c
        JOIN sets a ON a.doc_id = c.id_a
        JOIN sets b ON b.doc_id = c.id_b
        WHERE CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
                  / (len(a.sh_set) + len(b.sh_set)
                     - len(list_intersect(a.sh_set, b.sh_set)))
              >= {_JACCARD_THRESHOLD}"""


def q_doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: the transitive closure the pair queries stop
    short of — A~B, B~C puts A and C in one dedup group even though the
    pair (A, C) was never generated. Spark side: alternating large-star/
    small-star contraction (O(log n) rounds, each a groupBy+join over the
    shrinking edge set — see operators/dedup.py:connected_components).
    Oracle side: the same closure as a DuckDB recursive CTE. Output is
    one row per document: its cluster representative (smallest doc_id in
    the component, itself for singletons) and the min-id dedup decision."""
    docs = _docs_parallel(spark, sf_dir)
    # edges come from the shared at-rest verified-pair materialization
    # (_verified_pairs_for — the same frame doc_lsh_verified_pairs
    # serves); only the closure runs here
    pairs = _verified_pairs_for(spark, sf_dir)
    cc = dd.connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    return (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col("doc_id"))
    )


# whitespace tokens of the normalized text, shared by the term-stat oracles
_SQL_TOKENS = f"""
    SELECT doc_id, tok
    FROM (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
          FROM documents) t
    WHERE tok <> ''
"""

_TFIDF_K = 3


def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by smoothed tf-idf (exact
    rational idf — same ranking as ln-idf, bit-reproducible)."""
    docs = _docs_parallel(spark, sf_dir)
    return tx.tfidf_top_terms(docs, k=_TFIDF_K)


def _sql_tfidf() -> str:
    return f"""WITH t AS ({_SQL_TOKENS}),
        tf AS (SELECT doc_id, tok, COUNT(*) AS n_tf FROM t GROUP BY 1, 2),
        dfc AS (SELECT tok, COUNT(*) AS n_df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.tok, tf.n_tf, dfc.n_df,
                   CAST(tf.n_tf AS DOUBLE)
                       * (CAST(n.n_docs + 1 AS DOUBLE)
                          / CAST(dfc.n_df + 1 AS DOUBLE)) AS score
            FROM tf JOIN dfc USING (tok) CROSS JOIN n),
        ranked AS (
            SELECT doc_id, tok AS term, n_tf, n_df, score,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY score DESC, tok
                   ) AS INT) AS rank
            FROM scored)
        SELECT * FROM ranked WHERE rank <= {_TFIDF_K}"""


_BM25_K = 10
_BM25_K1 = 1.2
_BM25_B = 0.75
# fixed keyword probes with spread document frequencies on the corpus
# vocabulary — the lexical-retrieval analog of the ANN queries
_BM25_QUERIES = (
    ("q1", "fast table scan"),
    ("q2", "stream window agg"),
    ("q3", "customer query join vector"),
)


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 docs per fixed keyword query (Lucene idf in
    fixed-point base-2 log — zero transcendentals, zero floats, so
    the hash contract is portable across engine builds), k1=1.2 /
    b=0.75, two-phase top-k (see operators/text.py:bm25_topk)."""
    docs = _docs_parallel(spark, sf_dir)
    queries = spark.createDataFrame(
        list(_BM25_QUERIES), ["qid", "qtext"]
    )
    return tx.bm25_topk(
        docs, queries, k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )


def _sql_bm25() -> str:
    """DuckDB mirror of bm25_topk: the identical int64 fixed-point
    recurrence (functions/fixlog.py emits the same step list for both
    dialects), so the two engines agree bit-for-bit by construction —
    no libm anywhere in the hashed value (the round-14 driver red)."""
    a, c, u, v = tx.bm25_rationals(_BM25_K1, _BM25_B)
    vals = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    qnorm = "trim(regexp_replace(lower(qtext), '\\s+', ' ', 'g'))"
    idf_nested = fixlog.duckdb_nested(
        "SELECT dfc.tok, dfc.n_df, n.n_docs FROM dfc"
        " JOIN (SELECT DISTINCT tok FROM qt) qk USING (tok)"
        " CROSS JOIN n",
        "2 * n_docs + 2", "2 * n_df + 1", "idf_fix",
    )
    return f"""WITH q(qid, qtext) AS (VALUES {vals}),
        t AS ({_SQL_TOKENS}),
        tf AS (SELECT doc_id, tok, COUNT(*) AS n_tf FROM t GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(SUM(n_tf) AS BIGINT) AS dl
               FROM tf GROUP BY 1),
        dfc AS (SELECT tok, COUNT(*) AS n_df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        s AS (SELECT CAST(SUM(dl) AS BIGINT) AS s_toks FROM dl),
        qt AS (SELECT DISTINCT qid, tok FROM (
                   SELECT qid, unnest(string_split({qnorm}, ' ')) AS tok
                   FROM q) x
               WHERE tok <> ''),
        idf AS (SELECT tok, idf_fix FROM ({idf_nested}) z),
        term AS (
            SELECT qid, doc_id, idf_fix * _sat AS sterm FROM (
                SELECT qt.qid, tf.doc_id, idf.idf_fix,
                       dl.dl * n.n_docs AS _t,
                       _t // s.s_toks AS _ra,
                       (_t % s.s_toks) * 1024 AS _rr1,
                       _rr1 // s.s_toks AS _rb,
                       (_rr1 % s.s_toks) * 1024 AS _rr2,
                       _rr2 // s.s_toks AS _rc,
                       _ra * 1048576 + _rb * 1024 + _rc AS _r,
                       {c * v} * tf.n_tf * 1048576
                           + {a * (v - u)} * 1048576
                           + {a * u} * _r AS _den,
                       (tf.n_tf * {(a + c) * v} * 68719476736)
                           // _den AS _sat
                FROM tf JOIN qt USING (tok) JOIN dl USING (doc_id)
                     JOIN idf USING (tok) CROSS JOIN n CROSS JOIN s) y),
        sc AS (SELECT qid, doc_id,
                   CAST(SUM(sterm) AS BIGINT) AS score_fix
               FROM term GROUP BY 1, 2),
        ranked AS (SELECT qid, doc_id, score_fix,
                          CAST(ROW_NUMBER() OVER (
                              PARTITION BY qid
                              ORDER BY score_fix DESC, doc_id
                          ) AS INT) AS rank
                   FROM sc)
        SELECT * FROM ranked WHERE rank <= {_BM25_K}"""


_VOCAB_K = 200


def q_doc_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-200 tokens by total count (TakeOrdered,
    no global sort), with document frequencies and ranks."""
    docs = _docs_parallel(spark, sf_dir)
    return tx.vocab_top(docs, k=_VOCAB_K)


def _sql_vocab() -> str:
    return f"""WITH t AS ({_SQL_TOKENS}),
        c AS (SELECT tok AS term, COUNT(*) AS n_total,
                     COUNT(DISTINCT doc_id) AS n_docs
              FROM t GROUP BY 1)
        SELECT term, n_total, n_docs,
               CAST(ROW_NUMBER() OVER (ORDER BY n_total DESC, term)
                    AS INT) AS rank
        FROM c ORDER BY n_total DESC, term LIMIT {_VOCAB_K}"""


def q_doc_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score distribution per detected language: docs binned into
    tenths of the score range. Fixed-width bins, NOT ntile deciles — a
    global ntile is a single-task sort over the corpus, while binning is
    map-only into one partial-agg shuffle of ~10×languages groups, and
    bin edges are stable across corpus growth (decile edges drift)."""
    docs = _docs_parallel(spark, sf_dir)
    q = tx.quality_score("text")
    binned = docs.select(
        tx.lang_id("text").alias("lang"),
        q.alias("quality"),
        F.least(F.floor(q * 10).cast("int"), F.lit(9)).alias("q_bin"),
    )
    return binned.groupBy("lang", "q_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dec_avg("quality", "avg_quality"),
    )


def _sql_quality_histogram() -> str:
    q = f"({_sql_quality()})"
    return f"""WITH binned AS (
            SELECT {_sql_lang_id()} AS lang, {q} AS quality,
                   LEAST(CAST(FLOOR({q} * 10) AS INT), 9) AS q_bin
            FROM documents)
        SELECT lang, q_bin, COUNT(*) AS n_docs,
               CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(quality) AS avg_quality
        FROM binned GROUP BY 1, 2"""


def q_doc_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mix dashboard: per (lang, source) document and token counts
    with their fractions of the whole — the report a data-mix curriculum
    is tuned against. One partial-agg shuffle on the (tiny) stratum key;
    totals re-aggregate the per-stratum rows and broadcast back, so the
    corpus is scanned exactly once. Fractions are single IEEE divisions
    of exact int64 counts (bit-reproducible)."""
    docs = _docs_parallel(spark, sf_dir)
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tx.token_count_ws("text").cast("long")).alias("total_tokens"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("td"), F.sum("total_tokens").alias("tt")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "total_tokens",
            (
                F.col("n_docs").cast("double") / F.col("td").cast("double")
            ).alias("frac_docs"),
            (
                F.col("total_tokens").cast("double")
                / F.col("tt").cast("double")
            ).alias("frac_tokens"),
        )
    )


def _sql_mix_report() -> str:
    return f"""WITH per AS (
            SELECT lang, source, COUNT(*) AS n_docs,
                   CAST(SUM({_SQL_N_TOKENS_WS}) AS BIGINT) AS total_tokens
            FROM documents GROUP BY 1, 2),
        tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td,
                       CAST(SUM(total_tokens) AS BIGINT) AS tt FROM per)
        SELECT lang, source, n_docs, total_tokens,
               CAST(n_docs AS DOUBLE) / CAST(td AS DOUBLE) AS frac_docs,
               CAST(total_tokens AS DOUBLE) / CAST(tt AS DOUBLE)
                   AS frac_tokens
        FROM per CROSS JOIN tot"""


# per-language sampling percentages for the curation mix query
_SAMPLE_RATES = {"en": 25, "fr": 50, "de": 50, "es": 50, "zh": 100}


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-stratified corpus sampling (per-language rates):
    membership is a pure function of doc_id, so reruns and rate increases
    are reproducible/supersets — no RNG, no seed plumbing."""
    docs = _docs_parallel(spark, sf_dir)
    return sel.stratified_sample(
        docs.select("doc_id", "lang"), "lang", _SAMPLE_RATES
    )


def _sql_stratified_sample() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(_SAMPLE_RATES.items())
    )
    bucket = (
        "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
        "::BIGINT % 100 AS INT)"
    )
    return f"""SELECT doc_id, lang, {bucket} AS bucket
        FROM documents
        WHERE {bucket} < CASE lang {cases} ELSE 0 END"""


def _oracle_safe_alpha(alpha: float) -> float:
    """Loud guard at the registry seam: oracle-gated temperature_mix
    queries must pin alpha=0.5. sqrt is CORRECTLY ROUNDED in IEEE 754,
    so the DuckDB oracle replays the exact keep decision; any other
    alpha goes through pow(), whose result may differ across engines'
    libm by an ulp — enough to flip a keep decision when rate*buckets
    straddles an integer, failing the hash gate non-deterministically."""
    if alpha != 0.5:
        raise ValueError(
            f"registry temperature_mix must pin alpha=0.5, got {alpha}:"
            " non-sqrt exponents are libm-dependent and cannot be"
            " replayed bit-exactly by the DuckDB oracle"
        )
    return alpha


def q_doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling at alpha=0.5
    (operators/selection.py:temperature_mix): per-language keep rates
    (n_min/n_s)^0.5 flatten the language distribution toward the
    rarest stratum; sqrt is correctly rounded in IEEE 754, so the
    oracle replays the exact keep decision. One tiny count aggregate +
    broadcast rates join + map-only hash filter."""
    docs = _docs_parallel(spark, sf_dir)
    return sel.temperature_mix(
        docs.select("doc_id", "lang"),
        "lang",
        alpha=_oracle_safe_alpha(0.5),
    ).select("doc_id", "lang", "keep_rate", "bucket")


def _sql_temperature_mix() -> str:
    bucket = (
        "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
        "::BIGINT % 1000000 AS INT)"
    )
    return f"""WITH counts AS (
            SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        mn AS (SELECT MIN(n) AS n_min FROM counts),
        rates AS (
            SELECT lang,
                   sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE))
                       AS keep_rate
            FROM counts, mn)
        SELECT d.doc_id, d.lang, r.keep_rate, {bucket} AS bucket
        FROM documents d JOIN rates r ON r.lang = d.lang
        WHERE CAST({bucket} AS DOUBLE) < r.keep_rate * 1000000.0"""


# DSIR: target = English docs (the largest stratum — a stand-in for
# "in-domain" text; the operator takes any boolean column). Pinned here
# so query and oracle agree by construction.
_DSIR_BUCKETS = 1024
_DSIR_SEED = "dsir"
_DSIR_FRAC = 0.25


def _dsir_scored_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR scored frame ``(doc_id, dsir_weight, score)`` —
    weight = exact fixed-point log-likelihood ratio, score = weight +
    hash-Gumbel noise — materialized ONCE to parquet per process
    (caching.materialize). doc_dsir_weights, doc_dsir_sample, and
    doc_dsir_sample_cutoff all consume the SAME
    integers; each previously re-ran the full explode + lr-aggregate
    chain (~2.5 s per query at sf0.1, the bench's third-largest
    family). Longs round-trip parquet bit-exactly, so oracle parity
    is unaffected; at cluster scale this IS the score table a
    selection pipeline writes before its sampling passes read it."""

    def build(path: str) -> None:
        docs = _docs_parallel(spark, sf_dir)
        w = sel.dsir_weights(
            docs.select("doc_id", "text", "lang"),
            target=F.col("lang") == "en",
            buckets=_DSIR_BUCKETS,
            seed=_DSIR_SEED,
        )
        w = sel._gumbel2_fix(w, "doc_id", _DSIR_SEED)
        (
            w.select(
                "doc_id",
                "dsir_weight",
                (F.col("dsir_weight") + F.col("_g")).alias("score"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )

    params = ("fix20", _DSIR_BUCKETS, _DSIR_SEED)
    src = [(sf_dir, "documents")]
    return spark.read.parquet(materialize("dsirscores", params, src, build))


def q_doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/selection.py:dsir_weights):
    per-doc log-likelihood ratio of hashed uni+bigram features under
    the target (lang='en') vs raw corpus distributions, on the exact
    int64 2^-20 fixed-point log2 grid (functions/fixlog.py — zero
    transcendentals, portable across engine builds) — one explode +
    map-side-combined groupBy, two B-row aggregates, a broadcast lr
    join. Oracle-replayable bit-exactly because every number is
    integer arithmetic end to end. Served from the shared at-rest
    score materialization (_dsir_scored_for)."""
    return _dsir_scored_for(spark, sf_dir).select(
        "doc_id", "dsir_weight"
    )


def q_doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/selection.py:dsir_sample):
    base-2 Gumbel-top-k over the fixed-point weights, k = ceil(frac*n),
    noise a pure int64 function of the doc id hash — deterministic,
    layout-independent, and replayed exactly by the DuckDB oracle
    (exact-rank variant). Scoring comes from the shared at-rest
    materialization (_dsir_scored_for); only the selection runs here."""
    docs = _docs_parallel(spark, sf_dir)
    return sel.dsir_sample(
        docs.select("doc_id", "text", "lang"),
        target=F.col("lang") == "en",
        frac=_DSIR_FRAC,
        buckets=_DSIR_BUCKETS,
        seed=_DSIR_SEED,
        gumbel=True,
        scored_df=_dsir_scored_for(spark, sf_dir),
    )


_DSIR_CUTOFF_ACCURACY = 10_000


def q_doc_dsir_sample_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of DSIR selection
    (operators/selection.py:dsir_sample_cutoff): identical scoring to
    doc_dsir_sample, but the selection is approx_percentile's score
    cutoff + a broadcast-scalar map-only filter instead of merging
    k = frac*n rows through the driver. No value-hash oracle: the
    Greenwald-Khanna sketch is engine-specific by construction. The
    verdict is BOUNDED instead (the approx_stats_by_type pattern):
    the sketch guarantees the cutoff's rank is within n/accuracy of
    the target rank, so the selection may differ from the exact-rank
    variant only inside that boundary band —
    test_dsir_cutoff_within_documented_band computes the exact-rank
    selection beside it at two scale factors and fails if the
    symmetric difference exceeds the band (plus cutoff ties, which
    are all kept by contract)."""
    docs = _docs_parallel(spark, sf_dir)
    return sel.dsir_sample_cutoff(
        docs.select("doc_id", "text", "lang"),
        target=F.col("lang") == "en",
        frac=_DSIR_FRAC,
        buckets=_DSIR_BUCKETS,
        seed=_DSIR_SEED,
        gumbel=True,
        accuracy=_DSIR_CUTOFF_ACCURACY,
        scored_df=_dsir_scored_for(spark, sf_dir),
    )


def _sql_dsir_weights_ctes() -> str:
    """CTE chain ending in wts(doc_id, dsir_weight): mirrors
    dsir_weights — uni+bigram features (the embed_text feats_cte shape,
    different hash seed), add-1-smoothed bucket multinomials, the lr
    grid as a difference of two fixlog int64 kernels (no libm),
    integer dot product."""
    b, s = _DSIR_BUCKETS, _DSIR_SEED
    lr_nested = fixlog.duckdb_nested_multi(
        "SELECT rb.bucket, rb.r, tb.t, tot.R_tot, tot.T_tot"
        " FROM raw_b rb LEFT JOIN tgt_b tb USING (bucket), tot",
        [
            (f"R_tot + {b}", "r + 1", "lrA"),
            (f"COALESCE(T_tot, 0) + {b}", "COALESCE(t, 0) + 1", "lrB"),
        ],
    )
    return rf"""{_sql_norm_words_cte()},
        feats_cte AS (
            SELECT doc_id,
                   CASE WHEN len(words) >= 2 THEN
                       list_concat(words,
                           list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i + 1]))
                   ELSE words END AS feats
            FROM w),
        expl AS (
            SELECT f.doc_id,
                   COALESCE(d.lang = 'en', FALSE) AS tgt,
                   unnest(f.feats) AS feat
            FROM feats_cte f JOIN documents d USING (doc_id)),
        dbc AS (
            SELECT doc_id, tgt,
                   ('0x' || substring(md5(feat || '#{s}'), 1, 8))
                       ::BIGINT % {b} AS bucket,
                   COUNT(*) AS c
            FROM expl GROUP BY 1, 2, 3),
        raw_b AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS r
                  FROM dbc GROUP BY bucket),
        tgt_b AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS t FROM dbc
                  WHERE tgt GROUP BY bucket),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS R_tot,
                       CAST(SUM(CASE WHEN tgt THEN c ELSE 0 END)
                            AS BIGINT) AS T_tot
                FROM dbc),
        lr AS (SELECT bucket, lrA - lrB AS lr FROM ({lr_nested}) z),
        wts AS (
            SELECT dbc.doc_id,
                   CAST(SUM(dbc.c * lr.lr) AS BIGINT) AS dsir_weight
            FROM dbc JOIN lr USING (bucket)
            GROUP BY dbc.doc_id)"""


def _sql_dsir_weights() -> str:
    return f"""WITH {_sql_dsir_weights_ctes()}
        SELECT doc_id, dsir_weight FROM wts"""


def _sql_dsir_gumbel_ctes() -> str:
    """CTE chain from ``wts`` to ``scored(doc_id, dsir_weight,
    score)``: the base-2 Gumbel noise via fixlog's TABLE face
    (mirrors selection._gumbel2_fix — all int64). The 4096-entry
    mantissa table is computed IN-ENGINE by the exact layered kernel
    over range(4096) — a per-bucket-sized frame, the shape fixlog's
    guidance allows — so both engines derive the same table from the
    same recurrence; per scored row only bit-lengths, shift-divides,
    and two table joins remain (the round-15 per-row kernel chains
    cost 2-4x normalized in analyzer time alone)."""
    h = (
        "('0x' || substring(md5(CAST(doc_id AS VARCHAR) || "
        f"'#g{_DSIR_SEED}'), 1, 8))::BIGINT"
    )
    tblsrc = fixlog.duckdb_nested(
        "SELECT CAST(i AS BIGINT) AS m FROM range(4096) t(i)",
        "4096 + m", "4096", "tval",
    )
    return f"""gumtbl AS (SELECT m, tval FROM ({tblsrc}) tz),
        gx AS (
            SELECT doc_id, dsir_weight, 2 * ({h}) + 1 AS x
            FROM wts),
        ge1 AS (
            SELECT *, CAST(length(bin(x)) AS BIGINT) - 1 AS e1
            FROM gx),
        gl1 AS (
            SELECT ge1.doc_id, ge1.dsir_weight,
                   greatest(34603008 - (ge1.e1 * 1048576 + t1.tval),
                            1) AS l
            FROM ge1 JOIN gumtbl t1
              ON t1.m = (ge1.x * 4096)
                  // (CAST(1 AS BIGINT) << CAST(ge1.e1 AS INT))
                  - 4096),
        ge2 AS (
            SELECT *, CAST(length(bin(l)) AS BIGINT) - 1 AS e2
            FROM gl1),
        scored AS (
            SELECT ge2.doc_id, ge2.dsir_weight,
                   ge2.dsir_weight
                   + (20971520 - (ge2.e2 * 1048576 + t2.tval))
                       AS score
            FROM ge2 JOIN gumtbl t2
              ON t2.m = (ge2.l * 4096)
                  // (CAST(1 AS BIGINT) << CAST(ge2.e2 AS INT))
                  - 4096)"""


def _sql_dsir_sample() -> str:
    frac = _DSIR_FRAC
    return f"""WITH {_sql_dsir_weights_ctes()},
        {_sql_dsir_gumbel_ctes()}
        SELECT doc_id, dsir_weight, score
        FROM scored
        QUALIFY ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
            <= CEIL({frac} * COUNT(*) OVER ())"""


def q_doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher quality-rule battery (operators/text.py:
    gopher_rules): per-rule booleans + composite keep — word count,
    mean word length, symbol ratio, alpha-word fraction, stop-word
    hits, bullet/ellipsis line fractions. One explode + map-side-
    combined groupBy for the word stats, row-local regexp counts for
    the rest; every fraction an int/int IEEE division, so the oracle
    replays the booleans bit-exactly."""
    docs = _docs_parallel(spark, sf_dir)
    return tx.gopher_rules(docs.select("doc_id", "text"))


def _sql_gopher_ctes(min_stop: int = 2) -> str:
    """CTE chain (no leading WITH, no ``w`` — caller supplies the
    shared norm-words CTE) ending in ``gsel``: the full per-doc Gopher
    stats + per-rule booleans + keep. ``min_stop`` parameterizes the
    stop-word rule (the pipeline gate passes the corpus-calibrated
    tx.GOPHER_MIN_STOP; the reporting query keeps the paper's 2)."""
    stop = ", ".join(f"'{w}'" for w in tx.GOPHER_STOPWORDS)
    mw = tx.GOPHER_MIN_WORDS
    return rf"""gw AS (SELECT doc_id, unnest(words) AS wd FROM w),
        gstats AS (
            SELECT doc_id, COUNT(*) AS n_words,
                   SUM(length(wd)) AS wlen_sum,
                   COUNT(*) FILTER (WHERE regexp_matches(wd, '[a-z]'))
                       AS alpha_words,
                   COUNT(DISTINCT CASE WHEN wd IN ({stop})
                                       THEN wd END) AS stop_hits
            FROM gw WHERE wd <> '' GROUP BY doc_id),
        grow AS (
            SELECT doc_id,
                   (length(t) - length(replace(t, '#', '')))
                       + len(regexp_extract_all(t, '(\.\.\.|…)'))
                       AS symbols,
                   len(string_split(t, chr(10))) AS n_lines,
                   len(list_filter(string_split(t, chr(10)),
                       x -> regexp_matches(x, '^\s*[-*•]')))
                       AS bullet_lines,
                   len(list_filter(string_split(t, chr(10)),
                       x -> regexp_matches(x, '(\.\.\.|…)\s*$')))
                       AS ellipsis_lines
            FROM (SELECT doc_id, COALESCE(text, '') AS t
                  FROM documents)),
        gj AS (
            SELECT r.doc_id,
                   CAST(COALESCE(s.n_words, 0) AS BIGINT) AS n_words,
                   CAST(s.wlen_sum AS DOUBLE)
                       / CAST(s.n_words AS DOUBLE) AS mean_word_len,
                   CAST(s.alpha_words AS DOUBLE)
                       / CAST(s.n_words AS DOUBLE) AS alpha_word_frac,
                   CAST(r.symbols AS DOUBLE)
                       / CAST(s.n_words AS DOUBLE) AS symbol_ratio,
                   CAST(COALESCE(s.stop_hits, 0) AS BIGINT)
                       AS stop_hits,
                   CAST(r.bullet_lines AS DOUBLE)
                       / CAST(r.n_lines AS DOUBLE) AS bullet_line_frac,
                   CAST(r.ellipsis_lines AS DOUBLE)
                       / CAST(r.n_lines AS DOUBLE)
                       AS ellipsis_line_frac
            FROM grow r LEFT JOIN gstats s USING (doc_id)),
        gsel AS (
            SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
                   symbol_ratio, stop_hits, bullet_line_frac,
                   ellipsis_line_frac,
                   COALESCE(n_words >= {mw} AND n_words <= 100000,
                            FALSE) AS word_count_ok,
                   COALESCE(mean_word_len >= 3.0
                            AND mean_word_len <= 10.0, FALSE)
                       AS mean_wlen_ok,
                   COALESCE(symbol_ratio <= 0.1, FALSE) AS symbol_ok,
                   COALESCE(alpha_word_frac >= 0.8, FALSE)
                       AS alpha_ok,
                   COALESCE(stop_hits >= {min_stop}, FALSE)
                       AS stopword_ok,
                   COALESCE(bullet_line_frac < 0.9, FALSE)
                       AS bullet_ok,
                   COALESCE(ellipsis_line_frac <= 0.3, FALSE)
                       AS ellipsis_ok,
                   COALESCE(n_words >= {mw} AND n_words <= 100000,
                            FALSE)
                       AND COALESCE(mean_word_len >= 3.0
                                    AND mean_word_len <= 10.0, FALSE)
                       AND COALESCE(symbol_ratio <= 0.1, FALSE)
                       AND COALESCE(alpha_word_frac >= 0.8, FALSE)
                       AND COALESCE(stop_hits >= {min_stop}, FALSE)
                       AND COALESCE(bullet_line_frac < 0.9, FALSE)
                       AND COALESCE(ellipsis_line_frac <= 0.3, FALSE)
                       AS keep
            FROM gj)"""


def _sql_gopher_rules() -> str:
    return f"""WITH {_sql_norm_words_cte()},
        {_sql_gopher_ctes()}
        SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
               symbol_ratio, stop_hits, bullet_line_frac,
               ellipsis_line_frac, word_count_ok, mean_wlen_ok,
               symbol_ok, alpha_ok, stopword_ok, bullet_ok,
               ellipsis_ok, keep
        FROM gsel"""


def _ppl_scores_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LM score frame (doc_id, n_bigrams, nll_fix, mnll),
    materialized ONCE to parquet per process (caching.materialize):
    doc_lm_ppl, doc_ppl_buckets, and doc_quality_screen all consume
    the same scores, and each
    previously re-ran the full explode + LM chain. Longs/doubles
    round-trip parquet bit-exactly, so oracle parity is unaffected."""

    def build(path: str) -> None:
        docs = _docs_parallel(spark, sf_dir)
        sel.lm_ppl_score(
            docs.select("doc_id", "text", "lang"),
            target=F.col("lang") == "en",
        ).write.mode("overwrite").parquet(path)

    params = ("fix20", sel.PPL_BUCKETS, sel.PPL_SEED)
    src = [(sf_dir, "documents")]
    return spark.read.parquet(materialize("pplscores", params, src, build))


def q_doc_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/selection.py:
    lm_ppl_score): mean negative log-likelihood per bigram (base 2)
    under a hashed-bigram LM trained on the 'en' stratum, on the
    exact int64 2^-20 fixed-point grid — one explode +
    map-side-combined groupBy, one B-row kernel aggregate, broadcast
    cost join; served from the shared at-rest score materialization
    (_ppl_scores_for). Oracle-replayable bit-exactly with no libm in
    the integer nll (mnll via two correctly-rounded divisions)."""
    return _ppl_scores_for(spark, sf_dir)


def q_doc_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: exact interpolated terciles over
    the scoreable docs' mnll (the engine-parity-proven exact
    percentile), broadcast-scalar cross join, map-only CASE. Scoreless
    docs land in 'empty'."""
    # the parquet-backed score frame (_ppl_scores_for) is its own plan
    # barrier: the tercile aggregate and the bucket-assignment side
    # read the same files instead of re-running the LM chain
    return sel.ppl_buckets(_ppl_scores_for(spark, sf_dir))


def _sql_lm_ppl_ctes() -> str:
    """CTE chain ending in pplscores(doc_id, n_bigrams, nll_fix,
    mnll): mirrors lm_ppl_score — bigram features over the shared
    norm-words CTE (``w``, supplied by the caller — no leading WITH
    and no ``w`` here, so gopher and ppl chains compose in one
    statement), hashed target multinomial, per-bucket fixed-point
    log2 costs (the fixlog kernel — no libm), exact integer per-doc
    sums, the two-division mnll."""
    b, sd = sel.PPL_BUCKETS, sel.PPL_SEED
    s, sB = 1, b
    nl_nested = fixlog.duckdb_nested(
        "SELECT bk.bucket, tb.t, ppltot.T_tot"
        " FROM (SELECT DISTINCT bucket FROM ppldbc) bk"
        " LEFT JOIN ppltgt tb USING (bucket), ppltot",
        f"COALESCE(T_tot, 0) + {sB}", f"COALESCE(t, 0) + {s}", "nl",
    )
    return rf"""pplfeats AS (
            SELECT doc_id,
                   list_transform(range(1, len(words)),
                       i -> words[i] || ' ' || words[i + 1]) AS feats
            FROM w),
        pplexpl AS (
            SELECT f.doc_id,
                   COALESCE(d.lang = 'en', FALSE) AS tgt,
                   unnest(f.feats) AS feat
            FROM pplfeats f JOIN documents d USING (doc_id)),
        ppldbc AS (
            SELECT doc_id, tgt,
                   ('0x' || substring(md5(feat || '#{sd}'), 1, 8))
                       ::BIGINT % {b} AS bucket,
                   COUNT(*) AS c
            FROM pplexpl GROUP BY 1, 2, 3),
        ppltgt AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS t
                   FROM ppldbc WHERE tgt GROUP BY bucket),
        ppltot AS (SELECT CAST(SUM(CASE WHEN tgt THEN c ELSE 0 END)
                               AS BIGINT) AS T_tot
                   FROM ppldbc),
        pplnl AS (SELECT bucket, nl FROM ({nl_nested}) z),
        pplper AS (
            SELECT ppldbc.doc_id,
                   CAST(SUM(ppldbc.c) AS BIGINT) AS n_bigrams,
                   CAST(SUM(ppldbc.c * pplnl.nl) AS BIGINT)
                       AS nll_fix
            FROM ppldbc JOIN pplnl USING (bucket)
            GROUP BY 1),
        pplscores AS (
            SELECT d.doc_id,
                   COALESCE(p.n_bigrams, 0) AS n_bigrams,
                   p.nll_fix,
                   CAST(p.nll_fix AS DOUBLE)
                       / CAST(p.n_bigrams AS DOUBLE)
                       / 1048576.0 AS mnll
            FROM documents d LEFT JOIN pplper p USING (doc_id))"""


def _sql_ppl_bucket_ctes() -> str:
    """Tercile cuts + per-doc bucket assignment, ending in
    ``pplb(doc_id, mnll, ppl_bucket)``. Requires ``pplscores``."""
    return """pplcuts AS (
            SELECT quantile_cont(mnll, CAST(1.0 AS DOUBLE) / 3.0)
                       AS _t1,
                   quantile_cont(mnll, CAST(2.0 AS DOUBLE) / 3.0)
                       AS _t2
            FROM pplscores WHERE mnll IS NOT NULL),
        pplb AS (
            SELECT doc_id, mnll,
                   CASE WHEN mnll IS NULL THEN 'empty'
                        WHEN mnll <= _t1 THEN 'head'
                        WHEN mnll <= _t2 THEN 'middle'
                        ELSE 'tail' END AS ppl_bucket
            FROM pplscores, pplcuts)"""


def _sql_lm_ppl() -> str:
    return f"""WITH {_sql_norm_words_cte()},
        {_sql_lm_ppl_ctes()}
        SELECT doc_id, n_bigrams, nll_fix, mnll
        FROM pplscores"""


def q_doc_lm_ppl_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's ACTUAL recipe shape (operators/selection.py:
    lm_ppl_score with a DataFrame target): the LM trains on an
    EXTERNAL trusted corpus — here the held-out doc_id%10==0 'en'
    shard playing the Wikipedia role — and scores the DISJOINT
    remainder (doc_id%10!=0, all languages). Same exact fixed-point
    log2 grid, same explode + map-side-combine + B-row-broadcast
    shape; the target frame's bigrams never mix into the scored
    spine."""
    docs = _docs_parallel(spark, sf_dir)
    tgt = docs.filter(
        (F.col("doc_id") % 10 == 0) & (F.col("lang") == "en")
    ).select("text")
    scored = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "text"
    )
    return sel.lm_ppl_score(scored, target=tgt)


def _sql_lm_ppl_external() -> str:
    """External-target LM oracle: the trusted shard (doc_id%10==0 AND
    lang='en') trains the bucket multinomial; only the complement is
    scored. Mirrors _sql_lm_ppl_ctes otherwise (same hashing, same
    fixlog kernel costs, same two-division mnll)."""
    b, sd = sel.PPL_BUCKETS, sel.PPL_SEED
    s, sB = 1, b
    nl_nested = fixlog.duckdb_nested(
        "SELECT bk.bucket, tb.t, xtot.T_tot"
        " FROM (SELECT DISTINCT bucket FROM xdbc) bk"
        " LEFT JOIN xtgt tb USING (bucket), xtot",
        f"T_tot + {sB}", f"COALESCE(t, 0) + {s}", "nl",
    )
    return rf"""WITH {_sql_norm_words_cte()},
        xfeats AS (
            SELECT doc_id,
                   list_transform(range(1, len(words)),
                       i -> words[i] || ' ' || words[i + 1]) AS feats
            FROM w),
        xtgt AS (
            SELECT ('0x' || substring(md5(feat || '#{sd}'), 1, 8))
                       ::BIGINT % {b} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS t
            FROM (SELECT unnest(f.feats) AS feat
                  FROM xfeats f JOIN documents d USING (doc_id)
                  WHERE d.doc_id % 10 = 0 AND d.lang = 'en')
            GROUP BY 1),
        xtot AS (SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS T_tot
                 FROM xtgt),
        xdbc AS (
            SELECT doc_id,
                   ('0x' || substring(md5(feat || '#{sd}'), 1, 8))
                       ::BIGINT % {b} AS bucket,
                   COUNT(*) AS c
            FROM (SELECT f.doc_id, unnest(f.feats) AS feat
                  FROM xfeats f WHERE f.doc_id % 10 <> 0)
            GROUP BY 1, 2),
        xnl AS (SELECT bucket, nl FROM ({nl_nested}) z),
        xper AS (
            SELECT xdbc.doc_id,
                   CAST(SUM(xdbc.c) AS BIGINT) AS n_bigrams,
                   CAST(SUM(xdbc.c * xnl.nl) AS BIGINT)
                       AS nll_fix
            FROM xdbc JOIN xnl USING (bucket)
            GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(p.n_bigrams, 0) AS n_bigrams,
               p.nll_fix,
               CAST(p.nll_fix AS DOUBLE)
                   / CAST(p.n_bigrams AS DOUBLE)
                   / 1048576.0 AS mnll
        FROM documents d LEFT JOIN xper p USING (doc_id)
        WHERE d.doc_id % 10 <> 0"""


def _sql_ppl_buckets() -> str:
    return f"""WITH {_sql_norm_words_cte()},
        {_sql_lm_ppl_ctes()},
        {_sql_ppl_bucket_ctes()}
        SELECT doc_id, mnll, ppl_bucket FROM pplb"""


def q_doc_quality_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed document-quality verdict a curation pass acts on:
    the full Gopher rule battery AND the CCNet perplexity split in one
    frame — keep = gopher keep AND ppl_bucket in (head, middle) (the
    CCNet recipe discards the high-perplexity tail). One join of two
    already-oracle-gated per-doc frames; both sides are scan-cost
    operators, so the composition adds a single id-keyed join."""
    docs = _docs_parallel(spark, sf_dir)
    g = tx.gopher_rules(docs.select("doc_id", "text")).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    # the parquet-backed score frame is its own plan barrier: the
    # tercile aggregate and the assignment side read the same files
    p = sel.ppl_gate(_ppl_scores_for(spark, sf_dir)).select(
        "doc_id", "ppl_bucket", F.col("keep").alias("ppl_keep")
    )
    return g.join(p, "doc_id").select(
        "doc_id",
        "gopher_keep",
        "ppl_bucket",
        (F.col("gopher_keep") & F.col("ppl_keep")).alias("keep"),
    )


def _sql_quality_screen() -> str:
    return f"""WITH {_sql_norm_words_cte()},
        {_sql_gopher_ctes()},
        {_sql_lm_ppl_ctes()},
        {_sql_ppl_bucket_ctes()}
        SELECT g.doc_id, g.keep AS gopher_keep, p.ppl_bucket,
               g.keep AND p.ppl_bucket IN ('head', 'middle') AS keep
        FROM gsel g JOIN pplb p USING (doc_id)"""


_PACK_CTX = 2048


def q_doc_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing: every doc's absolute token
    offset in the id-ordered corpus stream and the ctx-sized training
    sequences it spans. The prefix sum is bucketed (see
    operators/packing.py) — no single-task global window."""
    docs = _docs_parallel(spark, sf_dir)
    return pk.pack_sequences(docs, ctx_len=_PACK_CTX)


def _sql_seq_pack() -> str:
    return f"""WITH toks AS (
            SELECT doc_id, {_SQL_N_TOKENS_WS} AS n_tokens FROM documents),
        cum AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                        ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS start_tok
            FROM toks)
        SELECT doc_id, n_tokens, start_tok,
               start_tok // {_PACK_CTX} AS first_seq,
               CASE WHEN n_tokens > 0
                    THEN (start_tok + n_tokens - 1) // {_PACK_CTX}
                    ELSE start_tok // {_PACK_CTX} END AS last_seq
        FROM cum"""


def q_doc_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-side packing view: per training sequence, contributing
    doc count, token fill, and the everything-full-but-the-tail
    invariant a shard writer asserts."""
    docs = _docs_parallel(spark, sf_dir)
    return pk.pack_manifest(docs, ctx_len=_PACK_CTX)


def _sql_pack_manifest() -> str:
    c = _PACK_CTX
    return f"""WITH packed AS ({_sql_seq_pack()}),
        spans AS (
            SELECT doc_id, start_tok, n_tokens,
                   unnest(range(first_seq, last_seq + 1)) AS seq_id
            FROM packed WHERE n_tokens > 0)
        SELECT seq_id, COUNT(*) AS n_docs,
               CAST(SUM(LEAST(start_tok + n_tokens, (seq_id + 1) * {c})
                        - GREATEST(start_tok, seq_id * {c}))
                    AS BIGINT) AS n_tokens,
               CAST(SUM(LEAST(start_tok + n_tokens, (seq_id + 1) * {c})
                        - GREATEST(start_tok, seq_id * {c}))
                    AS BIGINT) = {c} AS full
        FROM spans GROUP BY seq_id"""


_CONTAM_MIN_FRAC = 0.2


def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: a 5% held-out probe set (doc_id % 20 == 0
    stands in for an eval benchmark) checked for n-gram overlap against
    the remaining corpus — the standard train/test leakage audit. Same
    inverted-index shape as the Jaccard path, asymmetric probe x corpus."""
    docs = _docs_parallel(spark, sf_dir)
    probe = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return dd.ngram_overlap_pairs(
        probe,
        corpus,
        n=_SHINGLE_N,
        min_frac=_CONTAM_MIN_FRAC,
        max_df=_JACCARD_MAX_DF,
    )


def _sql_contamination() -> str:
    return f"""WITH sh AS ({_SQL_SHINGLES}),
        probe AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
        corp AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
        rare AS (SELECT shingle FROM corp GROUP BY shingle
                 HAVING COUNT(*) <= {_JACCARD_MAX_DF}),
        p AS (SELECT probe.doc_id, probe.shingle FROM probe
              JOIN rare USING (shingle)),
        c AS (SELECT corp.doc_id, corp.shingle FROM corp
              JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM p GROUP BY doc_id),
        inter AS (SELECT p.doc_id AS probe_id, c.doc_id AS corpus_id,
                         COUNT(*) AS n_shared
                  FROM p JOIN c USING (shingle) GROUP BY 1, 2)
        SELECT probe_id, corpus_id, n_shared,
               CAST(n_shared AS DOUBLE) / sz AS frac
        FROM inter JOIN sizes ON sizes.doc_id = probe_id
        WHERE CAST(n_shared AS DOUBLE) / sz >= {_CONTAM_MIN_FRAC}"""


# Survivor count above which q_corpus_curation_pipeline's semantic
# stage switches from single-level (k=sqrt(n), n^1.5) to two-level
# product blocking (O(n^(4/3))). MEASURED (round 11, same host
# epoch, min-of-2 each, tools/profile_sem_modes.py ->
# SCALE_MEASURED.json sem_mode_crossover): end-to-end through
# _semantic_drop_ids, 1L/2L = 80.8/116.8 s at 150k docs and
# 391.8/540.3 s at 500k. Two findings replace round 9's 2M curve fit:
# (1) the wall-clock crossover is NOT in any locally attestable
# range — fitted exponents over the 150k->500k step are 1.31 (1L) vs
# 1.27 (2L), a gap of n^0.04, so the measured 28-45% 1L advantage
# closes only around ~1e9 docs (and that extrapolation is hopelessly
# sensitive: +-0.02 on either exponent moves it by orders of
# magnitude); (2) both curves run well BELOW their n^1.5 / n^(4/3)
# asymptotes at these sizes because shared near-linear stages (exact
# verify, CC) still carry much of the constant. The constant is
# therefore set where the asymptotic CANDIDATE-PAIR VOLUME argument
# overwhelms the measured constant-factor advantage rather than at
# the un-extrapolatable wall-clock intersection: at 10M survivors the
# pair-volume ratio n^(1/6) is ~15x, and at cluster scale pair
# SHUFFLE, not local CPU, is the binding constraint — a 100 TB
# deployment should lower this constant (its 2l branch is the one
# corpus_curation_pipeline_2l attests) or re-calibrate it on
# production hardware.
_SEM_MODE_CROSSOVER = 10_000_000


def _semantic_drop_ids(
    sem_docs: DataFrame, sem_mode: str
) -> DataFrame:
    """The semantic-dedup stage's non-representative id set over
    ``sem_docs`` (doc_id, text): hashing-trick embed -> blocked
    int64-unrolled exact cosine pairs -> hybrid CC -> ids of every doc
    that is not its cluster's min-id representative. Blocking follows
    ``sem_mode`` ('1l' = single-level k=sqrt(n) cells, '2l' = subspace
    product blocking, 'auto' = survivor-count decision vs
    _SEM_MODE_CROSSOVER). ONE definition shared by the full pipeline's
    stage 10 and the 2l branch-attestation query, so the attested
    branch is by construction the branch production runs."""
    emb = tracked_persist(
        tx.embed_text(
            sem_docs, dim=_TEXT_EMB_DIM, seed=_TEXT_EMB_SEED
        ).withColumnRenamed("doc_id", "vec_id")
    )
    n = emb.count()
    mode = sem_mode
    if mode == "auto":
        mode = "2l" if n > _SEM_MODE_CROSSOVER else "1l"
    if mode == "1l":
        cents = sim.kmeans_train_centroids(
            emb, k=_sem_k(n), iters=_SEM_ITERS
        )
        assigned = tracked_persist(sim.kmeans_assign(emb, cents))
        block_col = "cluster_id"
    else:
        # subspace product blocking with persisted centroid/probe
        # frames — shared with q_doc_semantic_dedup_2l
        assigned = _sem2_blocked(emb, n)
        block_col = "block"
    spairs = sim.embedding_near_dup_pairs(
        assigned,
        threshold=_SEM_THRESHOLD,
        dim=_TEXT_EMB_DIM,
        block_col=block_col,
        unit_norm=True,
    )
    scc = dd.connected_components(spairs, "id_a", "id_b")
    return tracked_persist(
        scc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
    )


def _run_stage(_name: str, thunk):
    """The default stage hook: build the stage, nothing else."""
    return thunk()


def _curation_stages_1_9(
    spark: SparkSession, sf_dir: str, stage_cb=_run_stage
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Stages 1-9 of q_corpus_curation_pipeline — held-out split ->
    profile -> quality/lang gate -> PII scrub -> quality screen ->
    repetition gate + exact dedup -> LSH candidates -> Jaccard verify
    -> near-dup clusters -> drop the non-representatives — each named
    stage built through ``stage_cb``. Returns every frame stages 10-12
    read: (probe, kept1, sets, non_reps, kept2). ONE definition shared
    by the full pipeline and _stage9_path's default build, so the
    stage-9 table is by construction the frame stage 10 sees."""
    docs = _docs_parallel(spark, sf_dir)
    probe = docs.filter(F.col("doc_id") % 20 == 0)
    # profile from the shared at-rest materialization (_lang_quality_for):
    # the parquet round-trip is the plan barrier that keeps the lang-ID +
    # quality regex chain out of the gate predicate at the scan (measured:
    # kept1 materialization 6.5 s -> ~1.5 s at sf0.1 for the persist
    # barrier alone), and the profile scan itself is computed once per
    # process and shared with corpus_prep_summary / doc_lang_summary
    # instead of once per pipeline invocation. Still persisted: three
    # downstream subplans consume it, and memory beats three parquet
    # re-reads of the text column.
    prof = stage_cb(
        "1_profile",
        lambda: tracked_persist(
            _lang_quality_for(spark, sf_dir)
            .filter(F.col("doc_id") % 20 != 0)
            .select(
                "doc_id",
                "text",
                F.col("lang_guess").alias("lang"),
                "quality",
            )
        ),
    )
    gated = prof.filter(
        (F.col("quality") >= _QUALITY_KEEP) & (F.col("lang") != "unknown")
    )
    # PII scrub FIRST (map-only regex over the gate's survivors): every
    # downstream stage — the repetition gate, dedup hashing, shingling,
    # token counting, the packed sequences themselves — operates on the
    # text that would actually be trained on, and two docs differing
    # only in redacted PII correctly collapse in the exact-dedup stage.
    # Persisted: it feeds the repetition-stats subplan, the gate join,
    # and the dedup hash — and the barrier keeps the regex chain out
    # of the downstream n-gram transform lambdas (project collapsing
    # would re-run it per array element). scrub_text builds the chain
    # as staged projections, each stage evaluated once per row.
    scrub = stage_cb(
        "2_pii_scrub",
        lambda: tracked_persist(
            tx.scrub_text(gated.select("doc_id", "text", "lang"))
        ),
    )
    # Published QUALITY SCREEN over the scrubbed survivors (round 13):
    # the Gopher gate AND the perplexity gate (operators: gopher_gate,
    # ppl_gate — the definitions the streaming dedup applies too), so
    # the flagship query exercises the complete published recipe. The
    # Gopher gate's stop-word rule is corpus-calibrated
    # (tx.GOPHER_MIN_STOP). Both run on the SCRUBBED text (what
    # would be trained on); the LM trains on the scrub survivors' own
    # 'en' stratum and the terciles are over the scrub survivors'
    # scores (this population, not the raw corpus). Scale shape: one
    # word explode + combined groupBy (gopher), one bigram explode +
    # combined groupBy + B-row broadcast join (LM), a 2-value tercile
    # aggregate + broadcast-scalar cross join; the exact percentile is
    # the oracle path — tercile_cuts(exact=False) is the documented
    # 100 TB sketch path. Scores persisted: the tercile aggregate and
    # the bucket assignment both consume them.
    def _qscreen() -> DataFrame:
        g = (
            tx.gopher_gate(scrub.select("doc_id", "text"))
            .filter(F.col("keep"))
            .select("doc_id")
        )
        scores = tracked_persist(
            sel.lm_ppl_score(
                scrub.select("doc_id", "text", "lang"),
                target=F.col("lang") == "en",
            )
        )
        p = sel.ppl_gate(scores).filter(F.col("keep")).select("doc_id")
        # a HARD plan barrier (NOT persist): this stage's logical tree
        # is the pipeline's largest (the semi joins duplicate scrub's
        # subtree and graft on the gopher agg + the whole LM chain),
        # and EVERY downstream stage embeds it — persist caches the
        # data but Catalyst re-analyzes the exponential tree per
        # action (the connected_components pathology, measured here as
        # 46.6 -> 228 s pipeline total before the barrier). Eager
        # localCheckpoint, as in connected_components: its blocks have
        # no lineage to recompute, but stages 8 and 10 already
        # localCheckpoint through connected_components, so a
        # write-read barrier here would not make the query survive
        # executor loss.
        # r19 (guide §2.4): intersect the two ID-ONLY keep sets first,
        # then ONE semi join against the text-carrying scrub frame —
        # semi-joining scrub twice shuffled the text column twice for
        # the same survivor set (A ⋉ g ⋉ p == A ⋉ (g ⋉ p): both keep
        # exactly the rows whose doc_id is in g AND p). At sf0.1 the
        # intersected id set auto-broadcasts and scrub is never
        # shuffled at all; at scale AQE keeps it a shuffled join of
        # ids (narrow) + one text shuffle instead of two.
        surv = scrub.join(
            g.join(p, "doc_id", "semi"), "doc_id", "semi"
        )
        return surv.localCheckpoint(eager=True)

    qual = stage_cb("2b_quality_screen", _qscreen)
    # Gopher-style repetition gate over the quality-screen survivors:
    # the tagged n-gram explode + two map-side-combined shuffles of
    # repetition_signals run on gate survivors only (the cheap map-only
    # quality/lang gate prunes first); thresholds are corpus-calibrated
    # (see text.REP_MAX_*). Not a separate persist: its one consumer is
    # the exact-dedup stage below, so the gate join rides that
    # materialization (and that stage's profiler clock)
    repgate = qual.join(
        tx.repetition_gate(qual).filter(F.col("keep")).select("doc_id"),
        "doc_id",
    )
    # n_tokens is computed HERE, once, so every later stage carries the
    # 3 narrow columns (doc_id, lang, n_tokens) instead of the text —
    # the packer consumes the precomputed count (token_col) and the
    # contamination shingles derive from the persisted sets below, so no
    # stage after this one touches the text column at all
    kept1 = stage_cb(
        "3_repetition_gate_exact_dedup",
        lambda: tracked_persist(
            dd.dedup_exact(repgate)
            .filter(F.col("is_canonical"))
            .select(
                "doc_id",
                "text",
                "lang",
                tx.token_count_ws("text").alias("n_tokens"),
            )
        ),
    )
    # candidate pairs persisted: BOTH the Jaccard verify and (via the CC
    # eager checkpoint) the cluster step reference this frame, and the
    # banded self-join + cap window + distinct behind it is the single
    # most expensive unshared subplan in the pipeline (measured: the
    # verify join alone fell 6.1 s -> 0.7 s at sf0.1 once the candidate
    # derivation stopped being replayed inline)
    cands = stage_cb(
        "5_lsh_candidates",
        lambda: tracked_persist(
            dd.minhash_lsh_pairs(
                kept1,
                n=_SHINGLE_N,
                num_hashes=_KNEE_NUM_HASHES,
                bands=_KNEE_BANDS,
                max_bucket=_LSH_MAX_BUCKET,
            )
        ),
    )
    # one row-local shingle-set build (no explode, no shuffle) shared
    # by the verify join AND the contamination screen (which explodes
    # the arrays back to rows)
    sets = stage_cb(
        "6_shingle_sets",
        lambda: tracked_persist(
            dd.shingle_sets(kept1, n=_SHINGLE_N)
        ),
    )
    pairs = stage_cb(
        "7_jaccard_verify",
        # persisted (tiny verified-pair frame): its one production
        # consumer is connected_components' EAGER initial checkpoint, so
        # production cost is unchanged — but without the persist the
        # profiler's stage-6 materialization would be thrown away and
        # stage 7 would re-run the verify join, double-counting it
        lambda: tracked_persist(
            dd.jaccard_verify_pairs(
                kept1,
                cands,
                n=_SHINGLE_N,
                threshold=_JACCARD_THRESHOLD,
                sets_df=sets,
            )
        ),
    )
    cc = stage_cb(
        "8_connected_components",
        lambda: dd.connected_components(pairs, "id_a", "id_b"),
    )
    non_reps = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    # narrow survivor frame (no text): the contamination screen, the
    # sample, and the packer all read it repeatedly
    kept2 = stage_cb(
        "9_drop_dup_members",
        lambda: tracked_persist(
            kept1.select("doc_id", "lang", "n_tokens").join(
                non_reps, "doc_id", "left_anti"
            )
        ),
    )
    return probe, kept1, sets, non_reps, kept2


def q_corpus_curation_pipeline(
    spark: SparkSession, sf_dir: str, stage_cb=None
) -> DataFrame:
    """The END-TO-END curation pipeline, every stage sequentially composed
    (each operates on the previous stage's survivors, not independent
    filters over the raw corpus):

      held-out split -> profile -> quality/lang gate -> PII scrub ->
      QUALITY SCREEN (Gopher rule battery AND CCNet perplexity split,
      stage 2b) -> Gopher repetition gate -> exact dedup ->
      LSH(+cap)+Jaccard-verify near-dup clusters (keep representatives) ->
      SEMANTIC dedup (k-means-cell-blocked cosine over the survivors) ->
      contamination screen vs the held-out probes -> stratified sample ->
      pack manifest (the training sequences a shard writer would emit).

    Scale shape: profile/gate/scrub map-only; the repetition gate one
    tagged explode + two combined shuffles; exact dedup ONE hash
    shuffle; near-dup the capped banded composition (never all-pairs);
    semantic dedup sqrt(n)-cell flat blocking (n^1.5) up to
    _SEM_MODE_CROSSOVER survivors, two-level product blocking
    (O(n^(4/3))) above it; screens are anti-joins on distinct id sets;
    sampling map-only; the prefix sum in packing is bucketed. The
    reference analog is the cleaned->analyzed flow of
    DataCleaning.py:15-209 -> DataAnalysis.py:16-165, generalized to
    corpus curation.

    ``stage_cb(name, thunk) -> thunk()`` is a seam for
    tools/profile_curation.py: each named stage builds through it, so the
    profiler times (and materializes) EXACTLY the production frames —
    the default identity hook leaves the production plan untouched.
    """
    stage_cb = stage_cb or _run_stage
    probe, kept1, sets, non_reps, kept2 = _curation_stages_1_9(
        spark, sf_dir, stage_cb
    )
    # r19: publish the stage-9 survivor table this run just computed to
    # the shared at-rest cache the 2l branch-attestation query reads
    # (_stage9_path) — IN-PASS sharing, charged here inside the
    # pipeline's own timed region (the frames are already persisted;
    # the publish is one narrow semi-join write, and a cache hit when
    # the table already exists). Without it, each bench pass re-ran
    # stages 1-9 a second time inside corpus_curation_pipeline_2l.
    _stage9_path(spark, sf_dir, lambda: (kept1, kept2))

    # SEMANTIC dedup stage (round 8, scale-adaptive round 9): the
    # shingle stages catch copy-edits; this catches REPHRASINGS —
    # hashing-trick embed -> cell-blocked int64-unrolled exact cosine
    # -> hybrid CC over the shingle-dedup survivors, keeping each
    # semantic cluster's min-id representative. Blocking switches on
    # the survivor count: single-level k=sqrt(n) cells up to
    # _SEM_MODE_CROSSOVER, two-level product blocking (multi-probe
    # level A) above it — the pipeline no longer hardcodes the n^1.5
    # path its own SCALE curves proved dominant past ~50k survivors.
    # The stage materializes only the TINY non-representative id set;
    # text comes from persisted kept1.
    def _sem_drop() -> DataFrame:
        sem_docs = kept1.select("doc_id", "text").join(
            non_reps, "doc_id", "left_anti"
        )
        return _semantic_drop_ids(sem_docs, "auto")

    sem_drop = stage_cb("10_semantic_dedup", _sem_drop)
    kept3 = kept2.join(F.broadcast(sem_drop), "doc_id", "left_anti")
    # corpus-side shingles for the screen: the persisted sets filtered
    # to survivors, exploded inside the screen — map-only over cached
    # arrays, replacing a full re-shingle + distinct shuffle of the
    # survivor text
    csets = sets.join(kept3.select("doc_id"), "doc_id", "semi")
    # persist the TINY dirty-id set (not the wide survivor frame): the
    # packer references its input several times, and each reference
    # re-evaluates only cached-kept2 + hash filter + this broadcast
    # anti-join — the contamination inverted-index subplan runs once.
    # The sample stays BEFORE the decontamination anti-join: the
    # temperature rates are PINNED to the post-semantic-dedup survivor
    # counts (kept3 — the curated corpus the mix policy is defined
    # over), so per-row membership is a pure predicate (bucket from
    # doc_id; lang selects a rate that is a kept3-derived constant) and
    # sampling survivors then dropping dirty ids selects the identical
    # rows — the two screens don't serialize against each other.
    # stage_cb wraps the PERSISTED dirty frame (what production actually
    # consumes), not the raw contam pairs — materializing the pairs
    # separately made the profiler re-run the inverted-index subplan
    # inside the next stage and double-count ~1.7 s.
    dirty = stage_cb(
        "11_contamination_screen",
        lambda: tracked_persist(
            dd.ngram_overlap_pairs(
                probe,
                kept3,
                n=_SHINGLE_N,
                min_frac=_CONTAM_MIN_FRAC,
                max_df=_JACCARD_MAX_DF,
                corpus_sets_df=csets,
            )
            .select(F.col("corpus_id").alias("doc_id"))
            .distinct()
        ),
    )
    # Sampling stage = TEMPERATURE mixture (round 9): per-language keep
    # rates (n_min/n_s)^0.5 flatten abundant languages toward the
    # rarest — the knob an LLM-data pipeline actually ships, replacing
    # the fixed per-language percentage table. alpha is pinned 0.5
    # through the loud registry guard (sqrt is correctly rounded in
    # IEEE 754; any other alpha's pow() is libm-dependent and breaks
    # bit-exact oracle replay). One tiny count agg over the narrow
    # persisted kept3 + a broadcast rates join + map-only filter.
    samp = sel.temperature_mix(
        kept3.select("doc_id", "lang"),
        "lang",
        alpha=_oracle_safe_alpha(0.5),
    )
    # persisted (r18): pack_manifest's plan references its input THREE
    # times (prefix_sum's within-bucket window, the bucket-totals agg,
    # and the span explode), and each reference re-evaluated the
    # sampling joins above — the temperature-mix count aggregate and
    # the two survivor anti-joins ran 3x per materialization (measured:
    # the manifest re-run over fully cached stage inputs cost 2.34 s;
    # 1.41 s with this persist). The frame is tiny (3 narrow columns,
    # survivors only).
    kept4 = tracked_persist(
        kept3.join(samp.select("doc_id"), "doc_id").join(
            dirty, "doc_id", "left_anti"
        )
    )
    return stage_cb(
        "12_sample_pack",
        lambda: pk.pack_manifest(
            kept4, ctx_len=_PACK_CTX, token_col="n_tokens"
        ),
    )


_SQL_COS_GATE = (
    "CAST(dot AS DOUBLE) / (sqrt(CAST(an AS DOUBLE))"
    " * sqrt(CAST(bn AS DOUBLE)))"
)


def _sql_sem_cc_ctes(pfx: str, sel: str) -> str:
    """Symmetric edges + recursive walk + per-node min-root closure
    over the verified-pair CTE ``sel``; ends in ``{pfx}comp`` (node,
    root)."""
    return f"""{pfx}edges AS (SELECT id_a AS u, id_b AS v FROM {sel}
                     UNION SELECT id_b, id_a FROM {sel}),
        {pfx}walk(node, root) AS (
            SELECT u, u FROM {pfx}edges
            UNION
            SELECT e.v, sw.root FROM {pfx}walk sw
            JOIN {pfx}edges e ON e.u = sw.node),
        {pfx}comp AS (SELECT node, MIN(root) AS root FROM {pfx}walk
                      GROUP BY node)"""


def _sql_sem_sel_1l(src: str, emb_src: str) -> str:
    """Single-level semantic pair selection over ``emb_src`` (doc_id,
    embedding) with k = max(8, floor(sqrt(|src|))): the
    q_doc_semantic_dedup chain — ends in ``semsel`` (verified cosine
    pairs)."""
    asg = f"asg{_SEM_ITERS + 1}"
    sq = "CAST({0}.svec[CAST(i AS INT)] AS HUGEINT)"
    k_sql = (
        "(SELECT GREATEST(8, CAST(floor(sqrt(COUNT(*))) AS BIGINT))"
        f" FROM {src})"
    )
    return f"""{_sql_kmeans_chain(_SEM_ITERS + 1, src=emb_src,
                           id_col="doc_id",
                           dim=_TEXT_EMB_DIM, k=k_sql)},
        sempairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   SUM({sq.format('a')} * {sq.format('b')}) AS dot,
                   SUM({sq.format('a')} * {sq.format('a')}) AS an,
                   SUM({sq.format('b')} * {sq.format('b')}) AS bn
            FROM {asg} a JOIN {asg} b
                 ON a.cid = b.cid AND a.vec_id < b.vec_id,
                 range(1, {_TEXT_EMB_DIM + 1}) r(i)
            GROUP BY a.vec_id, b.vec_id),
        semsel AS (
            SELECT id_a, id_b FROM sempairs
            WHERE {_SQL_COS_GATE} >= {_SEM_THRESHOLD})"""


def _sql_sem_sel_2l(src: str, emb_src: str) -> str:
    """Two-level product-blocked pair selection over ``emb_src`` with
    k = max(4, probes^2 * icbrt(|src|)) cells per level trained on DISJOINT
    dimension subspaces (level A = dims 1..half of the embedding, level
    B = the rest — mirrors _sem2_blocked), multi-probe on both levels;
    verification scores the FULL vector. Namespaced ``t2``; ends in
    ``t2sel`` (verified cosine pairs)."""
    n1 = _SEM_ITERS + 1
    sq = "CAST({0}.svec[CAST(i AS INT)] AS HUGEINT)"
    sv_full = (
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
        f" * {_SCALE}) AS BIGINT))"
    )
    k_sql = _sql_icbrt_k(src)
    h = _SEM2_HALF
    chain_a = _sql_kmeans_chain(
        n1, src="t2lo", id_col="doc_id", dim=h, k=k_sql, prefix="ta",
    )
    chain_b = _sql_kmeans_chain(
        n1, src="t2hi", id_col="doc_id", dim=h, k=k_sql, prefix="tb",
    )
    return f"""t2lo AS (
            SELECT doc_id, embedding[1:{h}] AS embedding
            FROM {emb_src}),
        t2hi AS (
            SELECT doc_id, embedding[{h + 1}:{2 * h}] AS embedding
            FROM {emb_src}),
        t2fs AS (
            SELECT doc_id AS vec_id, {sv_full} AS svec
            FROM {emb_src}),
        {chain_a},
        {chain_b},
        t2probea AS (
            SELECT vec_id, cid AS ca FROM tapairs{n1}
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dist, cid)
                <= {_SEM2_PROBES}),
        t2probeb AS (
            SELECT vec_id, cid AS cb FROM tbpairs{n1}
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dist, cid)
                <= {_SEM2_PROBES}),
        t2blocks AS (
            SELECT a.vec_id, a.ca, b.cb
            FROM t2probea a JOIN t2probeb b USING (vec_id)),
        t2cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM t2blocks a JOIN t2blocks b
                 ON a.ca = b.ca AND a.cb = b.cb
                    AND a.vec_id < b.vec_id),
        t2pairs AS (
            SELECT cd.id_a, cd.id_b,
                   SUM({sq.format('a')} * {sq.format('b')}) AS dot,
                   SUM({sq.format('a')} * {sq.format('a')}) AS an,
                   SUM({sq.format('b')} * {sq.format('b')}) AS bn
            FROM t2cand cd
            JOIN t2fs a ON a.vec_id = cd.id_a
            JOIN t2fs b ON b.vec_id = cd.id_b,
                 range(1, {_TEXT_EMB_DIM + 1}) r(i)
            GROUP BY cd.id_a, cd.id_b),
        t2sel AS (
            SELECT id_a, id_b FROM t2pairs
            WHERE {_SQL_COS_GATE} >= {_SEM_THRESHOLD})"""


def _sql_semkept_select(src: str, comp: str) -> str:
    return (
        f"SELECT nd.doc_id, nd.text, nd.lang FROM {src} nd "
        f"LEFT JOIN {comp} sc ON sc.node = nd.doc_id "
        f"WHERE sc.node IS NULL OR sc.root = nd.doc_id"
    )


def _stage9_path(spark: SparkSession, sf_dir: str, stages=None) -> str:
    """Path of the curation pipeline's STAGE-9 survivor table (doc_id,
    text, lang — the shingle-dedup survivors the semantic stage
    consumes): the stage-3 exact-dedup survivors (with text)
    semi-joined to the stage-9 near-dup survivors, materialized ONCE
    per corpus (caching.materialize). ``stages`` returns that
    (kept1, kept2) pair from a pipeline run that already computed it;
    by default the pipeline's own stage 1-9 function
    (_curation_stages_1_9) runs — zero drift risk: this IS the frame
    stage 10 sees, not a re-implementation. The key carries every
    constant stages 1-9 depend on (the r17 verdict's stale-survivor
    bug class) and the corpus fingerprint, so a constant change or a
    regenerated corpus invalidates the cache."""

    def run_to_stage9() -> tuple[DataFrame, DataFrame]:
        _, kept1, _, _, kept2 = _curation_stages_1_9(spark, sf_dir)
        return kept1, kept2

    def build(path: str) -> None:
        kept1, kept2 = (stages or run_to_stage9)()
        (
            kept1.select("doc_id", "text", "lang")
            .join(kept2.select("doc_id"), "doc_id", "semi")
            .write.mode("overwrite")
            .parquet(path)
        )

    return materialize(
        "stage9",
        (
            _QUALITY_KEEP, REP_MAX_DUP_WORD, REP_MAX_TOP_BIGRAM,
            REP_MAX_DUP_TRIGRAM, _SHINGLE_N, _KNEE_NUM_HASHES,
            _KNEE_BANDS, _LSH_MAX_BUCKET, _JACCARD_THRESHOLD,
            tx.GOPHER_MIN_WORDS, tx.GOPHER_MIN_STOP, sel.PPL_BUCKETS,
            sel.PPL_SEED, sel.PPL_SMOOTH, sel.PPL_KEEP, "fix20",
        ),
        [(sf_dir, "documents")],
        build,
    )


def q_corpus_curation_pipeline_2l(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The curation pipeline's semantic stage PINNED to the two-level
    product-blocked path — the blocking a 100 TB run would execute
    (auto picks it above _SEM_MODE_CROSSOVER survivors, but driver
    corpora sit below the crossover, so this pinned variant is what
    keeps the 2l branch oracle-attested). Attested over the SHARED
    stage-9 survivor materialization (_stage9_path) and
    through the SAME stage builder production uses
    (_semantic_drop_ids), returning the post-stage-10 survivors
    (doc_id, lang) — the alternate branch's own work, not a second
    full-pipeline replay of stages 1-9/11-12."""
    surv = tracked_persist(spark.read.parquet(_stage9_path(spark, sf_dir)))
    drop = _semantic_drop_ids(
        surv.select("doc_id", "text"), sem_mode="2l"
    )
    return surv.select("doc_id", "lang").join(
        F.broadcast(drop), "doc_id", "left_anti"
    )


def _sql_sem_stage_ctes(src: str, sem_mode: str = "auto") -> str:
    """The semantic-dedup stage as a CTE chunk over ``src`` (doc_id,
    text, lang), ending in ``semkept`` = src minus the semantic
    non-representatives. ``sem_mode`` '2l' replays the two-level
    product-blocked chain (q_corpus_curation_pipeline_2l); 'auto'
    replays q_corpus_curation_pipeline's runtime decision itself — both
    chains are present, each fed by a COUNT-guarded copy of the input
    (the untaken branch's source is empty, so its chain computes
    nothing), and semkept is the union. Built from the same shared
    CTE functions as the standalone queries, so the modes cannot
    drift."""
    emb_ctes = _sql_doc_embed_ctes().replace(
        "FROM documents", f"FROM {src}"
    )
    if sem_mode == "2l":
        return f"""{emb_ctes},
        {_sql_sem_sel_2l(src, "emb")},
        {_sql_sem_cc_ctes("t2", "t2sel")},
        semkept AS MATERIALIZED (
            {_sql_semkept_select(src, "t2comp")})"""
    cnt = f"(SELECT COUNT(*) FROM {src})"
    x = _SEM_MODE_CROSSOVER
    return f"""{emb_ctes},
        semsrc1 AS (SELECT * FROM {src} WHERE {cnt} <= {x}),
        semsrc2 AS (SELECT * FROM {src} WHERE {cnt} > {x}),
        sememb1 AS (SELECT * FROM emb WHERE {cnt} <= {x}),
        sememb2 AS (SELECT * FROM emb WHERE {cnt} > {x}),
        {_sql_sem_sel_1l("semsrc1", "sememb1")},
        {_sql_sem_cc_ctes("sem", "semsel")},
        {_sql_sem_sel_2l("semsrc2", "sememb2")},
        {_sql_sem_cc_ctes("t2", "t2sel")},
        semkept AS MATERIALIZED (
            {_sql_semkept_select("semsrc1", "semcomp")}
            UNION ALL
            {_sql_semkept_select("semsrc2", "t2comp")})"""


def _sql_lsh_cands_chain(num_hashes: int, bands: int, sfx: str,
                         src: str) -> str:
    """One LSH candidate chain (sig -> bands -> cands CTEs, suffixed
    ``sfx``) over shingle source ``src`` at a given banding."""
    rows = num_hashes // bands
    mins = ", ".join(
        f"MIN(({_SQL_H32} * {a} + {b}) % {dd.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(dd.permutation_constants(num_hashes))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('_', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + f") AS key FROM sig{sfx}"
        for b in range(bands)
    )
    return f"""sig{sfx} AS MATERIALIZED (SELECT doc_id, {mins}
                  FROM {src} GROUP BY doc_id),
        bands{sfx} AS MATERIALIZED (SELECT * FROM ({band_selects})
                  QUALIFY COUNT(*) OVER (PARTITION BY band, key)
                          <= {_LSH_MAX_BUCKET}),
        cands{sfx} AS MATERIALIZED (
                  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands{sfx} a JOIN bands{sfx} b
                       ON a.band = b.band AND a.key = b.key
                  WHERE a.doc_id < b.doc_id)"""


def _sql_stage9_ctes() -> str:
    """Stages 1-9 of the pipeline replay (CTEs ``train`` .. ``nondup``,
    requires WITH RECURSIVE for the dedup-cluster walk) — ONE
    definition shared by the full-pipeline oracle and the 2l
    branch-attestation oracle, mirroring the Spark side's shared
    stage-9 materialization. Stage 5 replays the pipeline's banding —
    the measured knee, unconditionally (_KNEE_NUM_HASHES/_KNEE_BANDS;
    the r18 sweep found no crossover below which the legacy banding
    wins)."""
    sh1 = _SQL_SHINGLES.replace("FROM documents", "FROM exact")
    jac = (
        "CAST(len(list_intersect(sa.sh_set, sb.sh_set)) AS DOUBLE)"
        " / (len(sa.sh_set) + len(sb.sh_set)"
        " - len(list_intersect(sa.sh_set, sb.sh_set)))"
    )
    # stage 2b (quality screen): the shared gopher/ppl builders,
    # re-targeted from `documents` to the scrub CTE by the same exact
    # textual substitution the other stages use. The norm-words CTE is
    # renamed qw_scrub — the semantic stage's embed chain already
    # defines `w` over ITS survivors later in the same statement.
    qwords = (
        _sql_norm_words_cte()
        .replace("FROM documents", "FROM scrub")
        .replace("w AS (", "qw_scrub AS (", 1)
    )
    qgopher = (
        _sql_gopher_ctes(min_stop=tx.GOPHER_MIN_STOP)
        .replace("FROM documents", "FROM scrub")
        .replace("FROM w)", "FROM qw_scrub)")
    )
    qppl = (
        _sql_lm_ppl_ctes()
        .replace("JOIN documents d", "JOIN scrub d")
        .replace("FROM documents d", "FROM scrub d")
        .replace("FROM w)", "FROM qw_scrub)")
    )
    return f"""train AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
        prof AS MATERIALIZED (SELECT doc_id, text, {_sql_lang_id()} AS lang,
                        ({_sql_quality()}) AS quality
                 FROM train),
        gated AS MATERIALIZED (SELECT doc_id, text, lang FROM prof
                  WHERE quality >= {_QUALITY_KEEP} AND lang <> 'unknown'),
        scrub AS MATERIALIZED (SELECT doc_id, {_sql_scrub_text()} AS text,
                        lang
                 FROM gated),
        {qwords},
        {qgopher},
        {qppl},
        {_sql_ppl_bucket_ctes()},
        qual AS MATERIALIZED (SELECT s.doc_id, s.text, s.lang
                 FROM scrub s
                 JOIN gsel g USING (doc_id)
                 JOIN pplb pb USING (doc_id)
                 WHERE g.keep
                   AND pb.ppl_bucket IN ('head', 'middle')),
        rep AS MATERIALIZED ({_sql_doc_repetition("qual")}),
        repgate AS MATERIALIZED (SELECT s.doc_id, s.text, s.lang
                    FROM qual s JOIN rep USING (doc_id)
                    WHERE dup_word_frac <= {REP_MAX_DUP_WORD}
                      AND top_bigram_frac <= {REP_MAX_TOP_BIGRAM}
                      AND dup_trigram_frac <= {REP_MAX_DUP_TRIGRAM}),
        exact AS MATERIALIZED (SELECT doc_id, text, lang FROM (
                      SELECT doc_id, text, lang,
                             doc_id = MIN(doc_id) OVER (
                                 PARTITION BY md5({_NORM})) AS is_canon
                      FROM repgate) WHERE is_canon),
        sh1 AS MATERIALIZED ({sh1}),
        {_sql_lsh_cands_chain(_KNEE_NUM_HASHES,
                              _KNEE_BANDS, "", "sh1")},
        sets AS MATERIALIZED (SELECT doc_id, list_distinct(list(shingle)) AS sh_set
                 FROM sh1 GROUP BY doc_id),
        pairs AS MATERIALIZED (SELECT id_a, id_b FROM cands
                  JOIN sets sa ON sa.doc_id = id_a
                  JOIN sets sb ON sb.doc_id = id_b
                  WHERE {jac} >= {_JACCARD_THRESHOLD}),
        edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        walk(node, root) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.v, w.root FROM walk w JOIN edges e ON e.u = w.node),
        comp AS MATERIALIZED (SELECT node, MIN(root) AS component FROM walk
                 GROUP BY node),
        nondup AS MATERIALIZED (SELECT e.doc_id, e.text, e.lang FROM exact e
                   LEFT JOIN comp ON e.doc_id = comp.node
                   WHERE comp.node IS NULL OR comp.component = e.doc_id)"""


def _sql_curation_2l_attest() -> str:
    """Oracle for the rescoped 2l attestation query: stages 1-9 (the
    shared CTE chain) + the 2l semantic stage, returning the
    post-stage-10 survivors — exactly q_corpus_curation_pipeline_2l's
    contract, no stage 11/12 tail."""
    return f"""WITH RECURSIVE
        {_sql_stage9_ctes()},
        {_sql_sem_stage_ctes("nondup", "2l")}
        SELECT doc_id, lang FROM semkept"""


def _sql_curation_pipeline() -> str:
    """CTE-for-CTE replay of q_corpus_curation_pipeline. Component SQL is
    re-targeted from `documents` to the previous stage's CTE by textual
    substitution of the builders' FROM clause (the builders are this
    module's own format strings, so the substitution is exact). The
    semantic stage replays the survivor-count switch — see
    _sql_sem_stage_ctes."""
    psh = _SQL_SHINGLES.replace("FROM documents", "FROM probe")
    # temperature-mix bucket (1e6 buckets; rates pinned to semkept =
    # the post-semantic-dedup survivors, matching the Spark policy)
    tmbucket = (
        "CAST(('0x' || substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 8))"
        "::BIGINT % 1000000 AS INT)"
    )
    c = _PACK_CTX
    return f"""WITH RECURSIVE
        {_sql_stage9_ctes()},
        {_sql_sem_stage_ctes("nondup")},
        probe AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
        psh_all AS MATERIALIZED ({psh}),
        csh_all AS MATERIALIZED (SELECT s.doc_id, s.shingle FROM sh1 s
                    JOIN semkept nd ON s.doc_id = nd.doc_id),
        rare AS MATERIALIZED (SELECT shingle FROM csh_all GROUP BY shingle
                 HAVING COUNT(*) <= {_JACCARD_MAX_DF}),
        p AS MATERIALIZED (SELECT psh_all.doc_id, psh_all.shingle FROM psh_all
              JOIN rare USING (shingle)),
        cs AS MATERIALIZED (SELECT csh_all.doc_id, csh_all.shingle FROM csh_all
               JOIN rare USING (shingle)),
        sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS sz FROM p GROUP BY doc_id),
        inter AS MATERIALIZED (SELECT p.doc_id AS probe_id, cs.doc_id AS corpus_id,
                         COUNT(*) AS n_shared
                  FROM p JOIN cs USING (shingle) GROUP BY 1, 2),
        dirty AS MATERIALIZED (SELECT DISTINCT corpus_id FROM inter
                  JOIN sizes ON sizes.doc_id = probe_id
                  WHERE CAST(n_shared AS DOUBLE) / sz
                        >= {_CONTAM_MIN_FRAC}),
        clean AS MATERIALIZED (SELECT * FROM semkept
                  WHERE doc_id NOT IN (SELECT corpus_id FROM dirty)),
        tmcounts AS (SELECT lang, COUNT(*) AS n FROM semkept
                     GROUP BY lang),
        tmmn AS (SELECT MIN(n) AS n_min FROM tmcounts),
        tmrates AS (SELECT lang,
                           sqrt(CAST(n_min AS DOUBLE)
                                / CAST(n AS DOUBLE)) AS keep_rate
                    FROM tmcounts, tmmn),
        sampled AS MATERIALIZED (
            SELECT c.doc_id, c.text FROM clean c
            JOIN tmrates r ON r.lang = c.lang
            WHERE CAST({tmbucket} AS DOUBLE)
                  < r.keep_rate * 1000000.0),
        toks AS MATERIALIZED (SELECT doc_id, {_SQL_N_TOKENS_WS} AS n_tokens
                 FROM sampled),
        cum AS MATERIALIZED (SELECT doc_id, n_tokens,
                       CAST(COALESCE(SUM(n_tokens) OVER (
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING),
                            0) AS BIGINT) AS start_tok
                FROM toks),
        packed AS MATERIALIZED (SELECT doc_id, n_tokens, start_tok,
                          start_tok // {c} AS first_seq,
                          CASE WHEN n_tokens > 0
                               THEN (start_tok + n_tokens - 1) // {c}
                               ELSE start_tok // {c} END AS last_seq
                   FROM cum),
        spans AS MATERIALIZED (SELECT doc_id, start_tok, n_tokens,
                         unnest(range(first_seq, last_seq + 1)) AS seq_id
                  FROM packed WHERE n_tokens > 0)
        SELECT seq_id, COUNT(*) AS n_docs,
               CAST(SUM(LEAST(start_tok + n_tokens, (seq_id + 1) * {c})
                        - GREATEST(start_tok, seq_id * {c}))
                    AS BIGINT) AS n_tokens,
               CAST(SUM(LEAST(start_tok + n_tokens, (seq_id + 1) * {c})
                        - GREATEST(start_tok, seq_id * {c}))
                    AS BIGINT) = {c} AS full
        FROM spans GROUP BY seq_id"""


def _sql_dedup_clusters() -> str:
    """Transitive closure of the verified-pair graph: breadth-first walk
    (recursive CTE, UNION-deduplicated) from every node; component id =
    min reachable node over the symmetric edge set."""
    return f"""WITH RECURSIVE pairs AS ({_sql_lsh_verified()}),
        edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        walk(node, root) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.v, w.root FROM walk w JOIN edges e ON e.u = w.node
        ),
        comp AS (SELECT node AS doc_id, MIN(root) AS cluster_id
                 FROM walk GROUP BY node)
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               (COALESCE(c.cluster_id, d.doc_id) = d.doc_id) AS keep
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id"""


def q_doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus maintenance: a NEW batch (doc_id % 10 == 0
    stands in for today's ingest) screened for near-dups against the
    EXISTING corpus (the rest) — asymmetric LSH candidates
    (minhash_lsh_join: batch x touched-buckets, never a corpus self-join)
    verified with exact Jaccard over the shared shingle sets."""
    docs = _docs_parallel(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    cands = dd.minhash_lsh_join(
        new,
        corpus,
        n=_SHINGLE_N,
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        max_bucket=_LSH_MAX_BUCKET,
    )
    return dd.jaccard_verify_pairs(
        docs, cands, n=_SHINGLE_N, threshold=_JACCARD_THRESHOLD
    )


def _sql_incremental_dedup() -> str:
    """Replay: signatures are per-doc, so banding the full corpus once and
    splitting by side equals per-side banding; the bucket cap applies to
    the corpus side only, exactly as minhash_lsh_join does."""
    rows = _NUM_HASHES // _BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('_', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ") AS key FROM sig"
        for b in range(_BANDS)
    )
    return f"""
        WITH sig AS ({_sql_minhash_sig()}),
        bands_all AS ({band_selects}),
        new_b AS (SELECT * FROM bands_all WHERE doc_id % 10 = 0),
        corp_b AS (SELECT * FROM bands_all WHERE doc_id % 10 <> 0
                   QUALIFY COUNT(*) OVER (PARTITION BY band, key)
                           <= {_LSH_MAX_BUCKET}),
        cands AS (SELECT DISTINCT n.doc_id AS id_a, c.doc_id AS id_b
                  FROM new_b n JOIN corp_b c
                       ON n.band = c.band AND n.key = c.key),
        sh AS ({_SQL_SHINGLES}),
        sets AS (SELECT doc_id, list_distinct(list(shingle)) AS sh_set
                 FROM sh GROUP BY doc_id)
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
                   / (len(a.sh_set) + len(b.sh_set)
                      - len(list_intersect(a.sh_set, b.sh_set)))
                   AS jaccard
        FROM cands c
        JOIN sets a ON a.doc_id = c.id_a
        JOIN sets b ON b.doc_id = c.id_b
        WHERE CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE)
                  / (len(a.sh_set) + len(b.sh_set)
                     - len(list_intersect(a.sh_set, b.sh_set)))
              >= {_JACCARD_THRESHOLD}"""


def q_emb_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup clustering: LSH-bucketed cosine near-dup
    pairs -> connected components -> per-vector cluster representative
    (min vec_id; keep = is-canonical) — the semantic-dedup analog of
    doc_dedup_clusters for an embedding column."""
    emb = _emb_parallel(spark, sf_dir)
    pairs = sim.embedding_near_dup_pairs(
        emb, threshold=_NEAR_DUP_THRESHOLD, planes=_NEAR_DUP_PLANES
    )
    cc = dd.connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )
    return (
        emb.select("vec_id")
        .join(cc, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col("vec_id"))
    )


def _sql_emb_dedup_clusters() -> str:
    return f"""WITH RECURSIVE pairs AS ({_sql_near_dup_lsh_pairs()}),
        edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        walk(node, root) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.v, w.root FROM walk w JOIN edges e ON e.u = w.node
        ),
        comp AS (SELECT node AS vec_id, MIN(root) AS cluster_id
                 FROM walk GROUP BY node)
        SELECT e.vec_id,
               COALESCE(c.cluster_id, e.vec_id) AS cluster_id,
               (COALESCE(c.cluster_id, e.vec_id) = e.vec_id) AS keep
        FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id"""


_CHUNK_SIZE = 200
_CHUNK_STRIDE = 150


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context chunking: fixed-size overlapping character windows per doc
    (operators/text.py:chunk_documents) — the map-only prep step before
    tokenization; overlap keeps boundary context."""
    docs = _docs_parallel(spark, sf_dir)
    return tx.chunk_documents(
        docs, size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )


def _sql_doc_chunks() -> str:
    s, t = _CHUNK_SIZE, _CHUNK_STRIDE
    n = (
        f"GREATEST(CAST(ceil((length(text) - {s}) / {t}.0) AS BIGINT)"
        " + 1, 1)"
    )
    sub = f"substring(text, CAST(chunk_idx * {t} + 1 AS INT), {s})"
    return f"""
        WITH chunks AS (
            SELECT doc_id, unnest(range(0, {n})) AS chunk_idx, text
            FROM documents WHERE length(text) > 0)
        SELECT doc_id, chunk_idx,
               chunk_idx * {t} AS chunk_start,
               CAST(length({sub}) AS BIGINT) AS chunk_len,
               {sub} AS chunk
        FROM chunks"""


_WINNOW_W = 4


def q_doc_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint set serialized to a CSV string: the harness canonicalizer
    hashes scalar cells only (array columns are unsortable in pandas), so
    the sorted array is joined into one deterministic string per doc."""
    docs = _docs_parallel(spark, sf_dir)
    fps = dd.winnow_fingerprints(docs, n=_SHINGLE_N, window=_WINNOW_W)
    return fps.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("fps"), lambda x: x.cast("string")), ","
        ).alias("fps"),
        "n_fps",
    )


def _sql_winnow() -> str:
    return f"""
        WITH base AS (SELECT doc_id, {_NORM} AS t FROM documents),
        pos AS (SELECT doc_id, t,
                       unnest(range(1, greatest(length(t) - {_SHINGLE_N - 1},
                                                1) + 1)) AS pos
                FROM base),
        hashes AS (SELECT doc_id, pos,
                          ('0x' || substring(md5(substring(t, CAST(pos AS INT),
                                                           {_SHINGLE_N})),
                                             1, 8))::BIGINT AS h
                   FROM pos),
        win AS (SELECT doc_id, pos,
                       MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW
                                    AND {_WINNOW_W - 1} FOLLOWING) AS mh,
                       COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
                FROM hashes),
        sel AS (SELECT DISTINCT doc_id, mh FROM win
                WHERE pos <= greatest(n_sh - {_WINNOW_W - 1}, 1))
        SELECT doc_id, array_to_string(list_sort(list(mh)), ',') AS fps,
               CAST(len(list(mh)) AS INT) AS n_fps
        FROM sel GROUP BY doc_id
    """


def _simhash_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc SimHash fingerprint frame ``(doc_id, simhash)``,
    materialized ONCE to parquet per process (caching.materialize):
    doc_simhash serves it directly and doc_simhash_pairs blocks on it,
    and each previously re-ran the token explode + 33-aggregate vote
    shuffle. int64 round-trips parquet bit-exactly."""

    def build(path: str) -> None:
        dd.simhash_fingerprint(
            _docs_parallel(spark, sf_dir), bits=_SIMHASH_BITS
        ).write.mode("overwrite").parquet(path)

    src = [(sf_dir, "documents")]
    return spark.read.parquet(materialize("simhash", (_SIMHASH_BITS,), src, build))


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_for(spark, sf_dir)


def q_doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded blocking is deterministic over exact fingerprints, so the
    oracle (_sql_simhash_pairs) replays the full candidate set + Hamming
    verify exactly. Fingerprints come from the shared at-rest
    materialization (_simhash_for)."""
    docs = _docs_parallel(spark, sf_dir)
    return dd.simhash_pairs(
        docs,
        bits=_SIMHASH_BITS,
        bands=_SIMHASH_BANDS,
        max_hamming=_SIMHASH_MAX_HAMMING,
        max_bucket=_SIMHASH_MAX_BUCKET,
        fps_df=_simhash_for(spark, sf_dir),
    )


def _emb_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings, repartitioned for CPU-heavy scoring — same single-file
    single-partition situation as _docs_parallel (and the same r19
    hash-instead-of-round-robin rationale: no sortBeforeRepartition)."""
    return load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, F.xxhash64(F.col("vec_id"))
    )


def _queries_vecs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    emb = _emb_parallel(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _TOPK_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return queries, emb


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    queries, emb = _queries_vecs(spark, sf_dir)
    return sim.cosine_topk(queries, emb, k=_TOPK_K)


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked exact near-dup pairs (cosine >= threshold).

    Scaled vectors + norms computed once per side BEFORE the self-join —
    per-pair work is one zip_with dot and a divide.
    """
    emb = sim.attach_scaled(_emb_parallel(spark, sf_dir), "embedding")
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("svec").alias("sa"),
        F.col("norm").alias("na"),
        "label",
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("svec").alias("sb"),
        F.col("norm").alias("nb"),
        "label",
    )
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                sim.dot_scaled(F.col("sa"), F.col("sb")).cast("double")
                / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(_NEAR_DUP_THRESHOLD))
    )


def q_emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate recall vs exact near-dup, but fully deterministic: the
    md5-derived hyperplanes are replayed by the oracle, which therefore
    verifies the bucketing AND the exact-cosine scoring."""
    emb = _emb_parallel(spark, sf_dir)
    return sim.embedding_near_dup_pairs(
        emb, threshold=_NEAR_DUP_THRESHOLD, planes=_NEAR_DUP_PLANES
    )


def q_emb_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-restricted approximate top-k; deterministic bucketing makes
    it oracle-checkable (see _sql_ann_lsh_topk)."""
    queries, emb = _queries_vecs(spark, sf_dir)
    return sim.ann_lsh_topk(queries, emb, k=_TOPK_K, planes=_ANN_PLANES)


# One materialized IVF index per (sf_dir, planes): ivf_write is an eager
# parquet write, so cache the path instead of rebuilding per invocation.
_KMEANS_K = 8
_KMEANS_ITERS = 2
_KMEANS_PROBES = 2


def q_emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF training: one exact Lloyd iteration (assign to nearest of the
    k lowest-id seed vectors by integer squared-L2, recompute means)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.kmeans_step(emb, k=_KMEANS_K)


def _sql_kmeans_step() -> str:
    sv = (
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
        f" * {_SCALE}) AS BIGINT))"
    )
    return f"""WITH seeds AS (
            SELECT vec_id AS cid, {sv} AS c_svec
            FROM embeddings ORDER BY vec_id LIMIT {_KMEANS_K}),
        c AS (SELECT vec_id, {sv} AS svec FROM embeddings),
        pairs AS (
            SELECT c.vec_id, s.cid, c.svec,
                   list_sum(list_transform(list_zip(c.svec, s.c_svec),
                       p -> (CAST(p[1] AS HUGEINT) - CAST(p[2] AS HUGEINT))
                            * (CAST(p[1] AS HUGEINT)
                               - CAST(p[2] AS HUGEINT)))) AS dist
            FROM c CROSS JOIN seeds s),
        assigned AS (
            SELECT vec_id, svec, cid
            FROM pairs
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) = 1),
        ex AS (
            SELECT cid, CAST(r.range AS INT) AS dim,
                   svec[CAST(r.range AS INT) + 1] AS sv
            FROM assigned CROSS JOIN range(64) r)
        SELECT cid AS cluster_id, dim,
               COUNT(*) AS n_members,
               (CAST(SUM(CAST(sv AS HUGEINT)) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE)) / 1000000000.0 AS mean
        FROM ex GROUP BY 1, 2"""


# Every shared at-rest build lives under caching.materialize's managed
# root. bench.py releases everything at every pass boundary (r19) so
# each timed pass pays each family's one-time build exactly once — the
# reported min-of-passes is build-inclusive for the family's first
# consumer, never a warm read of work done in an untimed region
# (VERDICT r18 #1). The name is kept for its callers (bench.py, tools,
# perfbench).
release_ivf_indexes = release_materialized


def _ivf_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Path of the materialized IVF index for (sf_dir, _ANN_PLANES),
    building it on first use."""
    return materialize(
        "ivf", (_ANN_PLANES,), [(sf_dir, "embeddings")],
        lambda path: sim.ivf_write(
            load_table(spark, sf_dir, "embeddings"), path, planes=_ANN_PLANES
        ),
    )


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-rest ANN: the corpus bucketed + partitioned on disk (ivf_write),
    queried with partition-pruned probes (ivf_topk). With probes=1 and the
    same planes this is defined to equal ann_lsh_topk (same buckets, same
    exact-cosine scoring — operators/similarity.py:274), so it shares the
    _sql_ann_lsh_topk oracle."""
    path = _ivf_index_for(spark, sf_dir)
    queries, _ = _queries_vecs(spark, sf_dir)
    return sim.ivf_topk(
        spark, path, queries, k=_TOPK_K, planes=_ANN_PLANES, probes=1
    )


def q_emb_ivf_topk_probes2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF: probes=2 scans each query's own bucket plus the
    least-margin plane flip. Shares the materialized index with
    q_emb_ivf_topk (probes is a query-time parameter); the oracle replays
    the margin-ordered probe list in SQL (_sql_ivf_topk_probes2)."""
    path = _ivf_index_for(spark, sf_dir)
    queries, _ = _queries_vecs(spark, sf_dir)
    return sim.ivf_topk(
        spark, path, queries, k=_TOPK_K, planes=_ANN_PLANES, probes=2
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (dup-word / top-bigram /
    dup-trigram fractions): one tagged n-gram explode, two map-side-
    combined shuffles (the tf-idf shape; the row-local HOF form runs
    interpreted and measured ~30x slower)."""
    return tx.repetition_signals(_docs_parallel(spark, sf_dir))


def _sql_norm_words_cte() -> str:
    """The `w` CTE (doc_id, normalized word array) — ONE definition
    shared by every oracle that tokenizes like tx.norm_text, so a
    normalization tweak cannot silently diverge between them. text is
    COALESCEd to '' to mirror embed_text's NULL contract (NULL text ->
    one empty-string word, never a NULL/absent row); repetition_signals
    reaches the same 0.0 fractions for NULL either way (its Spark side
    drops the NULL row and fillna(0.0)s the left join)."""
    return r"""w AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(
                       COALESCE(text, '')),
                       '\s+', ' ', 'g')), ' ') AS words
            FROM documents)"""


def _sql_luhn_valid(d: str) -> str:
    """Luhn checksum + 13-19 digit length over the digits-only
    expression ``d`` — mirrors tx.luhn_valid/_stripped_card_valid.
    ``d`` is textually inlined (DuckDB lambdas bind only their own
    parameter), so pass a cheap expression."""
    v = f"CAST(substring({d}, CAST(i AS INT), 1) AS INT)"
    return (
        f"len({d}) BETWEEN 13 AND 19 AND "
        f"list_sum(list_transform(range(1, len({d}) + 1), i -> "
        f"CASE WHEN (len({d}) - i) % 2 = 1 THEN "
        f"CASE WHEN {v} * 2 > 9 THEN {v} * 2 - 9 ELSE {v} * 2 END "
        f"ELSE {v} END)) % 10 = 0"
    )


def _sql_card_matches(src: str) -> str:
    d = "regexp_replace(m, '[ -]', '', 'g')"
    return (
        f"list_filter(regexp_extract_all({src}, "
        f"'{tx.CARD_CANDIDATE}'), m -> {_sql_luhn_valid(d)})"
    )


def _sql_secret_matches(src: str) -> str:
    return (
        f"list_filter(regexp_extract_all({src}, "
        f"'{tx.SECRET_CANDIDATE}'), t -> "
        "regexp_matches(t, '[a-z]') AND regexp_matches(t, '[A-Z]') "
        "AND regexp_matches(t, '[0-9]') AND "
        "len(list_distinct(string_split(t, ''))) >= "
        f"{tx._SECRET_MIN_DISTINCT})"
    )


def _sql_replace_each(
    acc: str, matches: str, token: str, boundary: str
) -> str:
    """Replace every distinct match (sorted, engine-identical order)
    with ``token`` — mirrors tx._replace_each exactly: each literal is
    \\Q-quoted and anchored between ``boundary`` chars or string edges
    (so digits embedded in longer rejected runs are not rewritten),
    and the whole fold runs twice (anchors consume boundary chars, so
    back-to-back occurrences alternate misses in one pass).
    list_prepend seeds the reduce with the accumulator text (reduce of
    a 1-element list is the element itself — no matches, no change)."""

    def one(a: str) -> str:
        return (
            f"list_reduce(list_prepend({a}, "
            f"list_sort(list_distinct({matches}))), "
            f"(acc, x) -> regexp_replace(acc, "
            f"'(^|{boundary})\\Q' || x || '\\E({boundary}|$)', "
            f"'\\1{token}\\2', 'g'))"
        )

    return one(one(acc))


def _sql_scrub_text(expr: str = "text") -> str:
    """The full PII replacement chain (email -> Luhn card -> phone ->
    ip -> secret) as one SQL expression over ``expr`` — mirrors
    tx.scrub_text exactly."""
    email_pat, email_tok = tx.PII_PATTERNS["email"]
    s = f"regexp_replace({expr}, '{email_pat}', '{email_tok}', 'g')"
    s = _sql_replace_each(
        s, _sql_card_matches(s), tx.CARD_TOKEN, "[^0-9]"
    )
    for kind in ("phone", "ip"):
        pat, token = tx.PII_PATTERNS[kind]
        s = f"regexp_replace({s}, '{pat}', '{token}', 'g')"
    return _sql_replace_each(
        s, _sql_secret_matches(s), tx.SECRET_TOKEN, "[^A-Za-z0-9+_=-]"
    )


def _sql_doc_repetition(src: str = "documents") -> str:
    # ``src`` retargets the shared normalized-words CTE (textual FROM
    # substitution, the shingles_of pattern) so the curation pipeline
    # can replay the repetition gate over its scrubbed survivors
    return f"""WITH {_sql_norm_words_cte().replace(
        "FROM documents", f"FROM {src}")},
        g AS (
            SELECT doc_id, words,
                   CASE WHEN len(words) >= 2 THEN
                       list_transform(range(1, len(words)),
                           i -> words[i] || ' ' || words[i + 1])
                   ELSE []::VARCHAR[] END AS bi,
                   CASE WHEN len(words) >= 3 THEN
                       list_transform(range(1, len(words) - 1),
                           i -> words[i] || ' ' || words[i + 1]
                                || ' ' || words[i + 2])
                   ELSE []::VARCHAR[] END AS tri
            FROM w)
        SELECT doc_id,
               CASE WHEN len(words) > 0 THEN
                   1.0 - CAST(len(list_distinct(words)) AS DOUBLE)
                       / len(words)
               ELSE 0.0 END AS dup_word_frac,
               CASE WHEN len(bi) > 0 THEN
                   CAST(list_max(list_transform(list_distinct(bi),
                       b -> len(list_filter(bi, x -> x = b))))
                       AS DOUBLE) / len(bi)
               ELSE 0.0 END AS top_bigram_frac,
               CASE WHEN len(tri) > 0 THEN
                   CAST(len(list_filter(list_distinct(tri),
                       t -> len(list_filter(tri, x -> x = t)) > 1))
                       AS DOUBLE) / len(list_distinct(tri))
               ELSE 0.0 END AS dup_trigram_frac
        FROM g"""


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with per-kind audit counts (emails / Luhn-valid
    payment cards / phone-like runs / IPv4 / high-entropy secret
    tokens), map-only regex + tiny-array expression work at scan
    speed. Patterns and the Luhn/entropy gates compile identically
    under Java regex and RE2, so the oracle replays the exact
    replacement chain."""
    return tx.scrub_pii(_docs_parallel(spark, sf_dir))


def _sql_doc_pii_scrub() -> str:
    # staged CTE chain mirroring scrub_pii: each count is computed on
    # the text its replacement stage actually ran over (email on the
    # original, cards post-email, phones post-card, IPs post-phone,
    # secrets post-ip) — the reconcilable-audit contract
    email_pat, email_tok = tx.PII_PATTERNS["email"]
    phone_pat, phone_tok = tx.PII_PATTERNS["phone"]
    ip_pat, ip_tok = tx.PII_PATTERNS["ip"]
    t2 = _sql_replace_each("t1", "cards", tx.CARD_TOKEN, "[^0-9]")
    clean = _sql_replace_each(
        "t3", "secrets", tx.SECRET_TOKEN, "[^A-Za-z0-9+_=-]"
    )
    return f"""WITH s1 AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{email_pat}'))
                       AS n_email,
                   regexp_replace(text, '{email_pat}', '{email_tok}',
                       'g') AS t1
            FROM documents),
        s2 AS (SELECT *, {_sql_card_matches('t1')} AS cards FROM s1),
        s3 AS (
            SELECT doc_id, n_email, len(cards) AS n_card, {t2} AS t2
            FROM s2),
        s4 AS (
            SELECT doc_id, n_email, n_card,
                   len(regexp_extract_all(t2, '{phone_pat}'))
                       AS n_phone,
                   regexp_replace(t2, '{phone_pat}', '{phone_tok}',
                       'g') AS t2p
            FROM s3),
        s5 AS (
            SELECT doc_id, n_email, n_card, n_phone,
                   len(regexp_extract_all(t2p, '{ip_pat}')) AS n_ip,
                   regexp_replace(t2p, '{ip_pat}', '{ip_tok}', 'g')
                       AS t3
            FROM s4),
        s6 AS (SELECT *, {_sql_secret_matches('t3')} AS secrets
               FROM s5)
        SELECT doc_id, {clean} AS clean_text,
               n_email, n_card, n_phone, n_ip,
               len(secrets) AS n_secret
        FROM s6"""


_TEXT_EMB_DIM = 64
_TEXT_EMB_SEED = "emb"
_SEM_THRESHOLD = 0.9  # unrelated-doc cosine p99.9 is ~0.81 on this corpus
# k-means-cell blocking, NOT hyperplane signs: hashed doc embeddings
# concentrate around the corpus's shared vocabulary direction, so sign
# buckets lump most docs together and pair generation degraded toward
# O(n^2) (measured 43x time for 10x docs). Cells are data-adaptive, and
# k = max(8, floor(sqrt(n))) balances the two cost terms of flat
# blocking — assignment n*k and within-cell pairs n^2/k are BOTH
# n^1.5 at k=sqrt(n), the standard flat-index (SemDeDup-style)
# operating point; sub-n^1.5 needs hierarchical/graph indexes.
_SEM_ITERS = 1


def _sem_k(n: int) -> int:
    import math

    return max(8, math.isqrt(n))


def _lang_quality_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profiled corpus frame ``(doc_id, text, lang_guess, quality,
    n_tokens, fp)``, materialized ONCE to parquet (caching.materialize).
    The regex-heavy lang-ID + quality expressions are the most
    recomputed subplan in a bench process — doc_lang_summary,
    corpus_prep_summary, and the curation pipelines all evaluate them
    over the same corpus — and each previously paid the full scan.
    Every column is deterministic in the text and parquet round-trips
    strings/doubles/longs bit-exactly, so oracle parity is unaffected;
    at cluster scale this IS the profile-stage materialization a prep
    pipeline writes anyway before fanning out to its consumers."""

    def build(path: str) -> None:
        # the four extra char-class counts make this frame the full
        # document_profile (r18): doc_profile then reads the at-rest
        # columns instead of re-running its regex battery over the
        # text; they ride the same single pass here (map-only ints,
        # parquet-exact), costing the builder nothing measurable
        _docs_parallel(spark, sf_dir).select(
            "doc_id",
            "text",
            tx.lang_id("text").alias("lang_guess"),
            tx.quality_score("text").alias("quality"),
            tx.token_count_ws("text").alias("n_tokens"),
            tx.fingerprint("text").alias("fp"),
            tx.token_count_regex("text").alias("n_tokens_lex"),
            tx.n_alpha("text").alias("n_alpha"),
            tx.n_digit("text").alias("n_digit"),
            tx.n_punct("text").alias("n_punct"),
        ).write.mode("overwrite").parquet(path)

    src = [(sf_dir, "documents")]
    return spark.read.parquet(materialize("langq", ("prof",), src, build))


def _text_emb_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick document-embedding frame (doc_id, embedding)
    for sf_dir, materialized ONCE to parquet (caching.materialize):
    doc_embed_hash and doc_semantic_dedup both consume the same
    vectors, and without the
    shared materialization each registry pass recomputed the full
    explode+shuffle twice. Parquet round-trips float32 bit-exactly, so
    oracle parity is unaffected."""
    def build(path: str) -> None:
        docs = _docs_parallel(spark, sf_dir)
        emb = tx.embed_text(docs, dim=_TEXT_EMB_DIM, seed=_TEXT_EMB_SEED)
        emb.write.mode("overwrite").parquet(path)

    params = (_TEXT_EMB_DIM, _TEXT_EMB_SEED)
    src = [(sf_dir, "documents")]
    return spark.read.parquet(materialize("textemb", params, src, build))


def q_doc_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick text embedding (operators/text.py:embed_text): the
    text -> embedding bridge — feature explode + one map-side-combined
    hash shuffle, oracle-replayable bit-exactly. Registered in EXPLODED
    form (doc_id, dim_index, value) — one row per vector component —
    because the attestation harness canonicalizes by sorting/hashing
    scalar cells and cannot canonicalize a raw array<float> column (the
    round-7 red row); per-cell floats keep bit-exactness. Operator
    callers (doc_semantic_dedup) consume the array contract via
    _text_emb_for unchanged."""
    return _text_emb_for(spark, sf_dir).select(
        "doc_id", F.posexplode("embedding").alias("dim_index", "value")
    )


def _sql_doc_embed_ctes() -> str:
    """Shared CTE chain: documents -> word uni+bigram features -> hashed
    (bucket, sign) arrays -> signed counts -> L2-normalized REAL vector.
    Mirrors embed_text exactly (same md5-derived bucket/sign hashes)."""
    d, s = _TEXT_EMB_DIM, _TEXT_EMB_SEED
    return rf"""{_sql_norm_words_cte()},
        feats_cte AS (
            SELECT doc_id,
                   CASE WHEN len(words) >= 2 THEN
                       list_concat(words,
                           list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i + 1]))
                   ELSE words END AS feats
            FROM w),
        hashed AS (
            SELECT doc_id,
                   list_transform(feats, f ->
                       ('0x' || substring(md5(f || '#{s}'), 1, 8))::BIGINT
                           % {d}) AS bks,
                   list_transform(feats, f ->
                       ((('0x' || substring(md5(f || '#s{s}'), 1, 8))
                           ::BIGINT % 2) * 2 - 1)) AS sgs
            FROM feats_cte),
        counted AS (
            SELECT doc_id,
                   list_transform(range(0, {d}), i ->
                       COALESCE(list_sum(
                           list_transform(range(1, len(bks) + 1),
                               j -> CASE WHEN bks[j] = i THEN sgs[j]
                                    ELSE 0 END)), 0)) AS counts
            FROM hashed),
        normed AS (
            SELECT doc_id, counts,
                   sqrt(CAST(list_sum(list_transform(counts,
                       x -> x * x)) AS DOUBLE)) AS nrm
            FROM counted),
        emb AS (
            SELECT doc_id,
                   list_transform(counts, x ->
                       CAST(CASE WHEN nrm > 0
                            THEN CAST(x AS DOUBLE) / nrm
                            ELSE 0.0 END AS REAL)) AS embedding
            FROM normed)"""


def _sql_doc_embed_hash() -> str:
    # exploded to scalar cells (see q_doc_embed_hash): DuckDB lists are
    # 1-indexed, Spark posexplode positions are 0-based INTs
    return f"""WITH {_sql_doc_embed_ctes()}
        SELECT doc_id, CAST(i - 1 AS INT) AS dim_index,
               embedding[CAST(i AS INT)] AS value
        FROM emb, range(1, {_TEXT_EMB_DIM + 1}) r(i)"""


def q_doc_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup of the documents table end-to-end: hashing-trick
    embedding -> k-means-cell-blocked cosine near-dup pairs (theta=0.9;
    unrelated docs top out ~0.81 on this corpus) -> connected components
    -> per-doc cluster id + canonical-representative flag. The
    embedding-space analog of doc_dedup_clusters, catching rephrasings
    shingle Jaccard underweights. Blocking uses kmeans_assign cells (see
    _SEM_K note) — the data-adaptive guard against the sign-bucket
    degeneracy this corpus shape triggers; boundary pairs split across
    cells are the documented recall trade of any single-assignment
    blocking."""
    # the embed frame comes from the shared parquet materialization
    # (_text_emb_for — also feeds doc_embed_hash); the persist on top of
    # the scan keeps the decoded vectors hot across seeding, assignment,
    # and both self-join sides.
    docs = _docs_parallel(spark, sf_dir)
    # repartition the materialized-embedding scan before persisting: the
    # parquet is one small file (ONE input partition), and the n x k
    # assignment loop plus both self-join sides would otherwise run on a
    # single core — measured 36.5 s vs 7.7 s at the 1x scale corpus, the
    # same single-split trap _docs_parallel documents
    emb = tracked_persist(
        _text_emb_for(spark, sf_dir)
        # hash-repartition (r19): keyless round-robin pays a local
        # sort of the scan (sortBeforeRepartition, guide §2.5)
        .repartition(
            spark.sparkContext.defaultParallelism,
            F.xxhash64(F.col("doc_id")),
        )
        .withColumnRenamed("doc_id", "vec_id")
    )
    # one metadata-cheap count to size k with the corpus (the sqrt
    # balance point, see _sem_k) — parameter selection, not row data.
    # Counted on the DOCUMENTS table, matching the oracle's k subquery
    # (embed_text preserves row count by contract, but the source table
    # is the ground truth either way).
    # The pair scoring passes unit_norm=True: embed_text L2-normalizes,
    # so the Cauchy-Schwarz bound licenses int64 accumulation in the
    # unpacked dot (~100x cheaper than decimal, identical values); the
    # centroid assignment checks the norms itself. The ASSIGNED frame is
    # persisted — it feeds both self-join sides and the n x k assignment
    # is the training hot loop.
    k = _sem_k(docs.count())
    cents = sim.kmeans_train_centroids(emb, k=k, iters=_SEM_ITERS)
    assigned = tracked_persist(sim.kmeans_assign(emb, cents))
    pairs = sim.embedding_near_dup_pairs(
        assigned,
        threshold=_SEM_THRESHOLD,
        dim=_TEXT_EMB_DIM,
        block_col="cluster_id",
        unit_norm=True,
    )
    cc = dd.connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    )
    # output frame derived from the DOCUMENTS table (one row per doc by
    # source-of-truth, like the oracle's final FROM documents), not from
    # the embed frame
    return (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col("doc_id"))
    )


def _sql_doc_semantic_dedup() -> str:
    # blocking = assignment against cents{_SEM_ITERS}, which is
    # asg{_SEM_ITERS + 1} in a chain extended one stage (the chain's
    # asg{i} assigns to cents{i-1}); its svec column is already the
    # scaled int vector, so the pair dot/norms read it directly
    asg = f"asg{_SEM_ITERS + 1}"
    sq = "CAST({0}.svec[CAST(i AS INT)] AS HUGEINT)"
    # k replayed as the same sqrt balance: DuckDB allows a subquery in
    # LIMIT, so the static oracle string matches Spark's count-derived k
    # at every scale factor
    k_sql = ("(SELECT GREATEST(8, CAST(floor(sqrt(COUNT(*))) AS BIGINT))"
             " FROM documents)")
    return f"""WITH RECURSIVE {_sql_doc_embed_ctes()},
        {_sql_kmeans_chain(_SEM_ITERS + 1, src="emb", id_col="doc_id",
                           dim=_TEXT_EMB_DIM, k=k_sql)},
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   SUM({sq.format('a')} * {sq.format('b')}) AS dot,
                   SUM({sq.format('a')} * {sq.format('a')}) AS an,
                   SUM({sq.format('b')} * {sq.format('b')}) AS bn
            FROM {asg} a JOIN {asg} b
                 ON a.cid = b.cid AND a.vec_id < b.vec_id,
                 range(1, {_TEXT_EMB_DIM + 1}) r(i)
            GROUP BY a.vec_id, b.vec_id),
        sem AS (
            SELECT id_a, id_b FROM pairs
            WHERE CAST(dot AS DOUBLE)
                      / (sqrt(CAST(an AS DOUBLE))
                         * sqrt(CAST(bn AS DOUBLE)))
                  >= {_SEM_THRESHOLD}),
        edges AS (SELECT id_a AS u, id_b AS v FROM sem
                  UNION SELECT id_b, id_a FROM sem),
        walk(node, root) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.v, w2.root FROM walk w2 JOIN edges e ON e.u = w2.node
        ),
        comp AS (SELECT node AS doc_id, MIN(root) AS cluster_id
                 FROM walk GROUP BY node)
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               (COALESCE(c.cluster_id, d.doc_id) = d.doc_id) AS keep
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id"""


def _icbrt(n: int) -> int:
    """Largest j with j**3 <= n — EXACT integer cube root (library
    pow/cbrt are libm-dependent; the oracle replays this as a MAX over
    an integer range, so both sides must use exact arithmetic)."""
    j = max(1, round(n ** (1.0 / 3.0)))
    while j * j * j > n:
        j -= 1
    while (j + 1) ** 3 <= n:
        j += 1
    return j


def _sem2_k(n: int) -> int:
    """Per-level cell count for the product blocking:
    _SEM2_K_MULT * cbrt(n). The multiplier exists BECAUSE of
    multi-probe: with p probed cells per level, the probability two
    random vectors share a probed cell on both levels is ~p^4/k^2 —
    16x the single-assignment candidate volume at p=2 (measured as a
    ~30x wall blow-up at x10 before the multiplier). Scaling k by p^2
    restores p^4/(p^2 k0)^2 = 1/k0^2, the single-assignment volume,
    while multi-probe keeps covering each vector's boundary cells —
    assignment cost grows p^2 x but stays O(n^(4/3)); recall vs the
    finer cells is re-measured in SCALE_MEASURED.json sem2_overlap."""
    return max(4, _SEM2_K_MULT * _icbrt(n))


def _sql_icbrt_k(src: str) -> str:
    """_sem2_k replayed in SQL, exact for ANY corpus size (the former
    MAX over range(1, 10001) was exact only to 1e12 docs, and DuckDB's
    range() table function cannot take a count-derived bound — table
    functions reject subqueries): start from the libm cube root rounded
    to integer, then correct over a ±2 window with the EXACT integer
    predicate j^3 <= n. Double-precision cbrt is within ~1 ulp, so the
    true integer root always lies inside the window for any n < 2^63;
    libm variance moves only the window center, never the corrected
    MAX."""
    cnt = f"(SELECT COUNT(*) FROM {src})"
    j0 = f"CAST(round(pow(CAST({cnt} AS DOUBLE), 1.0/3.0)) AS BIGINT)"
    return (
        f"(SELECT GREATEST(4, {_SEM2_K_MULT} * MAX(jj)) FROM ("
        f"SELECT {j0} + d AS jj "
        f"FROM (VALUES (-2), (-1), (0), (1), (2)) t(d)) s "
        f"WHERE jj >= 1 AND jj*jj*jj <= {cnt})"
    )


# Multi-probe width for the product blocking, applied to BOTH levels:
# each vector joins the blocks of its _SEM2_PROBES nearest cells per
# level (probes^2 block keys per vector). Closes the boundary-miss
# recall gap of single-assignment product blocking — a near-boundary
# pair is lost only if the two sides' top-p cell sets are disjoint on
# EITHER level — at ~probes^4/k^2 candidate volume, still O(n^(4/3))
# under the probe-scaled k. probes=3 is the measured operating point
# FOR THE SUBSPACE LEVELS (see q_doc_semantic_dedup_2l): at x10,
# subspace p=2/k=4cbrt(n) gave recall 0.941 of the 1L dup set with
# 1.6M candidates; p=3/k=9cbrt(n) gives 0.977 with 1.8M — above the
# full-space two-seed design's 0.963 at 9.0M candidates.
_SEM2_PROBES = 3
# Per-level cell-count multiplier compensating multi-probe's candidate
# blow-up (see _sem2_k): k = mult * cbrt(n) with mult = probes^2 keeps
# the within-block pair volume at the single-assignment baseline.
_SEM2_K_MULT = _SEM2_PROBES * _SEM2_PROBES
# Each level clusters HALF the embedding dimensions (level A = dims
# 1..half, level B = half+1..dim) — the inverted-multi-index shape
# (product of codebooks over disjoint subspaces, Babenko & Lempitsky).
# Two k-means clusterings of the SAME full-space vectors are
# correlated (cell boundaries align, different seeds notwithstanding),
# so their product never multiplies down: measured 9.0M candidate
# pairs at x10 where the independence model predicts ~0.9M. Disjoint
# subspaces decorrelate by construction (measured 1.6-1.8M), and each
# level's training fan-out halves (dim/2 per distance).
_SEM2_HALF = _TEXT_EMB_DIM // 2


def _sem2_blocked(emb: DataFrame, n: int) -> DataFrame:
    """The two-level product-blocking frame shared by
    q_doc_semantic_dedup_2l and the curation pipeline's 2l stage:
    ``emb`` (vec_id, embedding — persisted by the caller) plus a
    ``block`` key = probed subspace cell on level A "_" probed
    subspace cell on level B.

    Level A clusters dims 1.._SEM2_HALF, level B the other half — the
    inverted-multi-index decorrelation (see the _SEM2_HALF note).
    Each level is k-means with k = _sem2_k(n) cells trained on its
    subspace only, and each vector probes its _SEM2_PROBES nearest
    cells per level (kmeans_assign_probes), so a pair split by a cell
    boundary on either level still collides via a later-ranked cell.
    Output has probes^2 rows per vector; a pair sharing several probed
    cell combinations is scored in each shared block and collapsed by
    the pair generator's distinct — same verified set.

    The k-row centroid frames need no persist: kmeans_assign_probes
    collects them once, when its plan is built. The probe frames are
    PERSISTED before the three-way join builds the block keys: joining
    two n x k fan-out lineages in one job measured 60 s where the
    separately materialized frames cost ~3 s (x3) — the join must
    consume n*probes tiny rows, not the nested fan-outs."""
    k = _sem2_k(n)
    cells = []
    for tag, off in (("a", 1), ("b", _SEM2_HALF + 1)):
        sub = emb.select(
            "vec_id",
            F.slice("embedding", off, _SEM2_HALF).alias("embedding"),
        )
        cents = sim.kmeans_train_centroids(sub, k=k, iters=_SEM_ITERS)
        cells.append(tracked_persist(
            sim.kmeans_assign_probes(
                sub, cents, probes=_SEM2_PROBES
            ).select("vec_id", F.col("cluster_id").alias(f"cell_{tag}"))
        ))
    # product block key: pairs must collide in a probed A-cell AND a
    # probed B-cell (concat of two ints with a separator is
    # collision-free)
    return tracked_persist(
        emb.join(cells[0], "vec_id")
        .join(cells[1], "vec_id")
        .withColumn("block", F.concat_ws("_", "cell_a", "cell_b"))
    )


def q_doc_semantic_dedup_2l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL (product-blocked) semantic dedup — the sub-n^1.5 scale
    path the single-level curve motivated (SCALE.md: the sqrt(n)-cell
    flat blocking is measured n^1.5-dominant beyond ~50k docs): two
    k-means clusterings over DISJOINT embedding-dimension subspaces
    (the inverted-multi-index shape — k = max(4, 9*cbrt(n)) cells per
    level), and candidate pairs must share a PROBED cell on BOTH
    levels. Each level is multi-probe (_SEM2_PROBES nearest subspace
    cells per vector, kmeans_assign_probes), so a pair split by either
    level's partition boundary still collides via a later-ranked cell.
    Expected candidate volume ~(probes^4/k^2) n^2 ~ n^(4/3), so
    assignment (probes * n * k * dim/2) and within-block pairs both
    stay O(n^(4/3)) — asymptotically under the flat design's n^1.5.
    Verification scores the FULL vector (threshold semantics are
    unchanged — only the blocking is subspace-split). Recall vs the
    1L dup set and the correlation measurement that motivated the
    subspace split are in SCALE_MEASURED.json sem2_overlap. Same
    output contract as the single-level query."""
    docs = _docs_parallel(spark, sf_dir)
    emb = tracked_persist(
        _text_emb_for(spark, sf_dir)
        # hash-repartition (r19): keyless round-robin pays a local
        # sort of the scan (sortBeforeRepartition, guide §2.5)
        .repartition(
            spark.sparkContext.defaultParallelism,
            F.xxhash64(F.col("doc_id")),
        )
        .withColumnRenamed("doc_id", "vec_id")
    )
    assigned = _sem2_blocked(emb, docs.count())
    pairs = sim.embedding_near_dup_pairs(
        assigned,
        threshold=_SEM_THRESHOLD,
        dim=_TEXT_EMB_DIM,
        block_col="block",
        unit_norm=True,
    )
    cc = dd.connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    )
    return (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col("doc_id"))
    )


def _sql_doc_semantic_dedup_2l() -> str:
    # the subspace chains, probes, blocking, and full-vector scoring
    # all come from the same builder the pipeline oracle uses
    # (_sql_sem_sel_2l — k from _sql_icbrt_k: the exact integer cube
    # root, engine-exact where pow()/cbrt() are libm-dependent), so
    # the standalone query and the pipeline's 2l stage cannot drift
    return f"""WITH RECURSIVE {_sql_doc_embed_ctes()},
        {_sql_sem_sel_2l("documents", "emb")},
        bedges AS (SELECT id_a AS u, id_b AS v FROM t2sel
                   UNION SELECT id_b, id_a FROM t2sel),
        bwalk(node, root) AS (
            SELECT u, u FROM bedges
            UNION
            SELECT e.v, w2.root FROM bwalk w2
            JOIN bedges e ON e.u = w2.node),
        bcomp AS (SELECT node AS doc_id, MIN(root) AS cluster_id
                  FROM bwalk GROUP BY node)
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               (COALESCE(c.cluster_id, d.doc_id) = d.doc_id) AS keep
        FROM documents d LEFT JOIN bcomp c ON c.doc_id = d.doc_id"""


def q_emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF training: _KMEANS_ITERS exact Lloyd iterations
    (operators/similarity.py:kmeans_train). Every update re-quantizes
    centroids to the int64 grid by mathematical floor division, so the
    oracle replays the whole loop as chained CTEs bit-exactly —
    iterative training under the same exact-hash gate as everything
    else."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.kmeans_train(emb, k=_KMEANS_K, iters=_KMEANS_ITERS)


def _sql_kmeans_chain(
    iters: int,
    src: str = "embeddings",
    id_col: str = "vec_id",
    dim: int = _EMB_DIM,
    k: int | str = _KMEANS_K,
    prefix: str = "",
) -> str:
    """CTE chain replaying kmeans_train_centroids: c (scaled corpus),
    cents0 (lowest-id seeds), then per iteration i: pairs{i} (integer L2
    to cents{i-1}), asg{i} (argmin, cid tiebreak), sums{i} (per-cluster
    per-dim count+sum), cents{i} (floor-div re-quantized centroids).
    Floor division is spelled (s - ((s % n + n) % n)) / n — exact and
    engine-portable where round() is not (HALF_UP vs half-even ties).
    ``src`` is any table/CTE with (id_col, embedding); ``k`` may be SQL
    text (e.g. a LIMIT subquery) when the cell count is data-derived.
    ``prefix`` namespaces every CTE (two chains can share one WITH)."""
    sv = (
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
        f" * {_SCALE}) AS BIGINT))"
    )
    p = prefix
    parts = [
        f"{p}c AS (SELECT {id_col} AS vec_id, {sv} AS svec FROM {src})",
        f"""{p}cents0 AS (
            SELECT {id_col} AS cid, {sv} AS c_svec
            FROM {src} ORDER BY {id_col} LIMIT {k})""",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""{p}pairs{i} AS (
            SELECT c.vec_id, s.cid, c.svec,
                   list_sum(list_transform(list_zip(c.svec, s.c_svec),
                       p -> (CAST(p[1] AS HUGEINT) - CAST(p[2] AS HUGEINT))
                            * (CAST(p[1] AS HUGEINT)
                               - CAST(p[2] AS HUGEINT)))) AS dist
            FROM {p}c c CROSS JOIN {p}cents{i - 1} s)""")
        parts.append(f"""{p}asg{i} AS (
            SELECT vec_id, svec, cid FROM {p}pairs{i}
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY dist, cid) = 1)""")
        parts.append(f"""{p}sums{i} AS (
            SELECT cid, CAST(r.range AS INT) AS dim, COUNT(*) AS n,
                   SUM(CAST(svec[CAST(r.range AS INT) + 1] AS HUGEINT))
                       AS s
            FROM {p}asg{i} CROSS JOIN range({dim}) r GROUP BY 1, 2)""")
        # `//` (not `/`): DuckDB's `/` coerces HUGEINT operands to
        # DOUBLE, losing exactness above 2^53; `//` stays HUGEINT, and
        # with the residue subtracted the numerator divides exactly, so
        # its truncation-vs-floor semantics never engage
        parts.append(f"""{p}cents{i} AS (
            SELECT cid,
                   list(CAST((s - ((s % n + n) % n)) // n AS BIGINT)
                        ORDER BY dim) AS c_svec
            FROM {p}sums{i} GROUP BY cid)""")
    return ",\n        ".join(parts)


def _sql_kmeans_train() -> str:
    # kmeans_train(iters=N) presents the N-th update's means: the sums
    # of the assignment against cents{N-1} — exactly sums{N}
    return f"""WITH {_sql_kmeans_chain(_KMEANS_ITERS)}
        SELECT cid AS cluster_id, dim, n AS n_members,
               (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / {_SCALE}.0
                   AS mean
        FROM sums{_KMEANS_ITERS}"""


def _kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k x dim trained IVF centroids ``(cid, c_svec)`` for
    (sf_dir, k, iters), memoized as COLLECTED rows (caching.memo_rows:
    a one-time, k-row driver materialization), not as a lazy plan: an
    unmaterialized training plan broadcast by every probe would re-run
    the full Lloyd loop per query, so the benchmark would time
    training + probe instead of the partition-pruned probe the index
    exists to isolate. Shared by the k-means, IVF-PQ and IVF-SQ8
    indexes."""

    def train() -> list:
        # the ANN-tier embeddings corpus is unit-normalized (the
        # cosine-ANN contract; fixture max |norm - 1| < 2e-7), so the
        # assignment kernel's per-batch norm check keeps every batch on
        # its int64 matmul
        cents = sim.kmeans_train_centroids(
            load_table(spark, sf_dir, "embeddings"),
            k=_KMEANS_K, iters=_KMEANS_ITERS,
        )
        return [(r.cid, list(r.c_svec)) for r in cents.collect()]

    params = (_KMEANS_K, _KMEANS_ITERS)
    rows = memo_rows("kmeans", params, [(sf_dir, "embeddings")], train)
    return spark.createDataFrame(rows, "cid long, c_svec array<long>")


def _ivf_kmeans_index_for(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame]:
    """Path of the materialized learned-centroid IVF index for
    (sf_dir, k, iters) plus the trained centroid frame
    (_kmeans_centroids), building the index on first use."""
    cents = _kmeans_centroids(spark, sf_dir)
    path = materialize(
        "ivfkmeans", (_KMEANS_K, _KMEANS_ITERS), [(sf_dir, "embeddings")],
        lambda path: sim.ivf_write_kmeans(
            load_table(spark, sf_dir, "embeddings"), cents, path
        ),
    )
    return path, cents


# Product quantization: m subspaces of dim/m, ks centroids each — a
# 64-dim float32 vector compresses to m codes (4 bytes at these
# defaults, 64x smaller). Small ks keeps the oracle's m x iters CTE
# chain bounded; production would use m=8, ks=256 (1 byte/code).
_PQ_M = 4
_PQ_KS = 16
_PQ_ITERS = 2
# two-stage retrieval: ADC recalls this many candidates per query
# before the exact-cosine re-rank (>> k, << n — the read-volume knob)
_PQ_RERANK_CANDS = 30


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained PQ sub-codebooks, memoized as COLLECTED rows (m x ks =
    64 rows — the same k-row driver boundary as _kmeans_centroids):
    emb_pq_codes, emb_pq_adc_topk, and the IVF-PQ index build all
    broadcast the same deterministic codebooks, and without the memo
    each invocation re-ran the m Lloyd chains."""

    def train() -> list:
        books = qz.pq_train(
            _emb_parallel(spark, sf_dir),
            m=_PQ_M, ks=_PQ_KS, iters=_PQ_ITERS, dim=_EMB_DIM,
        )
        return [(r.sub, r.cid, list(r.c_svec)) for r in books.collect()]

    params = (_PQ_M, _PQ_KS, _PQ_ITERS, _EMB_DIM)
    rows = memo_rows("pqbooks", params, [(sf_dir, "embeddings")], train)
    return spark.createDataFrame(rows, "sub int, cid long, c_svec array<long>")


def q_emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of the embeddings table
    (operators/quantization.py): deterministic sub-space codebooks
    (exact floor-div Lloyd per dim/m slice) + per-(vector, subspace)
    nearest-centroid codes. Exploded (vec_id, sub, code) — the
    at-rest columnar layout and the shape ADC joins on, served FROM
    the materialized IVF-PQ code index (the codes on disk ARE
    pq_encode's output, parquet round-trips ints exactly, and the
    at-rest read is the production shape — encode once, scan many).
    Integer-exact end to end, so the oracle replays training AND
    assignment."""
    path, _cents, _books = _ivf_pq_index_for(spark, sf_dir)
    return spark.read.parquet(path).select("vec_id", "sub", "code")


def q_emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance: per-query LUT of
    sub-distances against the raw query slices (broadcast-tiny), codes
    join the LUT on (sub, code), per-(query, vector) integer sums,
    per-query rank. The candidate scan reads CODES from the at-rest
    index — never the vector column, the 100 TB read-volume win PQ
    exists for. This is the FLAT (exhaustive) ADC scan; emb_ivf_pq_topk
    is the composed cell-pruned variant over the same index."""
    path, _cents, books = _ivf_pq_index_for(spark, sf_dir)
    codes = spark.read.parquet(path).select("vec_id", "sub", "code")
    queries, _ = _queries_vecs(spark, sf_dir)
    return qz.pq_adc_topk(
        codes, books, queries, k=_TOPK_K, m=_PQ_M, dim=_EMB_DIM
    )


def _sq8_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 per-dim codebook ``(dim, vmin, step)``, memoized as
    COLLECTED rows (64 rows — the _kmeans_centroids boundary): the flat
    code table and the IVF-SQ8 index both encode against it, and the
    top-k probes broadcast it."""

    def train() -> list:
        stats = qz.sq8_train(_emb_parallel(spark, sf_dir), dim=_EMB_DIM)
        return [(r.dim, r.vmin, r.step) for r in stats.collect()]

    rows = memo_rows("sq8stats", (_EMB_DIM,), [(sf_dir, "embeddings")], train)
    return spark.createDataFrame(rows, "dim int, vmin bigint, step bigint")


def _sq8_for(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(stats, codes) for the FLAT SQ8 tier, shared by emb_sq8_codes
    and emb_sq8_topk (each previously re-ran train + encode): the
    _sq8_stats codebook and the code table, materialized to parquet
    once per process (caching.materialize). Ints round-trip parquet
    exactly."""
    stats = _sq8_stats(spark, sf_dir)
    path = materialize(
        "sq8codes", (_EMB_DIM,), [(sf_dir, "embeddings")],
        lambda path: qz.sq8_encode(_emb_parallel(spark, sf_dir), stats, dim=_EMB_DIM)
        .write.mode("overwrite").parquet(path),
    )
    return stats, spark.read.parquet(path)


def q_emb_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization (operators/quantization.py: sq8_train /
    sq8_encode): each element compresses to one byte against its
    dimension's observed range — the high-fidelity 4x tier beside
    PQ's 64x. Codebook = two aggregates (no RNG, no iteration);
    codes = one broadcast dim-row join, map-only. Integer-exact end
    to end on the 1e9 grid, so the oracle replays train AND encode.
    Served from the shared at-rest code materialization (_sq8_for)."""
    _stats, codes = _sq8_for(spark, sf_dir)
    return codes.select("vec_id", "dim", "code")


def q_emb_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k by SQ8 asymmetric distance (sq8_topk — the
    pq_adc_topk shape at sub=dim, ks=256, midpoint reconstruction):
    the candidate scan reads one-byte codes, never the vector column.
    Exact integer grid distances; oracle-replayable. Codes/stats come
    from the shared at-rest materialization (_sq8_for)."""
    stats, codes = _sq8_for(spark, sf_dir)
    queries, _ = _queries_vecs(spark, sf_dir)
    return qz.sq8_topk(codes, stats, queries, k=_TOPK_K, dim=_EMB_DIM)


def _sql_sq8_ctes() -> str:
    """Shared CTE chain: per-(vector, dim) grid values -> per-dim
    (vmin, step) codebook (ceil-div 255, floor 1) -> codes. Ends in
    ``sqenc`` (vec_id, dim, code) and ``sqstats`` (dim, vmin, step)."""
    d = _EMB_DIM
    return f"""sqsrc AS (
            SELECT vec_id, CAST(j.range AS INT) AS dim,
                   CAST(round(CAST(
                       embedding[CAST(j.range AS INT) + 1] AS DOUBLE)
                       * {_SCALE}) AS BIGINT) AS v
            FROM embeddings CROSS JOIN range({d}) j),
        sqstats AS (
            SELECT dim, MIN(v) AS vmin,
                   GREATEST((MAX(v) - MIN(v) + 254) // 255, 1) AS step
            FROM sqsrc GROUP BY dim),
        sqenc AS (
            SELECT s.vec_id, s.dim,
                   CAST(LEAST(GREATEST((s.v - t.vmin) // t.step, 0),
                              255) AS INT) AS code
            FROM sqsrc s JOIN sqstats t USING (dim))"""


def _sql_sq8_codes() -> str:
    return f"""WITH {_sql_sq8_ctes()}
        SELECT vec_id, dim, code FROM sqenc"""


def _sql_sq8_lut_ctes() -> str:
    """Query-side CTEs shared by the flat and IVF-composed SQ8
    oracles: ``sqlutbase`` (dim x 256 midpoint reconstructions),
    ``sqq`` (query grid values), ``sqlut`` (per-(query, dim, code)
    squared distance). Requires ``sqsrc``/``sqstats``."""
    return f"""sqlutbase AS (
            SELECT dim, CAST(c.range AS INT) AS code,
                   vmin + CAST(c.range AS INT) * step + step // 2
                       AS recon
            FROM sqstats CROSS JOIN range(256) c),
        sqq AS (SELECT vec_id AS qid, dim, v AS qv FROM sqsrc
                WHERE vec_id < {_TOPK_NQ}),
        sqlut AS (
            SELECT q.qid, l.dim, l.code,
                   (CAST(q.qv AS HUGEINT) - CAST(l.recon AS HUGEINT))
                   * (CAST(q.qv AS HUGEINT) - CAST(l.recon AS HUGEINT))
                       AS sd
            FROM sqq q JOIN sqlutbase l USING (dim))"""


def _sql_sq8_topk() -> str:
    return f"""WITH {_sql_sq8_ctes()},
        {_sql_sq8_lut_ctes()},
        sqdists AS (
            -- BIGINT cast: the dim-term total is the full-vector
            -- squared grid distance to the reconstruction, inside the
            -- unit-norm ledger; Spark emits bigint — match.
            SELECT l.qid, e.vec_id,
                   CAST(SUM(l.sd) AS BIGINT) AS sq_dist
            FROM sqenc e JOIN sqlut l
                 ON l.dim = e.dim AND l.code = e.code
            GROUP BY 1, 2)
        SELECT qid, vec_id, sq_dist, rank FROM (
            SELECT qid, vec_id, sq_dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid
                       ORDER BY sq_dist, vec_id) AS rank
            FROM sqdists)
        WHERE rank <= {_TOPK_K}"""


def _sql_pq_ctes() -> str:
    """Shared CTE chain: per-subspace sliced sources -> m exact Lloyd
    chains (the SAME _sql_kmeans_chain builder the full-space queries
    replay, at dim/m and prefix pq{j}) -> unioned codebooks -> scaled
    corpus sub-slices -> per-(vector, sub) argmin codes. Ends in
    ``pqenc`` (vec_id, sub, code) and ``pqbooks`` (sub, cid, c_svec)."""
    m, ks, it, dim = _PQ_M, _PQ_KS, _PQ_ITERS, _EMB_DIM
    d = dim // m
    chains = []
    books = []
    for j in range(m):
        chains.append(
            f"""pq{j}src AS (
            SELECT vec_id,
                   list_slice(embedding, {j * d + 1}, {(j + 1) * d})
                       AS embedding
            FROM embeddings)"""
        )
        chains.append(
            _sql_kmeans_chain(
                it, src=f"pq{j}src", dim=d, k=ks, prefix=f"pq{j}"
            )
        )
        books.append(
            f"SELECT {j} AS sub, cid, c_svec FROM pq{j}cents{it}"
        )
    l2 = (
        "list_sum(list_transform(list_zip(s.svec, b.c_svec),"
        " p -> (CAST(p[1] AS HUGEINT) - CAST(p[2] AS HUGEINT))"
        " * (CAST(p[1] AS HUGEINT) - CAST(p[2] AS HUGEINT))))"
    )
    return (
        ",\n        ".join(chains)
        + f""",
        pqbooks AS ({" UNION ALL ".join(books)}),
        pqsub AS (
            SELECT vec_id, CAST(j.range AS INT) AS sub,
                   list_transform(
                       list_slice(embedding,
                                  CAST(j.range AS INT) * {d} + 1,
                                  (CAST(j.range AS INT) + 1) * {d}),
                       x -> CAST(round(CAST(x AS DOUBLE) * {_SCALE})
                                 AS BIGINT)) AS svec
            FROM embeddings CROSS JOIN range({m}) j),
        pqenc AS (
            SELECT vec_id, sub, cid AS code FROM (
                SELECT s.vec_id, s.sub, b.cid, {l2} AS dist
                FROM pqsub s JOIN pqbooks b USING (sub))
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY vec_id, sub ORDER BY dist, cid) = 1)"""
    )


def _sql_pq_codes() -> str:
    return f"""WITH {_sql_pq_ctes()}
        SELECT vec_id, sub, code FROM pqenc"""


def _sql_pq_lut_ctes() -> str:
    """Query-side CTEs shared by the flat-ADC and IVF-PQ oracles:
    ``pqq`` (the _TOPK_NQ query vectors), ``pqqsub`` (their scaled
    dim/m sub-slices), ``pqlut`` (per-(query, sub, code) integer
    squared sub-distance against the unioned codebooks)."""
    m, dim = _PQ_M, _EMB_DIM
    d = dim // m
    l2 = (
        "list_sum(list_transform(list_zip(s.svec, b.c_svec),"
        " p -> (CAST(p[1] AS HUGEINT) - CAST(p[2] AS HUGEINT))"
        " * (CAST(p[1] AS HUGEINT) - CAST(p[2] AS HUGEINT))))"
    )
    return f"""pqq AS (SELECT vec_id AS qid, embedding FROM embeddings
                WHERE vec_id < {_TOPK_NQ}),
        pqqsub AS (
            SELECT qid, CAST(j.range AS INT) AS sub,
                   list_transform(
                       list_slice(embedding,
                                  CAST(j.range AS INT) * {d} + 1,
                                  (CAST(j.range AS INT) + 1) * {d}),
                       x -> CAST(round(CAST(x AS DOUBLE) * {_SCALE})
                                 AS BIGINT)) AS svec
            FROM pqq CROSS JOIN range({m}) j),
        pqlut AS (
            SELECT s.qid, s.sub, b.cid AS code, {l2} AS dist
            FROM pqqsub s JOIN pqbooks b USING (sub))"""


def _sql_pq_adc_topk() -> str:
    return f"""WITH {_sql_pq_ctes()},
        {_sql_pq_lut_ctes()},
        pqdists AS (
            -- BIGINT cast: the m-sub total is the full-vector squared
            -- grid distance, <= 4e18 under the unit-norm ledger, and
            -- the Spark side emits bigint — match representations so
            -- the driver's value hash compares int to int.
            SELECT l.qid, e.vec_id,
                   CAST(SUM(l.dist) AS BIGINT) AS adc_dist
            FROM pqenc e JOIN pqlut l
                 ON l.sub = e.sub AND l.code = e.code
            GROUP BY 1, 2)
        SELECT qid, vec_id, adc_dist, rank FROM (
            SELECT qid, vec_id, adc_dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid
                       ORDER BY adc_dist, vec_id) AS rank
            FROM pqdists)
        WHERE rank <= {_TOPK_K}"""


def _ivf_pq_index_for(
    spark: SparkSession, sf_dir: str
) -> tuple[str, DataFrame, DataFrame]:
    """Path of the materialized IVF-PQ index (codes partitioned by
    k-means cell, no vector column at rest) plus the trained centroid
    and codebook frames. Reuses the k-means index's full-dim centroids
    (_kmeans_centroids) and the PQ sub-codebooks (_pq_codebooks), both
    memoized collected rows — both are broadcast into every probe, and
    an unmaterialized training plan would re-run Lloyd per query
    invocation."""
    cents = _kmeans_centroids(spark, sf_dir)
    books_df = _pq_codebooks(spark, sf_dir)
    params = (_KMEANS_K, _KMEANS_ITERS, _PQ_M, _PQ_KS, _PQ_ITERS, _EMB_DIM)
    path = materialize(
        "ivfpq", params, [(sf_dir, "embeddings")],
        lambda path: qz.ivf_pq_write(
            _emb_parallel(spark, sf_dir), cents, books_df, path,
            m=_PQ_M, dim=_EMB_DIM,
        ),
    )
    return path, cents, books_df


def q_emb_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ recipe (Jégou et al. 2011), composed from the
    two proven halves: k-means cell pruning (each query probes its
    _KMEANS_PROBES nearest trained centroids through a dynamic-
    partition-pruned scan of the at-rest code index) and ADC ranking
    within the probed cells. The probed scan reads 4-byte codes, not
    256-byte vectors — both the read-volume cut AND the candidate cut
    at once. Integer-exact end to end: the oracle replays cell
    training, assignment, probe selection, sub-codebook training,
    encoding, and the ADC sums."""
    path, cents, books = _ivf_pq_index_for(spark, sf_dir)
    queries, _ = _queries_vecs(spark, sf_dir)
    return qz.ivf_pq_topk(
        spark,
        path,
        books,
        queries,
        cents,
        k=_TOPK_K,
        probes=_KMEANS_PROBES,
        m=_PQ_M,
        dim=_EMB_DIM,
    )


def _sql_ivf_pq_core() -> str:
    # cells = assignment against the FINAL trained centroids: asg{N+1}
    # in a chain extended one stage (same convention as the ivf_kmeans
    # oracle); PQ codes/LUT from the shared PQ CTE builders. Ends in
    # ``pqdists`` (qid, vec_id, adc_dist) over the probed cells —
    # shared by the ADC-ranked and exact-reranked query variants.
    n1 = _KMEANS_ITERS + 1
    return f"""{_sql_kmeans_chain(n1)},
        {_sql_pq_ctes()},
        {_sql_pq_lut_ctes()},
        ivfqd AS (
            SELECT q.vec_id AS qid, s.cid,
                   list_sum(list_transform(list_zip(q.svec, s.c_svec),
                       p -> (CAST(p[1] AS HUGEINT) - CAST(p[2] AS HUGEINT))
                            * (CAST(p[1] AS HUGEINT)
                               - CAST(p[2] AS HUGEINT)))) AS dist
            FROM c q CROSS JOIN cents{_KMEANS_ITERS} s
            WHERE q.vec_id < {_TOPK_NQ}),
        probe AS (
            SELECT qid, cid FROM ivfqd
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY qid ORDER BY dist, cid)
                <= {_KMEANS_PROBES}),
        cand AS (
            SELECT p.qid, a.vec_id
            FROM probe p JOIN asg{n1} a ON a.cid = p.cid),
        pqdists AS (
            SELECT cd.qid, e.vec_id,
                   CAST(SUM(l.dist) AS BIGINT) AS adc_dist
            FROM cand cd
            JOIN pqenc e ON e.vec_id = cd.vec_id
            JOIN pqlut l ON l.qid = cd.qid AND l.sub = e.sub
                        AND l.code = e.code
            GROUP BY 1, 2)"""


def _sql_ivf_pq_topk() -> str:
    return f"""WITH {_sql_ivf_pq_core()}
        SELECT qid, vec_id, adc_dist, rank FROM (
            SELECT qid, vec_id, adc_dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid
                       ORDER BY adc_dist, vec_id) AS rank
            FROM pqdists)
        WHERE rank <= {_TOPK_K}"""


def _ivf_sq8_index_for(spark: SparkSession, sf_dir: str) -> tuple[str, DataFrame, DataFrame]:
    """Path of the materialized IVF-SQ8 index (SQ8 codes partitioned
    by k-means cell, no vector column at rest) plus the centroid and
    per-dim stats frames. Centroids are the k-means index's
    (_kmeans_centroids) and the stats the flat tier's (_sq8_stats),
    both memoized collected rows, so the at-rest codes always match
    the codebook the probes broadcast."""
    cents = _kmeans_centroids(spark, sf_dir)
    stats = _sq8_stats(spark, sf_dir)
    path = materialize(
        "ivfsq8", (_KMEANS_K, _KMEANS_ITERS, _EMB_DIM), [(sf_dir, "embeddings")],
        lambda path: qz.ivf_sq8_write(
            _emb_parallel(spark, sf_dir), cents, stats, path,
            dim=_EMB_DIM,
        ),
    )
    return path, cents, stats


def q_emb_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8: the cell-pruned composition at the high-fidelity
    quantization tier (operators/quantization.py: ivf_sq8_topk) —
    k-means probe selection through a DPP-pruned scan of the at-rest
    SQ8 code index, midpoint-reconstruction asymmetric distance within
    the probed cells. The measured best-of-both config on this
    embedding family: SQ8's 0.963 flat recall with IVF's probes/k scan
    cut (SCALE_MEASURED.json ann_recall_quantized). Integer-exact end
    to end; the oracle replays training, assignment, probing, the
    affine codebook, encoding, and the distance sums."""
    path, cents, stats = _ivf_sq8_index_for(spark, sf_dir)
    queries, _ = _queries_vecs(spark, sf_dir)
    return qz.ivf_sq8_topk(
        spark, path, stats, queries, cents,
        k=_TOPK_K, probes=_KMEANS_PROBES, dim=_EMB_DIM,
    )


def _sql_ivf_sq8_topk() -> str:
    n1 = _KMEANS_ITERS + 1
    return f"""WITH {_sql_kmeans_chain(n1)},
        {_sql_sq8_ctes()},
        {_sql_sq8_lut_ctes()},
        ivfqd AS (
            SELECT q.vec_id AS qid, s.cid,
                   list_sum(list_transform(list_zip(q.svec, s.c_svec),
                       p -> (CAST(p[1] AS HUGEINT) - CAST(p[2] AS HUGEINT))
                            * (CAST(p[1] AS HUGEINT)
                               - CAST(p[2] AS HUGEINT)))) AS dist
            FROM c q CROSS JOIN cents{_KMEANS_ITERS} s
            WHERE q.vec_id < {_TOPK_NQ}),
        probe AS (
            SELECT qid, cid FROM ivfqd
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY qid ORDER BY dist, cid)
                <= {_KMEANS_PROBES}),
        cand AS (
            SELECT p.qid, a.vec_id
            FROM probe p JOIN asg{n1} a ON a.cid = p.cid),
        sq8dists AS (
            SELECT cd.qid, e.vec_id,
                   CAST(SUM(l.sd) AS BIGINT) AS sq_dist
            FROM cand cd
            JOIN sqenc e ON e.vec_id = cd.vec_id
            JOIN sqlut l ON l.qid = cd.qid AND l.dim = e.dim
                        AND l.code = e.code
            GROUP BY 1, 2)
        SELECT qid, vec_id, sq_dist, rank FROM (
            SELECT qid, vec_id, sq_dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY qid
                       ORDER BY sq_dist, vec_id) AS rank
            FROM sq8dists)
        WHERE rank <= {_TOPK_K}"""


def _sql_ivf_pq_rerank_topk() -> str:
    sq = "x -> CAST(x AS HUGEINT) * CAST(x AS HUGEINT)"
    return f"""WITH {_sql_ivf_pq_core()},
        adccand AS (
            SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qid
                           ORDER BY adc_dist, vec_id) AS rank
                FROM pqdists)
            WHERE rank <= {_PQ_RERANK_CANDS}),
        rpairs AS (
            SELECT a.qid, a.vec_id,
                   list_sum(list_transform(list_zip(q.svec, x.svec),
                       z -> CAST(z[1] AS HUGEINT)
                            * CAST(z[2] AS HUGEINT))) AS dot,
                   list_sum(list_transform(q.svec, {sq})) AS qn,
                   list_sum(list_transform(x.svec, {sq})) AS en
            FROM adccand a
            JOIN c q ON q.vec_id = a.qid
            JOIN c x ON x.vec_id = a.vec_id),
        rscored AS (
            SELECT qid, vec_id,
                   CAST(dot AS DOUBLE)
                       / (sqrt(CAST(qn AS DOUBLE))
                          * sqrt(CAST(en AS DOUBLE))) AS cosine
            FROM rpairs)
        SELECT qid, vec_id, cosine, rank FROM (
            SELECT qid, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY qid
                       ORDER BY cosine DESC, vec_id) AS BIGINT)
                       AS rank
            FROM rscored)
        WHERE rank <= {_TOPK_K}"""


def q_emb_ivf_pq_rerank_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-stage IVF-PQ retrieval (operators/quantization.py:
    ivf_pq_rerank_topk): ADC recalls _PQ_RERANK_CANDS ids per query
    from the DPP-pruned code index, then ONLY those candidates' raw
    vectors are fetched and re-ranked by exact cosine — the
    production recipe where PQ caps read volume and the exact stage
    restores precision. Fully deterministic, oracle-replayable."""
    path, cents, books = _ivf_pq_index_for(spark, sf_dir)
    queries, emb = _queries_vecs(spark, sf_dir)
    return qz.ivf_pq_rerank_topk(
        spark,
        path,
        books,
        queries,
        cents,
        emb,
        k=_TOPK_K,
        candidates=_PQ_RERANK_CANDS,
        probes=_KMEANS_PROBES,
        m=_PQ_M,
        dim=_EMB_DIM,
    )


def q_emb_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN against the LEARNED-centroid IVF index (the real IVF:
    k-means cells, not hyperplane luck): corpus partitioned on disk by
    nearest trained centroid, each query probing its _KMEANS_PROBES
    nearest cells (classic nprobe) through a dynamic-partition-pruned
    scan. Exact cosine within the probed cells; the oracle replays
    training, assignment, probe selection, and scoring in SQL."""
    path, cents = _ivf_kmeans_index_for(spark, sf_dir)
    queries, _ = _queries_vecs(spark, sf_dir)
    return sim.ivf_kmeans_topk(
        spark, path, queries, cents, k=_TOPK_K, probes=_KMEANS_PROBES
    )


def _sql_ivf_kmeans_topk() -> str:
    # index cells = assignment against the FINAL trained centroids
    # (cents{N}) — that is asg{N+1} in a chain extended one stage
    n1 = _KMEANS_ITERS + 1
    sq = "x -> CAST(x AS HUGEINT) * CAST(x AS HUGEINT)"
    return f"""WITH {_sql_kmeans_chain(n1)},
        q AS (SELECT vec_id AS qid, svec AS q_svec FROM c
              WHERE vec_id < {_TOPK_NQ}),
        qd AS (
            SELECT q.qid, s.cid,
                   list_sum(list_transform(list_zip(q.q_svec, s.c_svec),
                       p -> (CAST(p[1] AS HUGEINT) - CAST(p[2] AS HUGEINT))
                            * (CAST(p[1] AS HUGEINT)
                               - CAST(p[2] AS HUGEINT)))) AS dist
            FROM q CROSS JOIN cents{_KMEANS_ITERS} s),
        probe AS (
            SELECT qid, cid FROM qd
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY qid ORDER BY dist, cid) <= {_KMEANS_PROBES}),
        pairs AS (
            SELECT p.qid, a.vec_id,
                   list_sum(list_transform(list_zip(q.q_svec, a.svec),
                       z -> CAST(z[1] AS HUGEINT) * CAST(z[2] AS HUGEINT)))
                       AS dot,
                   list_sum(list_transform(q.q_svec, {sq})) AS qn,
                   list_sum(list_transform(a.svec, {sq})) AS en
            FROM probe p
            JOIN q ON q.qid = p.qid
            JOIN asg{n1} a ON a.cid = p.cid),
        scored AS (
            SELECT qid, vec_id,
                   CAST(dot AS DOUBLE)
                       / (sqrt(CAST(qn AS DOUBLE))
                          * sqrt(CAST(en AS DOUBLE))) AS cosine
            FROM pairs),
        ranked AS (
            SELECT qid, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY cosine DESC, vec_id)
                       AS BIGINT) AS rank
            FROM scored)
        SELECT qid, vec_id, cosine, rank FROM ranked
        WHERE rank <= {_TOPK_K}"""


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.col("text").cast("binary").alias("content"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: mapInPandas fake-decode over binary columns;
    the oracle replays the md5-derived pseudo-metadata in SQL."""
    media = _media_df(spark, sf_dir)
    return mm.decode_media(media, mode="fake").select(
        "media_id", "kind", "n_bytes", "width", "height", "duration_ms"
    )


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_df(spark, sf_dir)
    return mm.frame_sample(media, every_ms=1000, mode="fake")


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize directive attached as plan metadata (consumed by the decode
    stage in one pass at scale); surfaced as a scalar column for the
    harness (map columns are unhashable in the canonicalizer)."""
    media = _media_df(spark, sf_dir)
    planned = mm.resize_plan(media, 224, 224)
    return planned.select(
        "media_id",
        "kind",
        F.element_at(F.col("meta"), "resize").alias("resize"),
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

LLM_REGISTRY: dict[str, QueryDef] = {
    "doc_profile": QueryDef(
        q_doc_profile,
        f"""SELECT doc_id,
                   {_SQL_N_TOKENS_WS} AS n_tokens_ws,
                   {_SQL_N_TOKENS_LEX} AS n_tokens_lex,
                   {_SQL_N_ALPHA} AS n_alpha,
                   {_SQL_N_DIGIT} AS n_digit,
                   {_SQL_N_PUNCT} AS n_punct,
                   {_sql_lang_id()} AS lang_guess,
                   {_sql_quality()} AS quality,
                   md5({_NORM}) AS fp
            FROM documents""",
        ("documents",),
        "text analysis: tokens, char classes, lang-ID, quality, fingerprint",
    ),
    "doc_lang_summary": QueryDef(
        q_doc_lang_summary,
        f"""SELECT {_sql_lang_id()} AS lang_guess,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY 1""",
        ("documents",),
        "language distribution over the heuristic lang-ID",
    ),
    "corpus_prep_summary": QueryDef(
        q_corpus_prep_summary,
        f"""WITH prof AS (
                SELECT {_sql_lang_id()} AS lang,
                       {_SQL_N_TOKENS_WS} AS n_tokens,
                       ({_sql_quality()}) AS quality,
                       md5({_NORM}) AS fp
                FROM documents),
            kept AS (
                SELECT * FROM prof
                WHERE quality >= {_QUALITY_KEEP} AND lang <> 'unknown'),
            groups AS (
                SELECT fp, MIN(lang) AS lang, MIN(n_tokens) AS n_tokens,
                       MIN(quality) AS quality, COUNT(*) AS n_copies
                FROM kept GROUP BY fp)
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(n_copies) AS BIGINT) AS n_raw,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(quality) AS avg_quality
            FROM groups GROUP BY lang""",
        ("documents",),
        "composed prep pipeline: gate -> dedup -> corpus stats",
    ),
    "corpus_curation_pipeline": QueryDef(
        q_corpus_curation_pipeline,
        _sql_curation_pipeline(),
        ("documents",),
        "sequential curation: gate -> dedup -> clusters -> semantic "
        "(auto 1l/2l by survivor count) -> decontam -> sample -> pack",
    ),
    "corpus_curation_pipeline_2l": QueryDef(
        q_corpus_curation_pipeline_2l,
        _sql_curation_2l_attest(),
        ("documents",),
        "the pipeline's 2l semantic branch attested over the shared "
        "stage-9 survivor materialization (post-stage-10 survivors)",
    ),
    "doc_dedup_exact": QueryDef(
        q_doc_dedup_exact,
        f"""SELECT doc_id, md5({_NORM}) AS content_hash,
                   MIN(doc_id) OVER (PARTITION BY md5({_NORM}))
                       AS canonical_id,
                   doc_id = MIN(doc_id) OVER (PARTITION BY md5({_NORM}))
                       AS is_canonical
            FROM documents""",
        ("documents",),
        "exact dedup by canonical content hash",
    ),
    "doc_minhash_signatures": QueryDef(
        q_doc_minhash_signatures,
        _sql_minhash_sig(),
        ("documents",),
        "16-permutation MinHash signatures",
    ),
    "doc_lsh_pairs": QueryDef(
        q_doc_lsh_pairs,
        _sql_lsh_pairs(),
        ("documents",),
        "MinHash-LSH candidate pairs (4 bands x 4 rows)",
    ),
    "doc_jaccard_pairs": QueryDef(
        q_doc_jaccard_pairs,
        _sql_jaccard_pairs(),
        ("documents",),
        "rare-shingle (df<=50) exact Jaccard pairs >= 0.5",
    ),
    "doc_lsh_verified_pairs": QueryDef(
        q_doc_lsh_verified_pairs,
        _sql_lsh_verified(),
        ("documents",),
        "LSH candidates + exact Jaccard verify (scale composition)",
    ),
    "doc_lsh_verified_pairs_knee": QueryDef(
        q_doc_lsh_verified_pairs_knee,
        _sql_lsh_verified(_KNEE_NUM_HASHES, _KNEE_BANDS),
        ("documents",),
        "verified dedup at the measured S-curve knee (K48/b8/r6: 12x "
        "fewer candidates, higher recall)",
    ),
    "doc_chunks": QueryDef(
        q_doc_chunks,
        _sql_doc_chunks(),
        ("documents",),
        "overlapping fixed-size context chunks (map-only explode)",
    ),
    "doc_incremental_dedup": QueryDef(
        q_doc_incremental_dedup,
        _sql_incremental_dedup(),
        ("documents",),
        "incremental dedup: new batch vs existing corpus (asymmetric LSH)",
    ),
    "doc_dedup_clusters": QueryDef(
        q_doc_dedup_clusters,
        _sql_dedup_clusters(),
        ("documents",),
        "near-dup clustering: connected components over verified pairs",
    ),
    "doc_seq_pack": QueryDef(
        q_doc_seq_pack,
        _sql_seq_pack(),
        ("documents",),
        "concatenate-and-chunk sequence packing (bucketed prefix sum)",
    ),
    "doc_pack_manifest": QueryDef(
        q_doc_pack_manifest,
        _sql_pack_manifest(),
        ("documents",),
        "per-sequence packing manifest (doc counts, fill, tail check)",
    ),
    "doc_tfidf_top_terms": QueryDef(
        q_doc_tfidf_top_terms,
        _sql_tfidf(),
        ("documents",),
        "top-3 tf-idf terms per doc (rational idf, ln-identical ranking)",
    ),
    "doc_vocab_top": QueryDef(
        q_doc_vocab_top,
        _sql_vocab(),
        ("documents",),
        "corpus vocabulary head: top-200 tokens with doc frequencies",
    ),
    "doc_bm25_topk": QueryDef(
        q_doc_bm25_topk,
        _sql_bm25(),
        ("documents",),
        "BM25 top-10 docs per keyword query (Lucene idf via integer "
        "fixed-point log2 — transcendental-free hash contract, "
        "two-phase top-k)",
    ),
    "doc_stratified_sample": QueryDef(
        q_doc_stratified_sample,
        _sql_stratified_sample(),
        ("documents",),
        "deterministic hash-stratified sampling at per-language rates",
    ),
    "doc_temperature_mix": QueryDef(
        q_doc_temperature_mix,
        _sql_temperature_mix(),
        ("documents",),
        "temperature mixture sampling (alpha=0.5): rates "
        "(n_min/n)^0.5 flatten strata toward the rarest; count agg + "
        "broadcast rates + map-only hash filter",
    ),
    "doc_dsir_weights": QueryDef(
        q_doc_dsir_weights,
        _sql_dsir_weights(),
        ("documents",),
        "DSIR importance weights (hashed-ngram LLR, int64 fixed-point "
        "log2 grid — no libm): explode + map-side-combined groupBy + "
        "broadcast lr join",
    ),
    "doc_dsir_sample": QueryDef(
        q_doc_dsir_sample,
        _sql_dsir_sample(),
        ("documents",),
        "DSIR importance resampling: Gumbel-top-k (hash-derived noise) "
        "over the weights, k=ceil(frac*n), exact-rank oracle parity",
    ),
    "doc_dsir_sample_cutoff": QueryDef(
        q_doc_dsir_sample_cutoff,
        None,  # GK sketch is engine-specific; band asserted in tests
        ("documents",),
        "DSIR selection via approx-percentile cutoff (scale default): "
        "bounded verdict vs the exact-rank variant",
    ),
    "doc_gopher_rules": QueryDef(
        q_doc_gopher_rules,
        _sql_gopher_rules(),
        ("documents",),
        "full Gopher quality-rule battery: per-rule booleans + keep",
    ),
    "doc_quality_screen": QueryDef(
        q_doc_quality_screen,
        _sql_quality_screen(),
        ("documents",),
        "composed quality verdict: Gopher battery AND ppl head/middle",
    ),
    "doc_lm_ppl": QueryDef(
        q_doc_lm_ppl,
        _sql_lm_ppl(),
        ("documents",),
        "CCNet-style LM quality score: mean NLL/bigram (base 2) under "
        "a hashed-bigram target LM, int64 fixed-point grid — no libm",
    ),
    "doc_lm_ppl_external": QueryDef(
        q_doc_lm_ppl_external,
        _sql_lm_ppl_external(),
        ("documents",),
        "CCNet LM scoring with an EXTERNAL trusted-corpus LM: "
        "held-out 'en' shard trains, disjoint remainder is scored",
    ),
    "doc_ppl_buckets": QueryDef(
        q_doc_ppl_buckets,
        _sql_ppl_buckets(),
        ("documents",),
        "CCNet head/middle/tail perplexity split via exact terciles",
    ),
    "doc_mix_report": QueryDef(
        q_doc_mix_report,
        _sql_mix_report(),
        ("documents",),
        "corpus mix dashboard: per-stratum doc/token counts + fractions",
    ),
    "doc_quality_histogram": QueryDef(
        q_doc_quality_histogram,
        _sql_quality_histogram(),
        ("documents",),
        "quality-score distribution per language (fixed-width bins)",
    ),
    "doc_contamination": QueryDef(
        q_doc_contamination,
        _sql_contamination(),
        ("documents",),
        "train/eval n-gram contamination audit (probe x corpus overlap)",
    ),
    "doc_winnow_fps": QueryDef(
        q_doc_winnow_fps,
        _sql_winnow(),
        ("documents",),
        "winnowing fingerprints (rolling k-gram hash, min-per-window)",
    ),
    "doc_simhash": QueryDef(
        q_doc_simhash,
        _sql_simhash(),
        ("documents",),
        "32-bit SimHash fingerprints",
    ),
    "doc_simhash_pairs": QueryDef(
        q_doc_simhash_pairs,
        _sql_simhash_pairs(),
        ("documents",),
        "SimHash near-dup pairs (banded + Hamming verify)",
    ),
    "emb_cosine_topk": QueryDef(
        q_emb_cosine_topk,
        _sql_cosine_topk(),
        ("embeddings",),
        "exact brute-force cosine top-10 for 8 query vectors",
    ),
    "emb_near_dup": QueryDef(
        q_emb_near_dup,
        _sql_near_dup_pairs(),
        ("embeddings",),
        "label-blocked exact cosine near-dup pairs >= threshold",
    ),
    "emb_near_dup_lsh": QueryDef(
        q_emb_near_dup_lsh,
        _sql_near_dup_lsh_pairs(),
        ("embeddings",),
        "hyperplane-LSH near-dup (scale path)",
    ),
    "emb_dedup_clusters": QueryDef(
        q_emb_dedup_clusters,
        _sql_emb_dedup_clusters(),
        ("embeddings",),
        "embedding-space dedup clustering (near-dup CC, min-id canonical)",
    ),
    "emb_ann_lsh_topk": QueryDef(
        q_emb_ann_lsh_topk,
        _sql_ann_lsh_topk(),
        ("embeddings",),
        "LSH-bucketed approximate top-k",
    ),
    "emb_ivf_topk": QueryDef(
        q_emb_ivf_topk,
        _sql_ann_lsh_topk(),  # probes=1 == ann_lsh_topk by construction
        ("embeddings",),
        "IVF at-rest ANN: partitioned index + partition-pruned probe",
    ),
    "emb_ivf_topk_probes2": QueryDef(
        q_emb_ivf_topk_probes2,
        _sql_ivf_topk_probes2(),  # margin-ordered probe list replayed
        ("embeddings",),
        "multi-probe IVF ANN: own bucket + least-margin plane flip",
    ),
    "emb_kmeans_step": QueryDef(
        q_emb_kmeans_step,
        _sql_kmeans_step(),
        ("embeddings",),
        "IVF training: one exact Lloyd iteration (integer L2 argmin)",
    ),
    "doc_pii_scrub": QueryDef(
        q_doc_pii_scrub,
        _sql_doc_pii_scrub(),
        ("documents",),
        "PII redaction (email/phone/IPv4 -> typed tokens) with per-kind "
        "audit counts; map-only regex",
    ),
    "doc_embed_hash": QueryDef(
        q_doc_embed_hash,
        _sql_doc_embed_hash(),
        ("documents",),
        "hashing-trick text embedding: word n-grams -> signed buckets, "
        "L2-normalized; one hash shuffle, the text->embedding bridge; "
        "attested exploded to (doc_id, dim_index, value) scalar cells",
    ),
    "doc_semantic_dedup": QueryDef(
        q_doc_semantic_dedup,
        _sql_doc_semantic_dedup(),
        ("documents",),
        "semantic dedup end-to-end: hash embedding -> cosine near-dup "
        "(theta=0.9) -> connected components -> representatives",
    ),
    "doc_semantic_dedup_2l": QueryDef(
        q_doc_semantic_dedup_2l,
        _sql_doc_semantic_dedup_2l(),
        ("documents",),
        "two-level (product-blocked) semantic dedup: two independent "
        "cbrt(n)-cell clusterings, pairs must share BOTH cells — "
        "O(n^4/3), the sub-n^1.5 scale path",
    ),
    "doc_repetition": QueryDef(
        q_doc_repetition,
        _sql_doc_repetition(),
        ("documents",),
        "Gopher repetition signals: dup-word / top-bigram / dup-trigram "
        "fractions; tagged n-gram explode, two combined shuffles",
    ),
    "emb_kmeans_train": QueryDef(
        q_emb_kmeans_train,
        _sql_kmeans_train(),
        ("embeddings",),
        "full fixed-iteration Lloyd training, floor-div re-quantized "
        "centroids replayed as chained oracle CTEs",
    ),
    "emb_pq_codes": QueryDef(
        q_emb_pq_codes,
        _sql_pq_codes(),
        ("embeddings",),
        "product-quantization codes: m deterministic sub-space "
        "codebooks + per-(vector, sub) argmin — integer-exact replay",
    ),
    "emb_pq_adc_topk": QueryDef(
        q_emb_pq_adc_topk,
        _sql_pq_adc_topk(),
        ("embeddings",),
        "PQ asymmetric-distance top-k: broadcast per-query LUT over "
        "codes — the scan never reads the vector column",
    ),
    "emb_sq8_codes": QueryDef(
        q_emb_sq8_codes,
        _sql_sq8_codes(),
        ("embeddings",),
        "SQ8 scalar quantization: per-dim 8-bit affine codes — the "
        "high-fidelity 4x tier beside PQ's 64x",
    ),
    "emb_sq8_topk": QueryDef(
        q_emb_sq8_topk,
        _sql_sq8_topk(),
        ("embeddings",),
        "SQ8 asymmetric-distance top-k over one-byte codes (midpoint "
        "reconstruction; never reads the vector column)",
    ),
    "emb_ivf_sq8_topk": QueryDef(
        q_emb_ivf_sq8_topk,
        _sql_ivf_sq8_topk(),
        ("embeddings",),
        "IVF-SQ8: cell-pruned (DPP) scan of the at-rest SQ8 code "
        "index + asymmetric distance within probed cells",
    ),
    "emb_ivf_pq_topk": QueryDef(
        q_emb_ivf_pq_topk,
        _sql_ivf_pq_topk(),
        ("embeddings",),
        "IVF-PQ: k-means cell pruning (nprobe, DPP-pruned at-rest "
        "code index) + ADC ranking within probed cells",
    ),
    "emb_ivf_pq_rerank_topk": QueryDef(
        q_emb_ivf_pq_rerank_topk,
        _sql_ivf_pq_rerank_topk(),
        ("embeddings",),
        "two-stage IVF-PQ: ADC candidate recall + exact-cosine "
        "re-rank of only the recalled vectors",
    ),
    "emb_ivf_kmeans_topk": QueryDef(
        q_emb_ivf_kmeans_topk,
        _sql_ivf_kmeans_topk(),
        ("embeddings",),
        "ANN over the learned-centroid IVF index: nprobe nearest cells, "
        "partition-pruned scan, exact cosine",
    ),
    "media_decode": QueryDef(
        q_media_decode,
        _sql_media_decode(),
        ("documents",),
        "multimodal binary-column decode via mapInPandas (fake codec)",
    ),
    "media_frame_sample": QueryDef(
        q_media_frame_sample,
        _sql_frame_sample(),
        ("documents",),
        "video frame sampling fan-out",
    ),
    "media_resize": QueryDef(
        q_media_resize,
        f"""WITH media AS ({_SQL_MEDIA})
            SELECT media_id, kind, '224x224' AS resize FROM media""",
        ("documents",),
        "resize directive attached as decode-stage plan metadata",
    ),
}
