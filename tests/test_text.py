"""Semantic unit tests for operators/text.py on hand-built edge cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from comp5339dataengineering_realtimefuelanalysis_spark.operators import text as tx


def one(spark, s):
    return spark.createDataFrame([(1, s)], "doc_id long, text string")


def val(spark, s, col):
    return one(spark, s).select(col.alias("v")).collect()[0].v


def test_token_count_ws_edges(spark):
    assert val(spark, "a  b\tc", tx.token_count_ws("text")) == 3
    assert val(spark, "", tx.token_count_ws("text")) == 0
    assert val(spark, "   ", tx.token_count_ws("text")) == 0
    assert val(spark, "one", tx.token_count_ws("text")) == 1


def test_token_count_regex(spark):
    assert val(spark, "ab 12 c!", tx.token_count_regex("text")) == 4
    assert val(spark, "don't", tx.token_count_regex("text")) == 3


def test_char_classes(spark):
    s = "ab1 2,c!"
    assert val(spark, s, tx.n_alpha("text")) == 3
    assert val(spark, s, tx.n_digit("text")) == 2
    assert val(spark, s, tx.n_punct("text")) == 2


def test_lang_id(spark):
    assert val(spark, "the cat and the dog is a pet", tx.lang_id("text")) == "en"
    assert val(spark, "le chat et les chiens des rues", tx.lang_id("text")) == "fr"
    assert val(spark, "der hund und die katze ist gut", tx.lang_id("text")) == "de"
    assert val(spark, "el perro de la casa que ladra", tx.lang_id("text")) == "es"
    assert val(spark, "这是中文文本", tx.lang_id("text")) == "zh"
    assert val(spark, "xyzzy qwerty", tx.lang_id("text")) == "unknown"


def test_fingerprint_whitespace_invariant(spark):
    a = val(spark, "Hello   world", tx.fingerprint("text"))
    b = val(spark, "hello world ", tx.fingerprint("text"))
    c = val(spark, "hello worlds", tx.fingerprint("text"))
    assert a == b
    assert a != c


def test_quality_score_bounds(spark):
    good = val(spark, "the quick brown fox jumps over the lazy dog", tx.quality_score("text"))
    junk = val(spark, "!!!! #### $$$$", tx.quality_score("text"))
    assert 0.0 <= junk < good <= 1.0


def test_corpus_prep_funnel(spark):
    """Composed prep pipeline: dedup funnel invariants hold and the gates
    actually gate (kept docs are a strict subset of the corpus)."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry import (
        REGISTRY,
    )

    sf = "/root/testdata/sf0.1"
    rows = REGISTRY["corpus_prep_summary"].fn(spark, sf).collect()
    assert rows, "pipeline must keep at least one language"
    total_raw = sum(r.n_raw for r in rows)
    for r in rows:
        assert r.lang != "unknown"
        assert r.n_raw >= r.n_docs > 0
        assert r.avg_quality >= 0.7
    n_corpus = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert 0 < total_raw < n_corpus


TERM_DOCS = [
    (1, "apple banana apple cherry"),
    (2, "banana banana date"),
    (3, "apple elderberry elderberry elderberry"),
]


def term_docs(spark):
    return spark.createDataFrame(TERM_DOCS, "doc_id long, text string")


def test_tfidf_top_terms_ranking_and_ties(spark):
    out = tx.tfidf_top_terms(term_docs(spark), k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term, r.score))
    # doc 2: banana tf=2 (df=2, idf=4/3), date tf=1 (df=1, idf=2)
    # banana 2*4/3=2.67 > date 2.0
    assert [t for _, t, _ in sorted(by_doc[2])] == ["banana", "date"]
    # doc 3: elderberry tf=3 df=1 -> 6.0 dominates apple 1*4/3
    assert sorted(by_doc[3])[0][1] == "elderberry"
    assert sorted(by_doc[3])[0][2] == 6.0
    # every doc emits exactly k=2 ranks 1..2
    assert all(sorted(r for r, _, _ in v) == [1, 2] for v in by_doc.values())


def test_vocab_top_counts_and_rank_tiebreak(spark):
    out = {r.term: (r.n_total, r.n_docs, r.rank) for r in
           tx.vocab_top(term_docs(spark), k=10).collect()}
    assert out["apple"] == (3, 2, 1)       # tie with banana -> alpha order
    assert out["banana"] == (3, 2, 2)
    assert out["elderberry"] == (3, 1, 3)  # tie -> after apple/banana
    assert out["cherry"][0] == 1 and out["date"][0] == 1


def test_stratified_sample_deterministic_and_nested(spark):
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import (
        stratified_sample,
    )

    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    lo = stratified_sample(df, "lang", {"en": 20, "fr": 40})
    hi = stratified_sample(df, "lang", {"en": 60, "fr": 80})
    lo_ids = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    # determinism: same call -> same set
    assert lo_ids == {r.doc_id for r in lo.collect()}
    # nesting: higher rates strictly contain lower rates
    assert lo_ids <= hi_ids
    # unlisted strata drop to default_pct=0
    none = stratified_sample(df, "lang", {"de": 50})
    assert none.count() == 0


def test_chunk_documents_invariants(spark):
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.text import (
        chunk_documents,
    )

    rows = [
        (1, "a" * 1000),   # multi-chunk with remainder
        (2, "b" * 512),    # exactly one full chunk
        (3, "c" * 100),    # shorter than one chunk
        (4, ""),           # empty -> no chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in chunk_documents(df, size=512, stride=384).collect():
        got.setdefault(r.doc_id, []).append(r)
    assert 4 not in got
    assert [r.chunk_start for r in sorted(got[1], key=lambda r: r.chunk_idx)] == [0, 384, 768]
    assert [r.chunk_len for r in sorted(got[1], key=lambda r: r.chunk_idx)] == [512, 512, 232]
    assert len(got[2]) == 1 and got[2][0].chunk_len == 512
    assert len(got[3]) == 1 and got[3][0].chunk_len == 100
    # every character covered: union of [start, start+len) == [0, len(text))
    for doc_id, text_len in ((1, 1000), (2, 512), (3, 100)):
        covered = set()
        for r in got[doc_id]:
            covered |= set(range(r.chunk_start, r.chunk_start + r.chunk_len))
        assert covered == set(range(text_len)), doc_id


def test_repetition_signals_cases(spark):
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.text import (
        repetition_signals,
    )

    rows = [
        (1, "a a a a"),          # maximal repetition
        (2, "w x y z"),          # fully unique
        (3, "one two"),          # too short for trigrams
        (4, ""),                 # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    # doc 1: words 4x'a' -> 1 - 1/4; bigrams ['a a']x3 all same -> 3/3;
    # trigrams ['a a a']x2 -> the single distinct trigram repeats -> 1.0
    assert abs(got[1].dup_word_frac - 0.75) < 1e-12
    assert abs(got[1].top_bigram_frac - 1.0) < 1e-12
    assert abs(got[1].dup_trigram_frac - 1.0) < 1e-12
    # doc 2: all distinct -> 0; top bigram 1 of 3; no repeated trigram
    assert got[2].dup_word_frac == 0.0
    assert abs(got[2].top_bigram_frac - 1.0 / 3.0) < 1e-12
    assert got[2].dup_trigram_frac == 0.0
    # doc 3: no trigrams -> 0.0 by contract
    assert got[3].dup_trigram_frac == 0.0
    assert abs(got[3].top_bigram_frac - 1.0) < 1e-12
    # doc 4: empty text -> one empty-string word -> all zeros
    assert (got[4].dup_word_frac, got[4].top_bigram_frac,
            got[4].dup_trigram_frac) == (0.0, 0.0, 0.0)


def test_embed_text_geometry_and_determinism(spark):
    import math

    from comp5339dataengineering_realtimefuelanalysis_spark.operators.text import (
        embed_text,
    )

    base = ("the quick brown fox jumps over the lazy dog near the old "
            "stone bridge at the edge of the quiet village every morning")
    near = base.replace("quiet", "sleepy")
    other = ("distributed query engines shuffle a hundred terabytes of "
             "shingled text through a thousand executors before breakfast "
             "and nobody notices the bill until monday")
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    vecs = {r.doc_id: r.embedding for r in embed_text(df).collect()}
    assert all(len(v) == 64 for v in vecs.values())
    for v in vecs.values():  # unit norm
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-6

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert cos(vecs[1], vecs[2]) > 0.9      # one-word edit stays close
    assert cos(vecs[1], vecs[3]) < 0.5      # unrelated text is far
    # bit-deterministic across independent evaluations
    again = {r.doc_id: r.embedding for r in embed_text(df).collect()}
    assert again == vecs


def test_embed_text_null_and_empty_text_keep_their_rows(spark):
    """NULL text must not vanish (the pre-coalesce bug: a NULL feature
    array exploded to zero rows); it carries the SAME deterministic
    vector as empty text (the empty-string-feature contract), which is
    nonzero and unit-norm."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real words here")],
        "doc_id long, text string",
    )
    vecs = {r.doc_id: r.embedding for r in tx.embed_text(df).collect()}
    assert set(vecs) == {1, 2, 3, 4}
    assert vecs[1] == vecs[2] == vecs[3]  # all normalize to one '' word
    assert any(x != 0.0 for x in vecs[1])
    import math

    assert abs(math.sqrt(sum(x * x for x in vecs[1])) - 1.0) < 1e-6
    assert vecs[4] != vecs[1]


def test_scrub_pii_redacts_and_counts(spark):
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.text import (
        scrub_pii,
    )

    rows = [
        (1, "mail me at jane.doe+spam@example.co.uk or call +61 2 9385 1234"),
        (2, "server at 192.168.0.1 and 10.0.0.255 responded"),
        (3, "no pii here, just text with numbers 42 and 7"),
        (4, "two mails: a@b.io c.d@e-f.org and ip 8.8.8.8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert "<EMAIL>" in got[1].clean_text and "<PHONE>" in got[1].clean_text
    assert "jane.doe" not in got[1].clean_text
    assert (got[1].n_email, got[1].n_phone, got[1].n_ip) == (1, 1, 0)
    assert got[2].clean_text.count("<IP>") == 2
    assert (got[2].n_email, got[2].n_phone, got[2].n_ip) == (0, 0, 2)
    assert got[3].clean_text == rows[2][1]  # untouched
    assert (got[3].n_email, got[3].n_phone, got[3].n_ip) == (0, 0, 0)
    assert got[4].n_email == 2 and got[4].n_ip == 1
    assert "a@b.io" not in got[4].clean_text


def test_scrub_pii_leaves_year_ranges_alone(spark):
    """Precision contract: bare numeric ranges (years, page spans,
    scores) are NOT phone numbers — the pattern requires an explicit
    +/( lead or three separator-joined digit groups."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.text import (
        scrub_pii,
    )

    rows = [
        (1, "the war of 1914 - 1918 killed millions"),
        (2, "pages 1000 - 2000, the 2020 - 2021 season"),
        (3, "dial 123 456 7890 today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert got[1].clean_text == rows[0][1] and got[1].n_phone == 0
    assert got[2].clean_text == rows[1][1] and got[2].n_phone == 0
    assert got[3].n_phone == 1  # three separated groups IS phone-shaped


def test_scrub_pii_cards_luhn_gated(spark):
    """Card scrub requires BOTH shape and Luhn validity: real card
    numbers (with or without separators) are replaced, while ISBNs,
    order numbers, and Luhn-invalid digit runs survive untouched —
    and a card's digit groups are not half-eaten by the phone scrub."""
    rows = [
        (1, "pay with 4111 1111 1111 1111 today"),
        (2, "card 4242-4242-4242-4242 and 5500005555555559 both valid"),
        (3, "ISBN 978-0-306-40615-7 and order 1234567890123 stay"),
        (4, "not a card: 1234 5678 9012 3456"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in tx.scrub_pii(df).collect()}
    assert got[1].clean_text == "pay with <CARD> today"
    # phones counted on the POST-card text: the card's separator groups
    # are no longer double-reported as a phone the scrub never replaced
    assert got[1].n_card == 1 and got[1].n_phone == 0
    assert got[2].clean_text.count("<CARD>") == 2 and got[2].n_card == 2
    # ISBN-13 fails Luhn; 13-digit order number fails Luhn: untouched
    assert "978-0-306-40615-7" in got[3].clean_text
    assert "1234567890123" in got[3].clean_text
    assert got[3].n_card == 0
    # card-shaped but Luhn-invalid: the digit run survives the card
    # scrub; the phone pattern still sees its separator groups (the
    # documented precision trade of counts/patterns on raw digit runs)
    assert got[4].n_card == 0 and "<CARD>" not in got[4].clean_text


def test_scrub_pii_secrets_entropy_gated(spark):
    """Secret scrub requires length, mixed character classes, and
    enough distinct characters: API-key-shaped tokens are replaced,
    while lowercase hex digests, repeated-pattern IDs, and ordinary
    long words survive."""
    key = "sk_Live_9aB3xQ7mK2pR5tY8wZ4v"
    rows = [
        (1, f"export API_KEY={key} before running"),
        (2, "digest 0123456789abcdef0123456789abcdef unchanged"),
        (3, "id AAAA1111AAAA1111AAAA1111AAAA stays (low entropy)"),
        (4, "antidisestablishmentarianism is just a word"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in tx.scrub_pii(df).collect()}
    assert "<SECRET>" in got[1].clean_text and key not in got[1].clean_text
    assert got[1].n_secret == 1
    assert got[2].clean_text == rows[1][1] and got[2].n_secret == 0
    assert got[3].clean_text == rows[2][1] and got[3].n_secret == 0
    assert got[4].clean_text == rows[3][1] and got[4].n_secret == 0


def test_scrub_pii_cross_engine_parity(spark):
    """The full five-kind scrub chain (email -> Luhn card -> phone ->
    ip -> secret) replays bit-identically in DuckDB via
    _sql_doc_pii_scrub on PII-rich docs the shipped testdata lacks —
    the parity evidence for the card/secret branches' oracle."""
    import duckdb

    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry_llm import (
        _sql_doc_pii_scrub,
    )

    rows = [
        (1, "jane@ex.io pays 4111 1111 1111 1111 from 10.0.0.1"),
        (2, "cards 4242-4242-4242-4242 5500005555555559; fake 1234 5678 9012 3456"),
        (3, "ISBN 978-0-306-40615-7, order 1234567890123, call +61 2 9385 1234"),
        (4, "token sk_Live_9aB3xQ7mK2pR5tY8wZ4v and hex 0123456789abcdef0123456789abcdef"),
        (5, "the war of 1914 - 1918 and server 192.168.0.1"),
        (6, "duplicate card twice: 4111 1111 1111 1111 then 4111 1111 1111 1111"),
        # a valid card's digits EMBEDDED in a longer Luhn-rejected run
        # must not be rewritten (the pre-anchor literal replace did)
        (7, "card 4111111111111111 ok and run 41111111111111119999999 end"),
        # back-to-back same-literal occurrences: the anchored replace
        # consumes boundary chars, so one pass alternates misses — the
        # double-pass fold must still catch all three
        (8, "chain 4111 1111 1111 1111 4111 1111 1111 1111 "
            "4111 1111 1111 1111 end"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, tx.scrub_pii(df).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(map(tuple, con.execute(_sql_doc_pii_scrub()).fetchall()))
    assert got == want
    # and the scrub actually fired on each kind at least once
    by_id = {t[0]: t for t in got}
    assert "<CARD>" in by_id[1][1] and "<EMAIL>" in by_id[1][1]
    assert by_id[6][1].count("<CARD>") == 2
    assert "<SECRET>" in by_id[4][1] and "abcdef" in by_id[4][1]
    # precision: the 23-digit run survives intact, count == replacements
    assert by_id[7][1] == "card <CARD> ok and run 41111111111111119999999 end"
    assert by_id[7][3] == 1  # n_card
    assert by_id[8][1] == "chain <CARD> <CARD> <CARD> end"
    assert by_id[8][3] == 3


def test_scrub_text_replaces_in_place_like_scrub_pii(spark):
    """scrub_text is scrub_pii's chain without the counts: same clean
    text as scrub_pii and as the oracle's _sql_scrub_text, NULL text
    stays NULL, and every other column is kept in its place."""
    import duckdb

    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry_llm import (
        _sql_scrub_text,
    )

    rows = [
        ("en", 1, "jane@ex.io pays 4111 1111 1111 1111 from 10.0.0.1"),
        ("en", 2, "token sk_Live_9aB3xQ7mK2pR5tY8wZ4v call +61 2 9385 1234"),
        ("de", 3, None),
        ("de", 4, "nothing to redact here"),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, text string")
    out = tx.scrub_text(df)
    assert out.columns == ["lang", "doc_id", "text"]
    got = {r.doc_id: (r.lang, r.text) for r in out.collect()}
    pii = {r.doc_id: r.clean_text for r in tx.scrub_pii(df).collect()}
    assert {i: t for i, (_, t) in got.items()} == pii
    assert {i: lang for i, (lang, _) in got.items()} == {
        1: "en", 2: "en", 3: "de", 4: "de"
    }
    assert got[3][1] is None and got[4][1] == "nothing to redact here"
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", [r[1:] for r in rows])
    want = dict(
        con.execute(f"SELECT doc_id, {_sql_scrub_text()} FROM d").fetchall()
    )
    assert pii == want


def test_temperature_mix_flattens_and_nests(spark):
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import (
        temperature_mix,
    )

    rows = [(i, "big" if i < 1600 else ("mid" if i < 1900 else "rare"))
            for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mix(df, "lang").collect()
    kept = {}
    rate = {}
    for r in out:
        kept[r.lang] = kept.get(r.lang, 0) + 1
        rate[r.lang] = r.keep_rate
    # the rarest stratum is kept in full at rate exactly 1.0
    assert rate["rare"] == 1.0 and kept["rare"] == 100
    # rates follow (n_min/n)^0.5 exactly
    import math

    assert rate["big"] == math.sqrt(100 / 1600)
    assert rate["mid"] == math.sqrt(100 / 300)
    # flattening: kept counts ~ sqrt(n_s * n_min) (hash sampling is
    # approximate at finite n — generous tolerance)
    assert abs(kept["big"] - math.sqrt(1600 * 100)) < 120
    assert abs(kept["mid"] - math.sqrt(300 * 100)) < 60
    # nesting: a hotter mix (alpha closer to 1) is a superset per
    # stratum of the colder one
    cold = {r.doc_id for r in out}
    hot = {r.doc_id for r in temperature_mix(df, "lang", alpha=0.8).collect()}
    assert cold <= hot
    # determinism
    again = {r.doc_id for r in temperature_mix(df, "lang").collect()}
    assert again == cold


def _dsir_expected(docs, targets, buckets=64, smooth=1):
    """Pure-Python replay of dsir_weights (same md5 bucket hash, same
    int64 fixed-point log2 kernel) for hand-checking the Spark
    output."""
    import hashlib
    import re

    from comp5339dataengineering_realtimefuelanalysis_spark.functions.fixlog import (
        log2fix_py,
    )

    def feats(text):
        words = re.sub(r"\s+", " ", (text or "").lower()).strip().split(" ")
        return words + [
            f"{words[i]} {words[i + 1]}" for i in range(len(words) - 1)
        ]

    def bucket(f):
        h = int(hashlib.md5((f + "#dsir").encode()).hexdigest()[:8], 16)
        return h % buckets

    per_doc: dict[int, dict[int, int]] = {}
    raw: dict[int, int] = {}
    tgt: dict[int, int] = {}
    R = T = 0
    for did, text in docs.items():
        cnt: dict[int, int] = {}
        for f in feats(text):
            cnt[bucket(f)] = cnt.get(bucket(f), 0) + 1
        per_doc[did] = cnt
        for b, c in cnt.items():
            raw[b] = raw.get(b, 0) + c
            R += c
            if targets[did]:
                tgt[b] = tgt.get(b, 0) + c
                T += c
    sB = smooth * buckets

    def lr(b):
        return log2fix_py(R + sB, raw[b] + smooth) - log2fix_py(
            T + sB, tgt.get(b, 0) + smooth
        )

    return {
        did: sum(c * lr(b) for b, c in cnt.items())
        for did, cnt in per_doc.items()
    }


def test_dsir_weights_formula_and_null_text(spark):
    from pyspark.sql import functions as F

    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import dsir_weights

    docs = {
        0: "the quick brown fox jumps over the lazy dog",
        1: "the quick brown fox sleeps",
        2: "completely different subject matter entirely here",
        3: "the   Quick\tbrown fox",  # normalization: case + ws runs
        4: None,  # NULL text must still yield an output row
    }
    targets = {0: True, 1: True, 2: False, 3: False, 4: False}
    df = spark.createDataFrame(
        [(k, v, targets[k]) for k, v in docs.items()],
        "doc_id long, text string, tgt boolean",
    )
    out = {
        r.doc_id: r.dsir_weight
        for r in dsir_weights(df, F.col("tgt"), buckets=64).collect()
    }
    exp = _dsir_expected({**docs, 4: ""}, targets, buckets=64)
    assert out == exp
    # target-overlapping docs score higher than the off-domain one
    assert out[1] > out[2] and out[3] > out[2]


def test_dsir_weights_empty_target(spark):
    from pyspark.sql import functions as F

    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import dsir_weights

    docs = {0: "alpha beta gamma", 1: "alpha beta", 2: "delta epsilon"}
    targets = {k: False for k in docs}
    df = spark.createDataFrame(
        [(k, v) for k, v in docs.items()], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.dsir_weight
        for r in dsir_weights(
            df, F.lit(False), buckets=64
        ).collect()
    }
    # no target rows: T=0, every t_b=0 — weights still well-defined
    # (add-1 smoothing) and exactly the replayed formula
    assert out == _dsir_expected(docs, targets, buckets=64)


def test_dsir_sample_gumbel_vs_hard(spark):
    from pyspark.sql import functions as F

    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import (
        dsir_sample,
        dsir_weights,
    )

    rows = [
        (i, ("target words common phrase " * (1 + i % 3)).strip()
         if i % 4 else "unrelated noise tokens entirely", i % 4 == 1)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    hard = dsir_sample(df, F.col("tgt"), frac=0.25, gumbel=False).collect()
    gum = dsir_sample(df, F.col("tgt"), frac=0.25, gumbel=True).collect()
    # k = ceil(0.25 * 40) = 10 for both variants
    assert len(hard) == 10 and len(gum) == 10
    # hard variant: score IS the weight, and the set is exactly the
    # top-10 by (weight desc, id)
    assert all(r.score == r.dsir_weight for r in hard)
    w = dsir_weights(df, F.col("tgt")).collect()
    top = sorted(w, key=lambda r: (-r.dsir_weight, r.doc_id))[:10]
    assert {r.doc_id for r in hard} == {r.doc_id for r in top}
    # gumbel variant: score == weight + hash-derived BASE-2 Gumbel
    # noise on the same 2^-20 fixed-point grid — replay the noise
    # exactly in Python (the int64 kernel, no floats) and check both
    # the per-row score and the selected set
    import hashlib

    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import (
        gumbel2_py,
    )

    def gnoise(did):
        h = int(
            hashlib.md5(f"{did}#gdsir".encode()).hexdigest()[:8], 16
        )
        return gumbel2_py(h)

    assert all(r.score == r.dsir_weight + gnoise(r.doc_id) for r in gum)
    exp_gum = sorted(
        w, key=lambda r: (-(r.dsir_weight + gnoise(r.doc_id)), r.doc_id)
    )[:10]
    assert {r.doc_id for r in gum} == {r.doc_id for r in exp_gum}
    # determinism across runs
    again = dsir_sample(df, F.col("tgt"), frac=0.25, gumbel=True).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in gum}


def test_dsir_sample_cutoff_matches_exact_rank(spark):
    """The cutoff (scale-path) variant must agree with the exact-rank
    variant outside the sketch's boundary band: identical scoring, a
    selection that is a SUPERSET of the exact top-k minus at most the
    boundary tie/error band, and every selected score >= every
    unselected score down to that band. At n << accuracy the sketch
    is exact, so the only admissible difference is cutoff ties."""
    from pyspark.sql import functions as F

    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import (
        dsir_sample,
        dsir_sample_cutoff,
    )

    rows = [
        (i, f"alpha beta gamma delta token{i % 7} "
            f"epsilon{i % 3} zeta", i % 3 == 0)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    exact = dsir_sample(df, F.col("tgt"), frac=0.25).collect()
    cut = dsir_sample_cutoff(df, F.col("tgt"), frac=0.25).collect()
    exact_ids = {r.doc_id for r in exact}
    cut_ids = {r.doc_id for r in cut}
    # identical scoring: the shared rows carry identical scores
    sc_exact = {r.doc_id: r.score for r in exact}
    sc_cut = {r.doc_id: r.score for r in cut}
    for did in exact_ids & cut_ids:
        assert sc_exact[did] == sc_cut[did]
    # filter semantics: everything at/above the selected minimum is in
    min_kept = min(sc_cut.values())
    all_scores = {
        r.doc_id: r.score
        for r in dsir_sample_cutoff(
            df, F.col("tgt"), frac=1.0
        ).collect()
    }
    assert cut_ids == {d for d, s in all_scores.items() if s >= min_kept}
    # size: ceil(0.25*60)=15 exact; the cutoff keeps >= that minus the
    # boundary band (ties kept, sketch exact at this n)
    assert len(cut_ids) >= 14 and len(cut_ids) <= 16
    # agreement outside the boundary: at most one boundary row differs
    assert len(exact_ids.symmetric_difference(cut_ids)) <= 2
    # determinism
    again = {
        r.doc_id
        for r in dsir_sample_cutoff(df, F.col("tgt"), frac=0.25).collect()
    }
    assert again == cut_ids


def test_dsir_cutoff_within_documented_band(spark):
    """The BOUNDED verdict for the oracle-less registry row
    doc_dsir_sample_cutoff (the approx_stats_by_type pattern): at two
    scale factors, compute the exact-rank selection beside the cutoff
    selection and fail if they disagree beyond the documented band.

    The GK sketch guarantees the returned cutoff value's rank is
    within n/accuracy of the target rank k = ceil(frac*n); ties at
    the cutoff are all kept by contract. So the admissible symmetric
    difference is (rows inside the rank band) + (ties at the true
    boundary score) — asserted exactly, with shared rows carrying
    identical scores (scoring is byte-identical by construction)."""
    import math

    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry_llm import (
        _DSIR_CUTOFF_ACCURACY,
        _DSIR_FRAC,
        LLM_REGISTRY,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        exact = {
            r.doc_id: r.score
            for r in LLM_REGISTRY["doc_dsir_sample"].fn(spark, sf).collect()
        }
        cut = {
            r.doc_id: r.score
            for r in LLM_REGISTRY["doc_dsir_sample_cutoff"]
            .fn(spark, sf)
            .collect()
        }
        for did in exact.keys() & cut.keys():
            assert exact[did] == cut[did], did  # identical scoring
        n = round(len(exact) / _DSIR_FRAC)
        k = math.ceil(_DSIR_FRAC * n)
        assert len(exact) == k
        # ties at the exact boundary score are admissible keeps
        boundary = min(exact.values())
        ties = sum(1 for s in cut.values() if s == boundary)
        band = max(1, n // _DSIR_CUTOFF_ACCURACY)
        diff = set(exact) ^ set(cut)
        assert len(diff) <= band + ties, (sf, len(diff), band, ties)


def test_lm_ppl_score_hand_replayed(spark):
    """lm_ppl_score's nll is an exact integer: replay the hashed-bigram
    LM in plain Python from the same inputs (the int64 fixlog kernel —
    no floats) and compare every doc's (n_bigrams, nll_fix, mnll);
    scoreless docs (0/1 words, NULL text) carry n_bigrams=0 and NULL
    scores."""
    import hashlib

    from pyspark.sql import functions as F

    from comp5339dataengineering_realtimefuelanalysis_spark.functions.fixlog import (
        log2fix_py,
    )
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import (
        lm_ppl_score,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", True),
        (2, "the quick brown fox naps under the old tree", True),
        (3, "completely different words about query engines", False),
        (4, "single", False),
        (5, None, False),
        (6, "the quick brown fox jumps over the lazy dog", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    B, SEED = 64, "lmppl"
    got = {
        r.doc_id: r
        for r in lm_ppl_score(
            df, F.col("tgt"), buckets=B, seed=SEED
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6}
    for did in (4, 5):
        assert got[did].n_bigrams == 0
        assert got[did].nll_fix is None
        assert got[did].mnll is None

    def h32(sx: str) -> int:
        return int(hashlib.md5(sx.encode()).hexdigest()[:8], 16)

    def buckets_of(text: str) -> list[int]:
        words = text.lower().split()
        return [
            h32(f"{a} {b}#{SEED}") % B
            for a, b in zip(words, words[1:])
        ]

    # target bucket counts + total
    tcount: dict[int, int] = {}
    for did, text, tgt in rows:
        if tgt and text:
            for bk in buckets_of(text):
                tcount[bk] = tcount.get(bk, 0) + 1
    T = sum(tcount.values())

    def nl(bk: int) -> int:
        return log2fix_py(T + B, tcount.get(bk, 0) + 1)

    for did, text, _ in rows:
        if not text or len(text.split()) < 2:
            continue
        bks = buckets_of(text)
        exp_nll = sum(nl(bk) for bk in bks)
        assert got[did].n_bigrams == len(bks), did
        assert got[did].nll_fix == exp_nll, did
        assert got[did].mnll == (exp_nll / len(bks)) / 1048576.0
    # CCNet semantics: a target-distribution doc scores LOWER (more
    # fluent under the LM) than an off-distribution one
    assert got[6].mnll < got[3].mnll
    assert got[1].mnll == got[6].mnll  # same text, target flag is
    # about TRAINING the LM, not scoring


def test_ppl_buckets_terciles_and_empty(spark):
    from pyspark.sql import functions as F

    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import (
        ppl_buckets,
    )

    rows = [(i, float(i)) for i in range(1, 10)] + [(10, None)]
    df = spark.createDataFrame(rows, "doc_id long, mnll double")
    out = {r.doc_id: r.ppl_bucket for r in ppl_buckets(df).collect()}
    # terciles of 1..9: t1 = 3.666.., t2 = 6.333..
    assert [out[i] for i in range(1, 10)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )
    assert out[10] == "empty"


def test_ppl_buckets_sketch_path_agrees_outside_band(spark):
    """The exact=False (100 TB) path: GK-sketch terciles may move docs
    between ADJACENT buckets only within the n/accuracy rank band; at
    n << accuracy the sketch cutoff equals some observed value near
    the exact one, so bucket assignments agree except at boundaries."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import (
        ppl_buckets,
    )

    rows = [(i, float(i % 97) / 10.0) for i in range(300)] + [(300, None)]
    df = spark.createDataFrame(rows, "doc_id long, mnll double")
    exact = {r.doc_id: r.ppl_bucket for r in ppl_buckets(df).collect()}
    approx = {
        r.doc_id: r.ppl_bucket
        for r in ppl_buckets(df, exact=False).collect()
    }
    assert approx[300] == "empty"
    order = {"head": 0, "middle": 1, "tail": 2, "empty": 9}
    diff = [d for d in exact if exact[d] != approx[d]]
    # disagreements are adjacent-bucket only, and few (boundary ties)
    assert all(abs(order[exact[d]] - order[approx[d]]) == 1 for d in diff)
    assert len(diff) <= 12, len(diff)  # 300 docs, many ties per value


def test_gopher_rules_battery(spark):
    """Hand-built edge cases for every Gopher rule: bullet/ellipsis
    lines, symbol ratio, alpha-word fraction, stop-word hits, empty
    text (fails word count, never NULL)."""
    rows = [
        (1, "the cat and the dog have run to the house of a friend "
            "with some food that was left over from dinner yesterday"),
        (2, "- first\n- second\n- third\nplain tail line"),   # 3/4 bullets
        (3, "we waited...\nand waited...\nthen it came"),      # 2/3 ellipsis
        (4, "### ## # tags # here # too # again # more #"),    # symbol-heavy
        (5, "12345 67890 24680 13579 97531"),                  # no alpha
        (6, ""),                                               # empty
        (7, None),                                             # null
        (8, "zz yy xx ww vv uu tt ss rr qq pp oo"),            # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in tx.gopher_rules(df, min_words=5).collect()
    }
    assert got[1].keep  # clean English sentence passes everything
    assert got[1].stopword_ok and got[1].alpha_ok and got[1].symbol_ok

    assert abs(got[2].bullet_line_frac - 0.75) < 1e-12
    assert got[2].bullet_ok  # 0.75 < 0.9
    assert abs(got[3].ellipsis_line_frac - 2.0 / 3.0) < 1e-12
    assert not got[3].ellipsis_ok and not got[3].keep

    assert got[4].symbol_ratio > 0.1
    assert not got[4].symbol_ok and not got[4].keep

    assert got[5].alpha_word_frac == 0.0
    assert not got[5].alpha_ok and not got[5].keep

    for did in (6, 7):
        assert got[did].n_words == 0
        assert not got[did].word_count_ok and got[did].keep is False

    assert got[8].stop_hits == 0
    assert not got[8].stopword_ok and not got[8].keep


def test_gopher_line_rules_match_hof_form(spark):
    """The whole-text multiline regexp_count line rules must be
    bit-identical to the per-line HOF form they replaced (the count of
    bullet-started / ellipsis-ended lines), on adversarial strings:
    whitespace-only lines before a bullet, multiline-spanning
    whitespace, CRLF endings, Unicode ellipsis, multiple ellipses on
    one line, empty/null text — and the non-\n Java line terminators
    (bare \r, U+0085, U+2028, U+2029) that plain (?m) would treat as
    line breaks but split('\n') / the chr(10) oracle never do; (?d)
    (UNIX_LINES) in the production pattern pins those four cases."""
    rows = [
        (1, "- a\n- b\nplain"),
        (2, "  \n- after blank-ish line"),        # ws-only line, then bullet
        (3, "\n\n\n- deep\n  \t \n* starred"),    # runs of empty lines
        (4, "x - not a bullet\n-real"),
        (5, "end...\nmid... tail\nuni…\n… lead"),
        (6, "... ...\n......"),                    # two runs / six dots
        (7, "crlf...\r\nbullet next\r\n- y\r\n"),
        (8, "trail...   \nspaces after… \t\n"),
        (9, ""),
        (10, None),
        (11, "•bullet\n  •indented\n\t*tabbed"),
        (12, "only\nplain\nlines"),
        (13, "x\r- bare CR is not a line break"),  # (?m) alone: false ^
        (14, "a \u2028- after LS \u2029* after PS"),  # LS/PS mid-line
        (15, "dots...\rmore\ndots...\u2028more2\nreal... tail"),
        (16, "nel\u0085- after NEL\nnel end...\u0085x"),  # NEL
        (17, "ls end...\u2028 \nps end\u2026\u2029 \n"),  # term + real \n
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(t, "\n")
    hof = df.select(
        "doc_id",
        F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]")))
            .alias("bullets"),
        F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$")))
            .alias("ellipses"),
    )
    new = df.select(
        "doc_id",
        F.regexp_count(t, F.lit(r"(?dm)^[^\S\n]*[-*•]"))
            .alias("bullets"),
        F.regexp_count(t, F.lit(r"(?dm)(\.\.\.|…)[^\S\n]*$"))
            .alias("ellipses"),
    )
    got_hof = {r.doc_id: (r.bullets, r.ellipses) for r in hof.collect()}
    got_new = {r.doc_id: (r.bullets, r.ellipses) for r in new.collect()}
    assert got_hof == got_new, {
        k: (got_hof[k], got_new[k])
        for k in got_hof
        if got_hof[k] != got_new[k]
    }


def test_gopher_symbol_counts_unicode_ellipsis(spark):
    """The symbol counter treats the Unicode ellipsis '…' like '...'
    (the Gopher symbol-to-word rule covers the ellipsis generally) —
    a doc dense in '…' must now fail the symbol gate."""
    rows = [(1, "one two three four five six seven eight … … … …")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = tx.gopher_rules(df, min_words=5).collect()[0]
    # 12 word tokens (the four '…' tokens count as words), 4 symbols
    assert r.symbol_ratio == 4.0 / 12.0
    assert not r.symbol_ok


def test_lm_ppl_external_target_frame(spark):
    """DataFrame-target lm_ppl_score (the CCNet external-Wikipedia
    shape): with a DISJOINT trusted frame training the LM, the scored
    frame's results must equal the flag-column construction run over
    the union (the nl cost of any bucket is a function of the target
    counts alone, and a doc's sum only touches its own buckets)."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import (
        lm_ppl_score,
    )

    scored_rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different words about query engines"),
        (3, "single"),
        (4, None),
    ]
    trusted_rows = [
        (101, "the quick brown fox naps under the old tree"),
        (102, "the lazy dog sleeps while the quick fox runs"),
    ]
    B, SEED = 64, "lmppl"
    scored = spark.createDataFrame(
        scored_rows, "doc_id long, text string"
    )
    trusted = spark.createDataFrame(
        trusted_rows, "doc_id long, body string"
    )
    ext = {
        r.doc_id: (r.n_bigrams, r.nll_fix, r.mnll)
        for r in lm_ppl_score(
            scored, trusted, buckets=B, seed=SEED,
            target_text_col="body",
        ).collect()
    }
    # flag-column construction over the union
    union = spark.createDataFrame(
        [(i, t, False) for i, t in scored_rows]
        + [(i, t, True) for i, t in trusted_rows],
        "doc_id long, text string, tgt boolean",
    )
    col = {
        r.doc_id: (r.n_bigrams, r.nll_fix, r.mnll)
        for r in lm_ppl_score(
            union, F.col("tgt"), buckets=B, seed=SEED
        ).collect()
    }
    assert set(ext) == {1, 2, 3, 4}
    for did in ext:
        assert ext[did] == col[did], (did, ext[did], col[did])
    # empty target frame: every bucket costs log2fix(sB, s), scores
    # still total and deterministic (never NULL from the LM side)
    empty = trusted.filter("doc_id < 0")
    e = {
        r.doc_id: r
        for r in lm_ppl_score(
            scored, empty, buckets=B, seed=SEED,
            target_text_col="body",
        ).collect()
    }
    from comp5339dataengineering_realtimefuelanalysis_spark.functions.fixlog import (
        log2fix_py,
    )

    flat = log2fix_py(B, 1)
    assert e[1].nll_fix == e[1].n_bigrams * flat


def test_cost_table_matches_inline_lm(spark):
    """Scoring against the at-rest full-domain cost table must equal
    the inline DataFrame-target lm_ppl_score bit-exactly — the
    streaming gate's batch/stream equivalence rests on this."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.selection import (
        lm_ppl_cost_table,
        lm_ppl_score,
        lm_ppl_score_with_costs,
    )

    scored = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words about query engines"),
            (3, "single"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    trusted = spark.createDataFrame(
        [
            (101, "the quick brown fox naps under the old tree"),
            (102, "the lazy dog sleeps while the quick fox runs"),
        ],
        "doc_id long, text string",
    )
    B = 64
    inline = {
        r.doc_id: (r.n_bigrams, r.nll_fix, r.mnll)
        for r in lm_ppl_score(scored, trusted, buckets=B).collect()
    }
    costs = lm_ppl_cost_table(trusted, buckets=B)
    assert costs.count() == B  # full domain, always
    at_rest = {
        r.doc_id: (r.n_bigrams, r.nll_fix, r.mnll)
        for r in lm_ppl_score_with_costs(
            scored, costs, buckets=B
        ).collect()
    }
    assert inline == at_rest


def test_bm25_topk_two_phase_equals_naive_window(spark):
    """The salted two-phase top-k must return exactly what a single
    qid-partitioned window would — and basic BM25 ordering sanity: a
    doc matching more query terms with rarer terms outranks one
    matching a single common term."""
    from pyspark.sql import Window, functions as F

    from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
        text as tx,
    )

    docs = spark.createDataFrame(
        [
            (1, "fast table scan over the big table"),
            (2, "fast fast fast"),
            (3, "table scan"),
            (4, "slow row store"),
            (5, "fast scan"),
            (6, "the quick brown fox"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [("qa", "fast table scan"), ("qb", "slow store")],
        "qid string, qtext string",
    )
    got = tx.bm25_topk(docs, queries, k=3, salts=4)
    rows = {(r.qid, r.rank): (r.doc_id, r.score_fix)
            for r in got.collect()}
    # qb: only doc 4 matches either term
    assert rows[("qb", 1)][0] == 4
    assert ("qb", 2) not in rows
    # qa: only matching docs may appear, non-matching (4, 6) never
    assert {rows[("qa", i)][0] for i in (1, 2, 3)} <= {1, 2, 3, 5}
    # and the winner carries the highest micro-score (rank agrees
    # with score order, ties broken by id)
    qa = sorted(
        (v for (q, _), v in rows.items() if q == "qa"),
        key=lambda x: (-x[1], x[0]),
    )
    assert [rows[("qa", i)][0] for i in (1, 2, 3)] == [
        d for d, _ in qa
    ]

    # equivalence to the naive single-window top-k over the same scores
    w = Window.partitionBy("qid").orderBy(
        F.col("score_fix").desc(), F.col("doc_id").asc()
    )
    naive = (
        tx.bm25_topk(docs, queries, k=100, salts=1)
        .drop("rank")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )


def _spark_and_oracle(out, rows, sql):
    """(Spark rows, DuckDB rows) as sorted tuples: ``out`` collected,
    and oracle ``sql`` run over a ``documents`` table of (doc_id, text)
    ``rows``. Asserts both project the same column names."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    cur = con.execute(sql)
    assert out.columns == [d[0] for d in cur.description]
    return sorted(map(tuple, out.collect())), sorted(cur.fetchall())


def test_repetition_signals_arrow_kernel_parity(spark):
    """The repetition Arrow kernel must be BIT-exact to the DuckDB
    oracle (_sql_doc_repetition): same normalization, same integer
    counts, same single-division doubles. Exercises NULL text, blank
    text, messy whitespace, heavy repetition, and unicode content."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    rows = [
        (1, "a a a a"),
        (2, "w x y z"),
        (3, "one two"),
        (4, ""),
        (5, None),
        (6, "  Tabs\tand\nNEWLINES  collapse   here \r ok "),
        (7, "üBER Straße ÜBER straße über STRASSE"),
        (8, "x " * 500 + "y z y z y z"),
        (9, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got, want = _spark_and_oracle(
        tx.repetition_signals(df), rows, rl._sql_doc_repetition()
    )
    # bit-exact: the oracle hash has no tolerance, so neither do we
    assert got == want


def test_gopher_rules_arrow_kernel_parity(spark):
    """The gopher word-stats Arrow kernel must be BIT-exact to the
    DuckDB oracle (_sql_gopher_rules) across NULL/blank/short/stopword
    edges — including the NULL-stat rows that drive the coalesced
    booleans and the doubles that reach the output frame."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    rows = [
        (1, "the cat and the dog have fun with that ball of yarn be"),
        (2, ""),
        (3, None),
        (4, "- bullet one\n- bullet two\nplain..."),
        (5, "123 456 789"),
        (6, "x " * 80),
        (7, "Üppig grüß käse ohne ascii"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got, want = _spark_and_oracle(
        tx.gopher_rules(df),
        rows,
        rl._sql_gopher_rules(),
    )
    assert got == want


def test_embed_text_arrow_kernel_parity(spark, monkeypatch):
    """The embed_text Arrow kernel must be BIT-exact to the DuckDB
    oracle (_sql_doc_embed_hash: same md5 bucket/sign hashes, same int
    counts, same sqrt/divide/float32 steps) — checked as exact float
    equality over every exploded cell, including NULL/blank/
    single-word/unicode edges. Rerun with the per-task hash memo
    capped at one entry, so the clear-on-cap path runs on every
    feature."""
    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, None),
        (4, "solo"),
        (5, "  Tabs\tand\nNEWLINES  collapse   here \r ok "),
        (6, "üBER Straße wieder üBER Straße"),
        (7, "a b " * 200),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for cap in (tx._MEMO_CAP, 1):
        monkeypatch.setattr(tx, "_MEMO_CAP", cap)
        cells = tx.embed_text(
            df, dim=rl._TEXT_EMB_DIM, seed=rl._TEXT_EMB_SEED
        ).select(
            "doc_id", F.posexplode("embedding").alias("dim_index", "value")
        )
        got, want = _spark_and_oracle(
            cells, rows, rl._sql_doc_embed_hash()
        )
        assert len(want) == len(rows) * rl._TEXT_EMB_DIM
        assert got == want, cap
