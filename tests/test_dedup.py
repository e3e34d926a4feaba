"""Semantic unit tests for the dedup family on controlled corpora."""

from __future__ import annotations

from comp5339dataengineering_realtimefuelanalysis_spark.operators import dedup as dd

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The  quick brown fox jumps over the lazy dog"),  # ws/case variant
    (3, "the quick brown fox jumps over the lazy cat"),  # near-dup
    (4, "completely different content about spark engines"),
]


def docs(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_groups_normalized_variants(spark):
    out = {r.doc_id: r for r in dd.dedup_exact(docs(spark)).collect()}
    assert out[1].content_hash == out[2].content_hash
    assert out[1].canonical_id == out[2].canonical_id == 1
    assert out[1].is_canonical and not out[2].is_canonical
    assert out[3].is_canonical and out[4].is_canonical


def test_shingles_short_text(spark):
    sh = dd.shingles(docs(spark, [(1, "ab")]), n=5).collect()
    assert [(r.doc_id, r.shingle) for r in sh] == [(1, "ab")]


def test_ngram_jaccard_finds_near_dups(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs(spark), threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical after norm
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_identical_signatures_for_identical_norm(spark):
    sig = {r.doc_id: tuple(r)[1:] for r in dd.minhash_signatures(docs(spark)).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[4]


def test_minhash_lsh_pairs(spark):
    pairs = {
        (r.id_a, r.id_b) for r in dd.minhash_lsh_pairs(docs(spark)).collect()
    }
    assert (1, 2) in pairs  # identical docs always collide in every band
    assert not any(4 in p for p in pairs)


def test_simhash_identical_and_near(spark):
    fp = {r.doc_id: r.simhash for r in dd.simhash_fingerprint(docs(spark)).collect()}
    assert fp[1] == fp[2]
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dd.simhash_pairs(docs(spark), max_hamming=16).collect()
    }
    assert pairs.get((1, 2)) == 0
    if (1, 3) in pairs:
        assert pairs[(1, 3)] > 0


def test_hash32_is_stable(spark):
    df = docs(spark, [(1, "abc"), (2, "abc")])
    vals = [
        r.h for r in df.select(dd.hash32("text").alias("h")).collect()
    ]
    assert vals[0] == vals[1]
    # matches int('900150983cd24fb0'[:8], 16) for md5('abc')
    assert vals[0] == int("90015098", 16)


def test_cap_buckets_kills_degenerate_quadratic_pairs(spark):
    """A boilerplate corpus (many identical docs) must not generate O(n²)
    candidate pairs when max_bucket is set — while pairs among normal
    (non-degenerate) docs are unchanged. Dropped buckets are observable."""
    n_dup = 200
    boiler = [(100 + i, "identical boilerplate text repeated everywhere")
              for i in range(n_dup)]
    df = spark.createDataFrame(DOCS + boiler, "doc_id long, text string")

    uncapped = dd.minhash_lsh_pairs(docs(spark))
    base_pairs = {(r.id_a, r.id_b) for r in uncapped.collect()}

    capped = dd.minhash_lsh_pairs(df, max_bucket=50)
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    # the 200-doc bucket (19,900 potential pairs) is gone...
    assert not any(a >= 100 and b >= 100 for a, b in capped_pairs)
    # ...and the non-degenerate pairs survive exactly
    assert {p for p in capped_pairs if p[0] < 100 and p[1] < 100} == base_pairs

    # same guard on the simhash path
    sim_capped = {
        (r.id_a, r.id_b)
        for r in dd.simhash_pairs(df, max_hamming=16, max_bucket=50).collect()
    }
    assert not any(a >= 100 and b >= 100 for a, b in sim_capped)

    # the drop is observable: one oversized bucket row per (band, key)
    sig = dd.minhash_signatures(df)
    # cap_buckets works on any keyed frame; use the signature frame keyed
    # by the full signature as a proxy for a degenerate band key
    kept, dropped = dd.cap_buckets(sig, ["mh_0"], 50)
    drops = dropped.collect()
    assert len(drops) == 1 and drops[0].n_rows == n_dup
    assert kept.count() == sig.count() - n_dup


def test_embedding_near_dup_max_bucket(spark):
    """Degenerate identical embeddings are dropped under max_bucket;
    distinct-vector pairs are unaffected."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators import (
        similarity as sim,
    )

    base = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0])]
    dups = [(100 + i, [0.0, 0.0, 1.0, 1.0]) for i in range(60)]
    df = spark.createDataFrame(
        base + dups, "vec_id long, embedding array<float>"
    )
    uncapped = {
        (r.id_a, r.id_b)
        for r in sim.embedding_near_dup_pairs(
            df, threshold=0.9, planes=2, dim=4
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in sim.embedding_near_dup_pairs(
            df, threshold=0.9, planes=2, dim=4, max_bucket=50
        ).collect()
    }
    assert (1, 2) in uncapped and (1, 2) in capped
    assert any(a >= 100 for a, _ in uncapped)
    assert not any(a >= 100 or b >= 100 for a, b in capped)


def test_winnow_shared_substring_guarantee(spark):
    """Docs sharing a substring of length >= n + window - 1 share at least
    one fingerprint; disjoint docs share none; identical docs match."""
    from comp5339dataengineering_realtimefuelanalysis_spark.operators.dedup import (
        winnow_fingerprints,
    )

    common = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, f"AAAA {common} BBBB"),
        (2, f"XXXX {common} YYYY"),
        (3, f"AAAA {common} BBBB"),
        (4, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fps = {
        r.doc_id: set(r.fps)
        for r in winnow_fingerprints(df, n=5, window=4).collect()
    }
    assert fps[1] & fps[2]          # shared substring -> shared print
    assert fps[1] == fps[3]         # identical text -> identical set
    assert not (fps[1] & fps[4])    # disjoint content -> disjoint sets
    assert all(len(v) > 0 for v in fps.values())


def edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_connected_components_chain(spark):
    """An 8-node chain needs multiple contraction rounds (label
    propagation would need 7); every node lands in component 1."""
    chain = [(i, i + 1) for i in range(1, 8)]
    got = {
        (r.node, r.component)
        for r in dd.connected_components(edges_df(spark, chain)).collect()
    }
    assert got == {(i, 1) for i in range(1, 9)}


def test_connected_components_multiple_and_reversed_edges(spark):
    pairs = [(5, 2), (2, 7), (10, 11), (11, 10), (3, 3)]
    got = {
        (r.node, r.component)
        for r in dd.connected_components(edges_df(spark, pairs)).collect()
    }
    # self-loop (3,3) contributes nothing; two components
    assert got == {(2, 2), (5, 2), (7, 2), (10, 10), (11, 10)}


def test_connected_components_matches_union_find_on_random_graph(spark):
    import random

    rng = random.Random(42)
    nodes = list(range(100))
    pairs = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(120)
    ]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize to component min
    expected = {}
    for n in nodes:
        expected.setdefault(find(n), []).append(n)
    want = {
        (n, min(members))
        for members in expected.values()
        for n in members
        if len(members) > 1 or any(a == b == n for a, b in pairs) is False
    }
    # engine omits isolated nodes (no edges at all, incl. pure self-loops)
    touched = {a for a, b in pairs if a != b} | {
        b for a, b in pairs if a != b
    }
    want = {(n, c) for n, c in want if n in touched}

    got = {
        (r.node, r.component)
        for r in dd.connected_components(edges_df(spark, pairs)).collect()
    }
    assert got == want


def test_connected_components_distributed_path_matches_local(spark):
    """Force the star-contraction path (local_finish_edges=0) and check it
    agrees with the default hybrid (local union-find finish) on graphs
    that need multiple contraction rounds."""
    cases = [
        [(i, i + 1) for i in range(1, 8)],            # chain
        [(5, 2), (2, 7), (10, 11), (11, 10), (3, 3)],  # dups + self-loop
    ]
    import random

    rng = random.Random(7)
    cases.append([(rng.randrange(60), rng.randrange(60)) for _ in range(80)])
    for pairs in cases:
        df = edges_df(spark, pairs)
        local = {
            (r.node, r.component)
            for r in dd.connected_components(df).collect()
        }
        distributed = {
            (r.node, r.component)
            for r in dd.connected_components(
                df, local_finish_edges=0
            ).collect()
        }
        assert local == distributed


def test_ngram_overlap_contamination(spark):
    probe = docs(spark, [(100, "the quick brown fox jumps over the lazy dog")])
    corpus = docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "unrelated text about completely other topics"),
        ],
    )
    out = {
        (r.probe_id, r.corpus_id): (r.n_shared, r.frac)
        for r in dd.ngram_overlap_pairs(
            probe, corpus, min_frac=0.2
        ).collect()
    }
    assert set(out) == {(100, 1)}
    n_shared, frac = out[(100, 1)]
    assert n_shared > 0 and 0.9 <= frac <= 1.0


def test_minhash_lsh_join_asymmetric(spark):
    """The incremental-dedup join: batch docs pair only with corpus docs
    (never batch x batch or corpus x corpus), near-dups are found across
    the split, and the right-side bucket cap drops a degenerate corpus
    cluster without touching genuine matches."""
    batch = docs(spark, [(100, "the quick brown fox jumps over the lazy dog"),
                         (101, "totally unrelated text about databases")])
    corpus_rows = [(1, "the quick brown fox jumps over the lazy dog"),
                   (2, "another unrelated document entirely different")]
    corpus_rows += [(200 + i, "shared boilerplate terms of service page")
                    for i in range(30)]
    corpus = docs(spark, corpus_rows)
    got = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_join(batch, corpus, n=5).collect()
    }
    assert (100, 1) in got                       # cross-split near-dup found
    assert all(a in (100, 101) for a, b in got)  # left ids only on the left
    assert all(b not in (100, 101) for a, b in got)
    # cap the corpus side below the boilerplate cluster size: those
    # buckets drop, the genuine match survives
    capped = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_join(
            batch, corpus, n=5, max_bucket=10
        ).collect()
    }
    assert (100, 1) in capped
    assert all(b < 200 for a, b in capped)


def test_jaccard_verify_sets_join_never_broadcasts(spark):
    """The verify join's sets sides are corpus-sized by contract and
    must never be planned as a broadcast — compressed cache/shuffle
    stats understate deserialized size for repetitive shingle arrays
    (measured driver OOM at 500k docs). At THIS tiny scale the
    size-based planner would pick BroadcastHashJoin, so the assert is
    a real canary that the shuffle_hash pin holds; sets_hint=None
    restores the size-based (broadcast) plan for callers with bounded
    sets frames."""
    d = docs(spark)
    cands = dd.minhash_lsh_pairs(d)
    pinned = dd.jaccard_verify_pairs(d, cands, threshold=0.1)
    unpinned = dd.jaccard_verify_pairs(
        d, cands, threshold=0.1, sets_hint=None
    )
    # execute FIRST: under AQE the join strategy is only visible in
    # the final plan
    got_p = {(r.id_a, r.id_b) for r in pinned.collect()}
    got_u = {(r.id_a, r.id_b) for r in unpinned.collect()}
    assert got_p == got_u and (1, 2) in got_p

    # key on the JOIN KEYS: the sets joins are the ones on id_a / id_b
    # (the band-key join inside minhash_lsh_pairs may legitimately
    # broadcast — different frame, different contract)
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin [id_a" in plan, plan
    assert "ShuffledHashJoin [id_b" in plan, plan
    assert "BroadcastHashJoin [id_a" not in plan, plan
    assert "BroadcastHashJoin [id_b" not in plan, plan
    uplan = unpinned._jdf.queryExecution().executedPlan().toString()
    assert (
        "BroadcastHashJoin [id_a" in uplan
        or "BroadcastHashJoin [id_b" in uplan
    ), uplan


def _brute_jaccard(rows, n=5):
    """Exact shingle-set Jaccard of every pair, in plain Python."""
    sets = {}
    for i, t in rows:
        t = " ".join(t.lower().split())
        sets[i] = {t[j:j + n] for j in range(max(len(t) - n + 1, 1))}
    return {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a in sets for b in sets if a < b
    }


def test_jaccard_verify_matches_brute_force(spark):
    """The verified pair set, with the size-only bound (J <= min/max,
    so min/max < t is provably below threshold) and the one-intersect
    pre-filter always on, equals a brute-force Jaccard over ALL pairs —
    including the case the bound cannot decide: equal-size sets with
    small overlap (bound passes at 1.0, the exact Jaccard still
    rejects), and the case it prunes: a short doc banded together with
    a long one (min/max < t kills the pair before any shingle array
    moves)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog every day"),
        (2, "the quick brown fox jumps over the lazy dog every night"),
        # same length as 3-gram source but disjoint words vs 1/2
        (3, "completely different subject matter entirely other words"),
        (4, "tiny doc"),  # much shorter: any pair with 1/2 fails bound
    ]
    d = docs(spark, rows)
    # force ALL pairs as candidates so the filters (not LSH) decide
    ids = [r[0] for r in rows]
    cands = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    out = dd.jaccard_verify_pairs(d, cands, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    want = {p: j for p, j in _brute_jaccard(rows).items() if j >= 0.5}
    assert got == want
    assert (1, 2) in got          # true near-dup survives
    assert (1, 3) not in got      # bound passes, exact Jaccard rejects
    assert (1, 4) not in got      # bound prunes (size ratio << 0.5)
    # the pruned path really is size-only: its first joins carry __sz
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__sz_a" in plan and "__sz_b" in plan, plan


SET_EDGE_DOCS = [
    (1, None),                       # NULL text
    (2, ""),                         # empty text: one '' shingle
    (3, "ab"),                       # shorter than n: its remainder
    (4, "Ünïcödé  日本語のテキスト ß"),  # multi-byte chars, ws runs
    (5, "abcabcabcabcabc"),          # repeated shingles
    (6, "The Quick brown fox"),
]


def test_shingle_sets_edge_cases_match_collect_set_and_duckdb(spark):
    """shingle_sets equals the explode + collect_set form it replaced,
    and the DuckDB oracle's _SQL_SHINGLES + list_distinct, on NULL,
    empty, short, unicode and repetitive text."""
    import duckdb
    from pyspark.sql import functions as F

    from comp5339dataengineering_realtimefuelanalysis_spark.plans.registry_llm import (
        _SQL_SHINGLES,
    )

    d = docs(spark, SET_EDGE_DOCS)
    got = {
        r.doc_id: sorted(r.sh_set) for r in dd.shingle_sets(d, n=5).collect()
    }
    t = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
    ref = (
        d.select(
            "doc_id",
            F.explode(F.expr(
                f"transform(sequence(1, greatest(length({t}) - 4, 1)),"
                f" i -> substring({t}, i, 5))"
            )).alias("shingle"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("s"))
    )
    want = {r.doc_id: sorted(r.s) for r in ref.collect()}
    assert got == want
    assert got[1] == [] and got[2] == [""] and got[3] == ["ab"]
    assert got[5] == ["abcab", "bcabc", "cabca"]
    assert "日本語のテ" in got[4]

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", SET_EDGE_DOCS)
    oracle = {
        i: sorted(s)
        for i, s in con.execute(
            f"SELECT doc_id, list_distinct(list(shingle)) FROM"
            f" ({_SQL_SHINGLES}) GROUP BY doc_id"
        ).fetchall()
    }
    assert got == oracle


def test_ngram_jaccard_joins_never_broadcast(spark):
    """ngram_jaccard_pairs' corpus-sized sides (the rare-shingle
    semi-join, the inverted-index self-join, the size joins) must not
    be planned as broadcasts — the r14 x100 sweep measured the
    unpinned plan dying on a 10.3 GiB deserialized broadcast that
    compressed stats had passed under the 64 MB threshold. At this
    tiny scale the size-based planner WOULD broadcast, so the assert
    is a live canary; join_hint=None restores size-based planning."""
    d = docs(spark)
    pinned = dd.ngram_jaccard_pairs(d, threshold=0.1, max_df=50)
    unpinned = dd.ngram_jaccard_pairs(
        d, threshold=0.1, max_df=50, join_hint=None
    )
    got_p = {(r.id_a, r.id_b) for r in pinned.collect()}
    got_u = {(r.id_a, r.id_b) for r in unpinned.collect()}
    assert got_p == got_u and (1, 2) in got_p

    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    uplan = unpinned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in uplan, uplan


def test_minhash_arrow_kernel_parity(spark, monkeypatch):
    """The minhash Arrow kernel (row-local shingles + numpy
    permutation-mins) must be BIT-exact to the DuckDB oracle's
    shingle-explode + MIN aggregate: same normalization, same
    md5-derived h32, same (h*a + b) % P, all-NULL mins for NULL text.
    Rerun with the per-task hash memo capped at one entry, so the
    clear-on-cap path runs on every shingle."""
    import duckdb

    from comp5339dataengineering_realtimefuelanalysis_spark.plans import (
        registry_llm as rl,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, ""),
        (3, None),
        (4, "ab"),
        (5, "  White\tspace\nruns  collapse \r here "),
        (6, "ünïcödé shingles straße " * 3),
        (7, "abcdeabcdeabcde"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    for cap in (dd._MEMO_CAP, 1):
        monkeypatch.setattr(dd, "_MEMO_CAP", cap)
        for k in (16, 48):
            want = {
                r[0]: tuple(r[1:])
                for r in con.execute(rl._sql_minhash_sig(k)).fetchall()
            }
            got = {
                r.doc_id: tuple(r[f"mh_{i}"] for i in range(k))
                for r in dd.minhash_signatures(df, num_hashes=k).collect()
            }
            assert got == want, (cap, k)
