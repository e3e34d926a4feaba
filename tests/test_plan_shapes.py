"""Plan-shape guards for the curation path: every per-row intermediate
is a projected column computed once, never an expression re-inlined into
a lambda, a duplicated subtree or a pushed-down join condition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from comp5339dataengineering_realtimefuelanalysis_spark.functions.caching import (
    release_tracked,
)
from comp5339dataengineering_realtimefuelanalysis_spark.operators import dedup as dd
from comp5339dataengineering_realtimefuelanalysis_spark.operators import selection as sel
from comp5339dataengineering_realtimefuelanalysis_spark.plans import registry_llm as rl

from tests.conftest import SF_SMOKE
from plan_inspect import calls, executed_plan, first_conjunct, join_conditions

DOCS = [
    (1, "The quick  brown fox jumps over the lazy dog", "en"),
    (2, "the quick brown fox jumps over the lazy cat", "en"),
    (3, None, "en"),
    (4, "völlig anderer Inhalt über Spark", "de"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


def test_word_ngrams_never_renormalize_inside_a_lambda(spark):
    """The n-gram transform lambdas of lm_ppl_score (both target forms)
    and dsir_weights read a projected word array: the normalization
    regex runs once per row, not once per n-gram."""
    d = _docs(spark)
    frames = {
        "lm_ppl_score(column target)": sel.lm_ppl_score(
            d, target=F.col("lang") == "en", buckets=64
        ),
        "lm_ppl_score(frame target)": sel.lm_ppl_score(
            d, target=d.filter(F.col("lang") == "en"), buckets=64
        ),
        "dsir_weights": sel.dsir_weights(
            d, target=F.col("lang") == "en", buckets=64
        ),
    }
    try:
        for name, df in frames.items():
            plan = executed_plan(df)
            lambdas = calls(plan, "lambdafunction")
            assert lambdas, name
            bad = [f for f in lambdas if "regexp_replace" in f]
            assert not bad, (name, bad)
    finally:
        release_tracked()


def test_jaccard_verify_intersects_each_candidate_once(spark):
    """The sets join sees every length-bound survivor; the first
    conjunct of its condition (the one evaluated on every candidate)
    holds exactly one array_intersect."""
    d = spark.createDataFrame(
        [(i, t) for i, t, _ in DOCS if t is not None], "doc_id long, text string"
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 4), (2, 4)], "id_a long, id_b long"
    )
    try:
        out = dd.jaccard_verify_pairs(d, cands, threshold=0.5)
        plan = executed_plan(out)
        conds = [
            c for c in join_conditions(plan) if "array_intersect(" in c
        ]
        assert len(conds) == 1, plan
        assert len(calls(first_conjunct(conds[0]), "array_intersect")) == 1, (
            conds[0]
        )
        assert {(r.id_a, r.id_b) for r in out.collect()} == {(1, 2)}
    finally:
        release_tracked()


class _Stop(Exception):
    pass


def test_shingle_sets_are_built_without_collect_set(spark, monkeypatch, tmp_path):
    """The verified-pair build and the pipeline's stage-6 frame take
    their shingle sets from the row-local builder: no shingle explode
    grouped back through a collect_set shuffle."""
    verify_frames = []
    real = dd.jaccard_verify_pairs

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        verify_frames.append(out)
        return out

    def build_here(family, params, inputs, build):
        path = str(tmp_path / family)
        build(path)
        return path

    monkeypatch.setattr(dd, "jaccard_verify_pairs", spy)
    monkeypatch.setattr(rl, "materialize", build_here)
    stage6 = {}

    def stop_at_6(name, thunk):
        out = thunk()
        if name == "6_shingle_sets":
            stage6["frame"] = out
            raise _Stop
        return out

    try:
        rl._verified_pairs_for(spark, SF_SMOKE)
        assert len(verify_frames) == 1
        plan = executed_plan(verify_frames[0])
        assert "collect_set" not in plan, plan
        with pytest.raises(_Stop):
            rl._curation_stages_1_9(spark, SF_SMOKE, stop_at_6)
        plan = stage6["frame"]._jdf.queryExecution().executedPlan().toString()
        assert "collect_set" not in plan, plan
    finally:
        release_tracked()
