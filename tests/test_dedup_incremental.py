"""Tests for incremental batch-vs-corpus near-dup flagging and the
per-conversation KG rollup."""

from __future__ import annotations

from otd_semantic_framework_spark.operators.dedup import incremental_near_dup


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_flags_exact_and_near(spark):
    old = _df(spark, [(1, "alpha beta gamma delta"),
                      (2, "one two three four"),
                      (3, "completely different words here")])
    new = _df(spark, [(10, "alpha beta gamma delta"),        # exact
                      (11, "alpha beta gamma epsilon"),      # 3/5 = 0.6
                      (12, "zz yy xx ww")])                  # no overlap
    got = {r.doc_id: r for r in
           incremental_near_dup(new, old, threshold=0.9).collect()}
    assert got[10].is_dup == 1 and got[10].best_match == 1
    assert got[10].best_jaccard == 1.0
    assert got[11].is_dup == 0 and got[11].best_match == 1
    assert abs(got[11].best_jaccard - 0.6) < 1e-9
    assert got[12].is_dup == 0 and got[12].best_match is None
    assert got[12].best_jaccard == 0.0


def test_incremental_best_match_tiebreak(spark):
    # two old docs with identical similarity: lowest old_id wins
    old = _df(spark, [(5, "a b c"), (4, "a b c")])
    new = _df(spark, [(10, "a b c")])
    r = incremental_near_dup(new, old).collect()[0]
    assert r.best_match == 4 and r.best_jaccard == 1.0 and r.is_dup == 1


def test_incremental_empty_corpus(spark):
    old = _df(spark, [])
    new = _df(spark, [(1, "a b")])
    r = incremental_near_dup(new, old).collect()[0]
    assert r.is_dup == 0 and r.best_match is None


def test_conv_rollup_consistency(spark):
    # rollup counts must agree with direct recomputes on the same input
    from otd_semantic_framework_spark.plans.queries._shared import (
        derived_transcripts, _mentions_df)
    from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_conv_rollup
    sf = "/root/testdata/sf0.001"
    out = {r.conv_id: r for r in q_kg_conv_rollup(spark, sf).collect()}
    t = derived_transcripts(spark, sf)
    turns = {r.conv_id: r.n for r in
             t.groupBy("conv_id").count().withColumnRenamed("count", "n")
             .collect()}
    assert {c: r.n_turns for c, r in out.items()} == turns
    m = _mentions_df(spark, sf)
    nc = {r.conv_id: r.n for r in
          m.select("conv_id", "concept_id").distinct()
          .groupBy("conv_id").count().withColumnRenamed("count", "n")
          .collect()}
    for c, r in out.items():
        assert r.n_concepts == nc.get(c, 0)
        if r.n_concepts:
            assert r.top_mentions >= 1 and r.top_concept is not None
