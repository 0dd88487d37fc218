"""Invariant tests for conversation episode segmentation and the
nDCG@10 search evaluation."""

from __future__ import annotations

from otd_semantic_framework_spark.plans.queries._shared import EPISODE_JACCARD
from otd_semantic_framework_spark.plans.queries.kg1 import (
    q_kg_episodes, q_kg_search_ndcg)

SF = "/root/testdata/sf0.001"


def test_episodes_invariants(spark):
    rows = q_kg_episodes(spark, SF).collect()
    assert rows
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append(r)
    for conv, rs in by_conv.items():
        rs.sort(key=lambda r: r.turn_idx)
        # first tagged turn opens episode 1 with no previous-overlap
        assert rs[0].episode == 1 and rs[0].jac_prev is None
        for prev, cur in zip(rs, rs[1:]):
            assert cur.jac_prev is not None
            assert 0.0 <= cur.jac_prev <= 1.0
            if cur.jac_prev < EPISODE_JACCARD:
                assert cur.episode == prev.episode + 1
            else:
                assert cur.episode == prev.episode


def test_episodes_boundaries_exercised(spark):
    rows = q_kg_episodes(spark, SF).collect()
    # the corpus must exercise BOTH branches: some turns continue an
    # episode, some open a new one
    continues = sum(1 for r in rows
                    if r.jac_prev is not None
                    and r.jac_prev >= EPISODE_JACCARD)
    breaks = sum(1 for r in rows
                 if r.jac_prev is not None and r.jac_prev < EPISODE_JACCARD)
    assert breaks > 0, "no topic shifts detected — threshold inert"
    assert continues > 0, "no episode continuations — threshold inert"


def test_ndcg_invariants(spark):
    r = q_kg_search_ndcg(spark, SF).collect()[0]
    assert r.k == 10
    assert 0 <= r.dcg_ppm <= r.idcg_ppm
    assert 0 <= r.ndcg_ppm <= 1000000


def test_degree_dist_consistent(spark):
    from otd_semantic_framework_spark.plans.queries.kg1 import (
        q_kg_degree_dist, q_kg_triples)
    rows = q_kg_degree_dist(spark, SF).collect()
    t = q_kg_triples(spark, SF)
    assert sum(r.n_nodes for r in rows) \
        == t.select("subj").distinct().count()
    assert sum(r.degree * r.n_nodes for r in rows) == t.count()


def test_coverage_partition(spark):
    from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_coverage
    rows = q_kg_coverage(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_tagged + r.n_untagged == r.n_concepts
    # the synthetic root is never a mention target -> gap exercised
    assert any(r.n_untagged > 0 for r in rows)
