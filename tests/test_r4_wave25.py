"""Wave-25 operators: personalized PageRank (random-walk-with-restart)
and pseudo-relevance-feedback search. Both oracle-paired; these tests
pin the fixed-point arithmetic against a driver-side integer replay and
the PRF expansion/rescore against a pandas recount.
"""
from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestPersonalizedPageRank:
    def test_matches_integer_replay_on_planted_graph(self, spark):
        """Tiny planted graph: replay the exact-BIGINT recurrence in
        plain Python dicts and demand bit-equality."""
        from otd_semantic_framework_spark.operators.graph import (
            personalized_pagerank_exact)
        edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
                 ("d", "a"), ("e", "f")]  # f: seed-unreachable sink
        triples = spark.createDataFrame(
            [(s, "p", o) for s, o in edges], "subj string, pred string, obj string")
        seeds_l = ["a", "d"]
        seeds = spark.createDataFrame([(s,) for s in seeds_l], "node string")
        out = {r.node: r.rank for r in
               personalized_pagerank_exact(triples, seeds, iterations=4)
               .collect()}

        out_deg = defaultdict(int)
        for s, _ in edges:
            out_deg[s] += 1
        nodes = sorted({n for e in edges for n in e})
        rank = {n: (1_000_000 if n in seeds_l else 0) for n in nodes}
        for _ in range(4):
            inflow = defaultdict(int)
            for s, o in edges:
                inflow[o] += rank[s] // out_deg[s]
            rank = {n: (150_000 if n in seeds_l else 0)
                    + (850 * inflow[n]) // 1000 for n in nodes}
        expected = {n: r for n, r in rank.items() if r > 0}
        assert out == expected
        # e/f never receive seed mass: dropped, not emitted as zeros
        assert "f" not in out and "e" not in out

    def test_restart_mass_only_on_seeds(self, spark):
        """On the fixture KG, every seed holds at least the restart
        floor (150000) and every emitted non-seed rank is pure inflow
        — strictly positive but with no 150000 base injected."""
        from otd_semantic_framework_spark.plans.queries.kg2 import q_kg_ppr
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        seeds = {r.subj for r in q_kg_triples(spark, SF)
                 .filter("pred = 'uses_tool'").select("subj")
                 .distinct().collect()}
        rows = q_kg_ppr(spark, SF).collect()
        assert rows, "fixture produced an empty PPR frontier"
        got_seed = got_nonseed = 0
        for r in rows:
            assert r.rank_ppm > 0
            if r.node in seeds:
                assert r.rank_ppm >= 150_000
                got_seed += 1
            else:
                got_nonseed += 1
        assert got_seed > 0 and got_nonseed > 0


class TestSearchPRF:
    def test_expansion_and_rescore_match_pandas_recount(self, spark):
        """Replay the whole PRF algorithm (feedback top-10, expansion
        top-3 excluding query concepts, damped weights, rescore,
        top-20) over the CDS table in pandas and demand equality."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            PRF_BETA, PRF_FB_DOCS, PRF_FB_TERMS, SEARCH_QUERY)
        from otd_semantic_framework_spark.plans.driver_ontology import (
            driver_gazetteer, driver_scores)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_cds
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_search_prf)
        from otd_semantic_framework_spark import semantics as S

        norm = S.normalize_text(SEARCH_QUERY)
        gaz = driver_gazetteer()
        surfaces = sorted({m[0] for m in S.find_mentions(norm, gaz)})
        scores = driver_scores()
        q = (scores[scores.surface.isin(surfaces)]
             .groupby("concept_id", as_index=False)["cos_sim"].max()
             .rename(columns={"cos_sim": "weight"}).round({"weight": 6}))
        qw = dict(zip(q.concept_id, q.weight))

        cds = q_kg_cds(spark, SF).toPandas()
        cds["w"] = cds.cds_concept.map(qw)
        base = (cds.dropna(subset=["w"])
                .assign(x=lambda d: d.score * d.w)
                .groupby("subj_key")["x"].sum().round(6)
                .reset_index(name="base_score")
                .sort_values(["base_score", "subj_key"],
                             ascending=[False, True]))
        fb = set(base.head(PRF_FB_DOCS).subj_key)
        exp = (cds[cds.subj_key.isin(fb)
                   & ~cds.cds_concept.isin(qw)]
               .groupby("cds_concept")["score"].sum().round(6)
               .reset_index(name="mass")
               .sort_values(["mass", "cds_concept"],
                            ascending=[False, True])
               .head(PRF_FB_TERMS))
        weights = dict(qw)
        for _, r in exp.iterrows():
            weights[r.cds_concept] = round(r.mass * PRF_BETA, 6)
        cds["fw"] = cds.cds_concept.map(weights)
        final = (cds.dropna(subset=["fw"])
                 .assign(x=lambda d: d.score * d.fw)
                 .groupby("subj_key")["x"].sum().round(6)
                 .reset_index(name="prf_score")
                 .sort_values(["prf_score", "subj_key"],
                              ascending=[False, True]).head(20))
        expected = [(r.subj_key, i + 1, r.prf_score)
                    for i, (_, r) in enumerate(final.iterrows())]
        got = [(r.subj_key, r.rank, r.prf_score)
               for r in q_kg_search_prf(spark, SF).collect()]
        got.sort(key=lambda t: t[1])
        assert got == expected
        # the recount itself must have exercised a real expansion
        assert len(exp) == PRF_FB_TERMS
        assert not set(exp.cds_concept) & set(qw)

    def test_expansion_changes_the_ranking(self, spark):
        """PRF must not be a no-op: at least one subject's score
        differs from the base (query-concepts-only) scoring."""
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_search
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_search_prf)
        base = {r.subj_key: r.search_score
                for r in q_kg_search(spark, SF).collect()}
        prf = {r.subj_key: r.prf_score
               for r in q_kg_search_prf(spark, SF).collect()}
        common = set(base) & set(prf)
        assert common, "no overlap between base and PRF top-20"
        assert any(base[k] != prf[k] for k in common)
