"""Wave-27 operators: owl:sameAs consolidation (fingerprint-keyed node
merge + triple rewrite) and MMR diversification of the search top-K.
Both oracle-paired; these tests replay each algorithm independently in
plain Python over the collected fixture tables and demand equality.
"""
from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestSameasClosure:
    def _mapping(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            SAMEAS_PREFIX, derived_transcripts)
        groups = defaultdict(list)
        for r in derived_transcripts(spark, SF).collect():
            node = f"turn:{r.conv_id}:{r.turn_idx}"
            groups[r.text[:SAMEAS_PREFIX]].append(node)
        return {n: min(ns) for ns in groups.values() for n in ns}

    def test_matches_python_rewrite_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_sameas_closure)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        mapping = self._mapping(spark)
        rewritten = {}
        for r in q_kg_triples(spark, SF).collect():
            subj = mapping[r.subj]
            obj = mapping[r.obj] if r.pred == "replies_to" else r.obj
            if subj == obj:
                continue
            key = (subj, r.pred, obj)
            rewritten[key] = max(rewritten.get(key, r.score), r.score)
        expected = {k + (round(v, 6),) for k, v in rewritten.items()}
        got = {(r.subj, r.pred, r.obj, r.score)
               for r in q_kg_sameas_closure(spark, SF).collect()}
        assert got == expected

    def test_closure_merges_and_is_idempotent(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_sameas_closure)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        mapping = self._mapping(spark)
        merged = {n for n, c in mapping.items() if n != c}
        assert merged, "fixture must contain fingerprint-equivalent turns"
        out = q_kg_sameas_closure(spark, SF).collect()
        before = q_kg_triples(spark, SF).count()
        assert 0 < len(out) < before
        # every emitted endpoint is already canonical -> re-applying the
        # mapping is the identity (closure is idempotent)
        for r in out:
            assert mapping[r.subj] == r.subj
            if r.pred == "replies_to":
                assert mapping[r.obj] == r.obj
            assert r.subj != r.obj


class TestSearchMMR:
    def test_matches_python_greedy_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            MMR_K, MMR_LAMBDA_NUM, MMR_SELECT)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_cds, q_kg_search)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_search_mmr)
        cand = q_kg_search(spark, SF).collect()
        assert len(cand) == MMR_K
        rel = {r.subj_key: (MMR_K - r.rank + 1) * 1_000_000 // MMR_K
               for r in cand}
        csets = defaultdict(set)
        keys = set(rel)
        for r in q_kg_cds(spark, SF).collect():
            if r.subj_key in keys:
                csets[r.subj_key].add(r.cds_concept)

        def jac(a, b):
            i = len(csets[a] & csets[b])
            u = len(csets[a] | csets[b])
            return i * 1_000_000 // u if u else 0

        lam, lam_c = MMR_LAMBDA_NUM, 10 - MMR_LAMBDA_NUM
        selected, expected = [], []
        remaining = sorted(rel)
        for step in range(1, MMR_SELECT + 1):
            best = None
            for c in remaining:
                ms = max((jac(c, s) for s in selected), default=0)
                mmr = (lam * rel[c] + lam_c * (1_000_000 - ms)) // 10
                if best is None or (-mmr, c) < best[0]:
                    best = ((-mmr, c), c, mmr)
            _, c, mmr = best
            selected.append(c)
            remaining.remove(c)
            expected.append((c, step, mmr))
        got = sorted(((r.subj_key, r.mmr_rank, r.mmr_ppm)
                      for r in q_kg_search_mmr(spark, SF).collect()),
                     key=lambda t: t[1])
        assert got == expected

    def test_first_pick_is_top_relevance(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_search
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_search_mmr)
        top1 = {r.rank: r.subj_key
                for r in q_kg_search(spark, SF).collect()}[1]
        mmr1 = {r.mmr_rank: r.subj_key
                for r in q_kg_search_mmr(spark, SF).collect()}[1]
        assert mmr1 == top1
