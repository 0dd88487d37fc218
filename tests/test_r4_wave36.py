"""Wave-36 operators: RAG mention-context windows and per-domain
reweighting table. Both oracle-paired; these tests replay the window
assembly and weight arithmetic in plain Python.
"""
from __future__ import annotations

from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestMentionContexts:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            derived_transcripts)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_canonical)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_mention_contexts)
        turns = defaultdict(list)
        for r in derived_transcripts(spark, SF) \
                .select("conv_id", "turn_idx").collect():
            turns[r.conv_id].append(r.turn_idx)
        nbr = {}
        for conv, idxs in turns.items():
            idxs.sort()
            for i, t in enumerate(idxs):
                nbr[(conv, t)] = (idxs[i - 1] if i > 0 else None,
                                  idxs[i + 1] if i + 1 < len(idxs)
                                  else None)
        agg = {}
        for r in q_kg_canonical(spark, SF).collect():
            k = (r.conv_id, r.turn_idx, r.concept_id)
            agg[k] = max(agg.get(k, r.link_score), r.link_score)
        expected = set()
        for (conv, t, cid), sc in agg.items():
            prev, nxt = nbr[(conv, t)]
            ctx = 1 + (prev is not None) + (nxt is not None)
            expected.add((conv, t, cid, round(sc, 6), prev, nxt, ctx))
        got = {(r.conv_id, r.turn_idx, r.concept_id, r.link_score,
                r.prev_turn_idx, r.next_turn_idx, r.ctx_size)
               for r in q_kg_mention_contexts(spark, SF).collect()}
        assert got == expected
        # edge turns (ctx 2) and interior turns (ctx 3) both occur
        sizes = {t[6] for t in got}
        assert {2, 3} <= sizes


class TestDomainWeights:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            DOMAIN_WEIGHT_CAP_PPM, _docs)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_domain_weights)
        counts = Counter(r.lang for r in _docs(spark, SF).collect())
        total = sum(counts.values())
        nd = len(counts)
        expected = {}
        for lang, n in counts.items():
            w = min(DOMAIN_WEIGHT_CAP_PPM,
                    total * 1_000_000 // (nd * n))
            expected[lang] = (n, w, 1 if w == DOMAIN_WEIGHT_CAP_PPM
                              else 0)
        got = {r.lang: (r.n_docs, r.weight_ppm, r.capped)
               for r in q_curation_domain_weights(spark, SF).collect()}
        assert got == expected
        # rebalancing is real: the over-represented domain sits below
        # parity and some under-represented domain above
        ws = [v[1] for v in got.values()]
        assert min(ws) < 1_000_000 < max(ws)

    def test_weighted_mass_is_balanced(self, spark):
        """Reweighting restores parity: n_docs * weight_ppm is (floor-)
        equal across uncapped domains."""
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_domain_weights)
        rows = [r for r in q_curation_domain_weights(spark, SF).collect()
                if r.capped == 0]
        masses = {r.lang: r.n_docs * r.weight_ppm for r in rows}
        lo, hi = min(masses.values()), max(masses.values())
        # floor division loses at most one n_docs quantum per domain
        assert hi - lo <= max(r.n_docs for r in rows)
