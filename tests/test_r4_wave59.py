"""Wave-59 operators: per-predicate KG cardinality profile and exact
nested-median curriculum phases. Both oracle-paired; these tests replay
the cardinality flags and the quartile assignment in plain Python.
"""
from __future__ import annotations

import re
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestCardinalityProfile:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_cardinality_profile)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        triples = [(r.subj, r.pred, r.obj)
                   for r in q_kg_triples(spark, SF).collect()]
        out = defaultdict(Counter)
        inn = defaultdict(Counter)
        for s, p, o in triples:
            out[p][s] += 1
            inn[p][o] += 1
        got = {r.pred: r
               for r in q_kg_cardinality_profile(spark, SF).collect()}
        assert set(got) == set(out)
        for p in out:
            r = got[p]
            assert r.n_triples == sum(out[p].values())
            assert r.n_subj == len(out[p])
            assert r.n_obj == len(inn[p])
            assert r.max_out == max(out[p].values())
            assert r.max_in == max(inn[p].values())
            assert r.mean_out_ppm == (r.n_triples * 1000000
                                      // r.n_subj)
            assert r.functional == int(r.max_out == 1)
            assert r.inverse_functional == int(r.max_in == 1)

    def test_fanout_bounds(self, spark):
        """Mean fan-out is bracketed by 1 and max fan-out, and a
        functional predicate's mean is exactly 1.0 (1e6 ppm)."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_cardinality_profile)
        rows = q_kg_cardinality_profile(spark, SF).collect()
        assert rows
        for r in rows:
            assert 1000000 <= r.mean_out_ppm <= r.max_out * 1000000
            if r.functional:
                assert r.mean_out_ppm == 1000000


class TestCurriculum:
    def _difficulty(self, text: str) -> tuple[int, int]:
        s = text or ""
        toks = [t for t in re.split(r"\s+", s) if t]
        d = 0
        if toks:
            d += sum(len(t) for t in toks) * 1000000 // len(toks)
        if s:
            d += sum(ch.isdigit() and ch in "0123456789"
                     for ch in s) * 1000000 // len(s)
        return len(toks), d

    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_curriculum)

        def med(vals):
            v = sorted(vals)
            n = len(v)
            return v[n // 2] if n % 2 else (v[n // 2 - 1]
                                            + v[n // 2]) // 2

        scores = {}
        for r in _docs(spark, SF).collect():
            scores[r.doc_id] = self._difficulty(r.text)
        v = {k: d * 2 for k, (_, d) in scores.items()}
        m = med(v.values())
        q1 = med([x for x in v.values() if x <= m])
        q3 = med([x for x in v.values() if x >= m])
        exp_phase = {k: 1 + (x > q1) + (x > m) + (x > q3)
                     for k, x in v.items()}
        tot_docs = Counter(exp_phase.values())
        tot_toks = Counter()
        for k, ph in exp_phase.items():
            tot_toks[ph] += scores[k][0]
        got = {r.doc_id: r
               for r in q_curation_curriculum(spark, SF).collect()}
        assert set(got) == set(scores)
        for k, r in got.items():
            assert (r.n_tokens, r.difficulty) == scores[k]
            assert r.phase == exp_phase[k]
            assert r.phase_docs == tot_docs[r.phase]
            assert r.phase_tokens == tot_toks[r.phase]

    def test_phases_are_ordered_quartiles(self, spark):
        """Every doc gets a phase in 1..4; phases partition the corpus;
        max difficulty of phase p <= min difficulty of phase p+2 (the
        nested-median boundaries can tie across ADJACENT phases but
        never across two)."""
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_curriculum)
        rows = q_curation_curriculum(spark, SF).collect()
        assert {r.phase for r in rows} <= {1, 2, 3, 4}
        assert len(rows) == sum({r.phase: r.phase_docs
                                 for r in rows}.values())
        by_phase = defaultdict(list)
        for r in rows:
            by_phase[r.phase].append(r.difficulty)
        phases = sorted(by_phase)
        for a, b in zip(phases, phases[2:]):
            assert max(by_phase[a]) < min(by_phase[b])
