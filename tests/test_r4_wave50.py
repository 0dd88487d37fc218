"""Wave-50 operators: Chao1 unseen-vocabulary estimate and the
per-conversation topical-concentration (HHI) profile. Both
oracle-paired; these tests replay the frequency-of-frequency algebra
and the concentration math in plain Python.
"""
from __future__ import annotations

from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestChao1:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_chao1)
        freq = Counter()
        for r in _docs(spark, SF).collect():
            t = [x for x in (r.text or "").lower().split() if x]
            for i in range(len(t) - 2):
                freq[" ".join(t[i:i + 3])] += 1
        v = len(freq)
        n = sum(freq.values())
        f1 = sum(1 for c in freq.values() if c == 1)
        f2 = sum(1 for c in freq.values() if c == 2)
        chao1 = round(float(v) + float(f1) * (float(f1) - 1.0)
                      / (2.0 * (float(f2) + 1.0)), 6)
        cov = round(1.0 - float(f1) / float(n), 6)
        row = q_stats_chao1(spark, SF).collect()[0]
        assert (row.v_obs, row.n_grams, row.f1, row.f2) == (v, n, f1, f2)
        assert row.chao1 == chao1
        assert row.coverage_gt == cov

    def test_estimator_semantics(self, spark):
        """Chao1 never estimates FEWER types than observed, coverage
        sits in (0, 1], and the fixture has genuine singletons (else
        the estimator is inert)."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_chao1)
        row = q_stats_chao1(spark, SF).collect()[0]
        assert row.chao1 >= row.v_obs
        assert row.f1 > 0 and row.chao1 > row.v_obs
        assert 0.0 < row.coverage_gt <= 1.0


class TestTopicFocus:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            HHI_SCALE)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_cds
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_topic_focus)
        per = defaultdict(list)
        for r in q_kg_cds(spark, SF).collect():
            per[r.subj_key].append(int(round(r.score * HHI_SCALE)))
        expected = {}
        for k, ss in per.items():
            mass, mass2 = sum(ss), sum(x * x for x in ss)
            expected[k] = (len(ss), mass,
                           mass2 * 1_000_000 // (mass * mass),
                           round(float(mass) * float(mass)
                                 / float(mass2), 6))
        got = {r.subj_key: (r.n_concepts, r.mass, r.hhi_ppm,
                            r.effective_topics)
               for r in q_kg_topic_focus(spark, SF).collect()}
        assert got == expected

    def test_concentration_bounds_and_signal(self, spark):
        """effective_topics is bounded by [1, n_concepts], HHI by
        [1e6/n, 1e6], and the fixture conversations genuinely differ
        in focus (the read has signal)."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_topic_focus)
        rows = q_kg_topic_focus(spark, SF).collect()
        assert len(rows) == 50
        for r in rows:
            assert 1.0 - 1e-6 <= r.effective_topics \
                <= r.n_concepts + 1e-6
            assert 1_000_000 // r.n_concepts - 1 <= r.hhi_ppm \
                <= 1_000_000
        assert len({r.effective_topics for r in rows}) > 5
