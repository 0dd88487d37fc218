"""Wave-35 operators: lineage impact analysis for incremental rebuilds
and the vocabulary-coverage / OOV-rate curve. Both oracle-paired;
these tests replay each report in plain Python.
"""
from __future__ import annotations

from collections import Counter

SF = "/root/testdata/sf0.001"


class TestImpactAnalysis:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            IMPACT_CONV_SUFFIX)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_cds, q_kg_search, q_kg_triples)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_impact_analysis)
        ch = lambda c: c.endswith(IMPACT_CONV_SUFFIX)  # noqa: E731
        trip = q_kg_triples(spark, SF).collect()
        t_aff = sum(1 for r in trip if ch(r.subj.split(":")[1]))
        conc = {}
        for r in trip:
            if r.pred == "mentions":
                conc[r.obj] = max(conc.get(r.obj, 0),
                                  1 if ch(r.subj.split(":")[1]) else 0)
        cds = q_kg_cds(spark, SF).collect()
        c_aff = sum(1 for r in cds if ch(r.subj_key.split(":")[1]))
        top = q_kg_search(spark, SF).collect()
        s_aff = sum(1 for r in top if ch(r.subj_key.split(":")[1]))
        expected = {
            "triples": (t_aff, len(trip)),
            "cds_rows": (c_aff, len(cds)),
            "concepts": (sum(conc.values()), len(conc)),
            "search_top20": (s_aff, len(top)),
        }
        expected = {k: (a, t, a * 1_000_000 // t)
                    for k, (a, t) in expected.items()}
        got = {r.artifact: (r.affected, r.total, r.share_ppm)
               for r in q_kg_impact_analysis(spark, SF).collect()}
        assert got == expected
        # the changed set is a strict, non-empty subset everywhere
        for a, t, _ in got.values():
            assert 0 < a < t


class TestVocabCoverage:
    def test_matches_python_replay_and_monotone(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            VOCAB_COV_SIZES, _docs)
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_vocab_coverage)
        counts = Counter()
        for r in _docs(spark, SF).collect():
            for t in r.text.lower().split(" "):
                if t:
                    counts[t] += 1
        total = sum(counts.values())
        ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expected = {}
        for n in VOCAB_COV_SIZES:
            cov = sum(c for _, c in ordered[:n])
            expected[n] = (cov, total, cov * 1_000_000 // total)
        got = {r.vocab_n: (r.covered, r.total, r.coverage_ppm)
               for r in q_text_vocab_coverage(spark, SF).collect()}
        assert got == expected
        # coverage is monotone in vocab size and approaches full mass
        # at the corpus's tiny vocabulary
        sizes = sorted(got)
        covs = [got[n][2] for n in sizes]
        assert covs == sorted(covs)
        assert covs[-1] > 900_000
        assert covs[0] < covs[-1]
