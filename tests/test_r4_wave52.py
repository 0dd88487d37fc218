"""Wave-52 operators: PQ-vs-exact recall evaluation and per-language
tokenizer fertility. Both oracle-paired; these tests replay the
recall join and the fertility arithmetic in plain Python.
"""
from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestPqRecall:
    def test_matches_composition_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            SIM_TOP_K)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_pq_recall, q_sim_pq_topk, q_sim_topk_cosine)
        bf = defaultdict(set)
        for r in q_sim_topk_cosine(spark, SF).collect():
            bf[r.qid].add(r.cid)
        pq = defaultdict(set)
        for r in q_sim_pq_topk(spark, SF).collect():
            pq[r.qid].add(r.cid)
        expected = {q: (len(bf[q] & pq.get(q, set())),
                        len(bf[q] & pq.get(q, set())) * 1_000_000
                        // SIM_TOP_K)
                    for q in bf}
        got = {r.qid: (r.n_hits, r.recall_ppm)
               for r in q_sim_pq_recall(spark, SF).collect()}
        assert got == expected

    def test_recall_bounds_and_signal(self, spark):
        """Every query vector reports, recall sits in [0, 1e6], and
        the int8+PQ lossy path is imperfect-but-useful on the fixture
        (mean recall strictly between 0 and 1 keeps the eval honest —
        a 100% reading would suggest the truth leaked into the
        approximate path)."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            N_QUERY_VECS)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_pq_recall)
        rows = q_sim_pq_recall(spark, SF).collect()
        assert len(rows) == N_QUERY_VECS
        for r in rows:
            assert 0 <= r.recall_ppm <= 1_000_000
        mean = sum(r.recall_ppm for r in rows) / len(rows)
        assert 0 < mean < 1_000_000


class TestFertility:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_fertility)
        per = defaultdict(lambda: [0, 0, 0])
        for r in _docs(spark, SF).collect():
            txt = r.text or ""
            per[r.lang][0] += 1
            per[r.lang][1] += len(txt)
            per[r.lang][2] += len([t for t in txt.lower().split() if t])
        t_total = sum(v[2] for v in per.values())
        expected = {lang: (v[0], v[1], v[2],
                           v[1] * 1_000_000 // v[2],
                           v[2] * 1_000_000 // t_total)
                    for lang, v in per.items()}
        got = {r.lang: (r.n_docs, r.chars, r.tokens,
                        r.chars_per_token_ppm, r.token_share_ppm)
               for r in q_curation_fertility(spark, SF).collect()}
        assert got == expected

    def test_fertility_semantics(self, spark):
        """Fertility >= 1 char/token everywhere (a token has at least
        one char), token shares sum to ~1e6, and all five fixture
        languages report."""
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_fertility)
        rows = q_curation_fertility(spark, SF).collect()
        assert len(rows) == 5
        for r in rows:
            assert r.chars_per_token_ppm >= 1_000_000
        tot = sum(r.token_share_ppm for r in rows)
        assert 1_000_000 - len(rows) <= tot <= 1_000_000
