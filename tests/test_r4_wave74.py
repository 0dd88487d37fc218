"""Wave-74 operators: TwoNN intrinsic-dimension estimate and the
learned domain/range conformance audit. Both oracle-paired; these
tests replay the estimator and the namespace dominants in Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestIntrinsicDim:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.operators.simsearch import (
            knn_graph)
        from otd_semantic_framework_spark.plans.queries._shared import (
            KNNG_N_PLANES, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_intrinsic_dim)
        vecs = _tbl(spark, SF, "embeddings")
        per = defaultdict(dict)
        for r in knn_graph(vecs, k=2,
                           n_planes=KNNG_N_PLANES).collect():
            d = 1000000 - int(math.floor(abs(r.cos * 1000000) + 0.5)
                              * (1 if r.cos >= 0 else -1))
            per[r.src][r.rk] = d
        n_vecs = vecs.count()
        used, s_nano = 0, 0
        for src, ds in per.items():
            if 1 in ds and 2 in ds and ds[1] > 0:
                used += 1
                q = math.log(ds[2] / ds[1]) * 1e9
                s_nano += int(math.floor(abs(q) + 0.5)
                              * (1 if q >= 0 else -1))
        row = q_sim_intrinsic_dim(spark, SF).collect()[0]
        assert row.n_vecs == n_vecs
        assert row.n_used == used
        assert row.sum_ln_nano == s_nano
        assert row.n_skipped == n_vecs - used
        if s_nano > 0:
            assert abs(row.id_hat
                       - round(used * 1e9 / s_nano, 6)) < 1e-9

    def test_estimate_is_plausible(self, spark):
        """Hash-derived iid embeddings are genuinely high-dimensional:
        the TwoNN read must land well above a low-dim manifold (>5)
        and the log-ratio sum must be positive (d2 > d1)."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_intrinsic_dim)
        r = q_sim_intrinsic_dim(spark, SF).collect()[0]
        assert r.sum_ln_nano > 0
        assert r.id_hat is not None and r.id_hat > 5
        assert r.n_used + r.n_skipped == r.n_vecs


class TestDomainRangeAudit:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_domain_range_audit)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        triples = [(r.subj, r.pred, r.obj)
                   for r in q_kg_triples(spark, SF).collect()]
        sns_c, ons_c = defaultdict(Counter), defaultdict(Counter)
        for s, p, o in triples:
            sns_c[p][s.split(":", 1)[0]] += 1
            ons_c[p][o.split(":", 1)[0]] += 1
        got = {r.pred: r
               for r in q_kg_domain_range_audit(spark, SF).collect()}
        assert set(got) == set(sns_c)
        for p in sns_c:
            dom = min(sns_c[p], key=lambda k: (-sns_c[p][k], k))
            rng = min(ons_c[p], key=lambda k: (-ons_c[p][k], k))
            n = sum(sns_c[p].values())
            conform = sum(
                1 for s, pp, o in triples
                if pp == p and s.split(":", 1)[0] == dom
                and o.split(":", 1)[0] == rng)
            r = got[p]
            assert r.dom_ns == dom and r.rng_ns == rng
            assert r.n_triples == n
            assert r.n_conform == conform
            assert r.violation_ppm == (n - conform) * 1000000 // n

    def test_clean_pipeline_conforms(self, spark):
        """The engine's own extraction is namespace-disciplined, so
        every predicate should read 0 violations — this audit is the
        regression tripwire for extraction bugs."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_domain_range_audit)
        rows = q_kg_domain_range_audit(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.violation_ppm == 0
            assert r.n_conform == r.n_triples
