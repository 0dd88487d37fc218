"""Wave-72 operators: kNN majority-vote label-noise detection and the
monthly revenue-concentration (HHI) trend. Both oracle-paired; these
tests replay the votes and the concentration math in plain Python.
"""
from __future__ import annotations

from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestLabelSmooth:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.operators.simsearch import (
            knn_graph)
        from otd_semantic_framework_spark.plans.queries._shared import (
            KNNG_K, KNNG_N_PLANES, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_knn_label_smooth)
        vecs = _tbl(spark, SF, "embeddings")
        labels = {r.vec_id: r.label
                  for r in vecs.select("vec_id", "label").collect()}
        votes = defaultdict(Counter)
        for r in knn_graph(vecs, k=KNNG_K,
                           n_planes=KNNG_N_PLANES).collect():
            votes[r.src][labels[r.dst]] += 1
        got = {r.vec_id: r
               for r in q_sim_knn_label_smooth(spark, SF).collect()}
        assert set(got) == set(labels)
        for vid, own in labels.items():
            r = got[vid]
            assert r.label == own
            v = votes.get(vid, Counter())
            if v:
                maj = min(v, key=lambda c: (-v[c], c))
                assert r.majority_label == maj
                assert r.majority_votes == v[maj]
                assert r.own_votes == v.get(own, 0)
                assert r.k_used == sum(v.values())
                assert r.suspect == int(
                    maj != own and v[maj] - v.get(own, 0) >= 2)
            else:
                assert r.k_used == 0 and r.suspect == 0

    def test_suspects_exist_on_iid_labels(self, spark):
        """The fixture's labels are geometry-independent, so a
        nontrivial share of nodes must look mislabeled — the detector
        fires — but never a node whose own label IS the majority."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_knn_label_smooth)
        rows = q_sim_knn_label_smooth(spark, SF).collect()
        assert any(r.suspect for r in rows)
        for r in rows:
            if r.suspect:
                assert r.majority_label != r.label
                assert r.majority_votes - r.own_votes >= 2


class TestHhiTrend:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_hhi_trend)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        per = defaultdict(Counter)
        for r in _tbl(spark, SF, "orders") \
                .select("o_orderdate", "o_custkey", "o_totalprice") \
                .collect():
            mn = r.o_orderdate.year * 12 + r.o_orderdate.month - 1
            # engines round half AWAY from zero; Python round() banks
            import math
            per[mn][r.o_custkey] += int(
                math.floor(abs(r.o_totalprice) + 0.5))
        expected = {}
        for mn, c in per.items():
            rev = sum(c.values())
            sq = sum(x * x for x in c.values())
            hhi = sq // max(rev * rev // 1000000, 1)
            band = ("high" if hhi >= 250000
                    else "moderate" if hhi >= 150000 else "low")
            key = f"{mn // 12:04d}-{mn % 12 + 1:02d}"
            expected[key] = (len(c), rev, hhi,
                             max(c.values()) * 1000000 // rev, band)
        got = {r.month: (r.n_customers, r.rev, r.hhi_ppm,
                         r.top_share_ppm, r.band)
               for r in q_rel_hhi_trend(spark, SF).collect()}
        assert got == expected

    def test_hhi_bounds(self, spark):
        """HHI lives in (1/n, 1]: at least 1e6/n ppm (perfect
        spread) and at most ~1e6 (monopoly); the top share bounds it
        below."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_hhi_trend)
        rows = q_rel_hhi_trend(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.hhi_ppm <= 1000000 + 1000
            assert r.hhi_ppm * r.n_customers >= 900000
            assert r.top_share_ppm <= 1000000
