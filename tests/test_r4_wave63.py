"""Wave-63 operators: DAU/WAU stickiness via bounded explode and
Chapman capture-recapture population estimates per source pair. Both
oracle-paired; these tests replay the sliding distinct and the
estimator in plain Python.
"""
from __future__ import annotations

import hashlib
from collections import defaultdict
from datetime import timedelta
from itertools import combinations

SF = "/root/testdata/sf0.001"


class TestStickiness:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_stickiness)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        ud = {(r.user_id, r.ts.date())
              for r in _tbl(spark, SF, "events")
              .select("user_id", "ts").collect()}
        days = {d for _, d in ud}
        d0, d1 = min(days), max(days)
        expected = {}
        d = d0 + timedelta(days=6)
        while d <= d1:
            dau = len({u for u, x in ud if x == d})
            wau = len({u for u, x in ud
                       if d - timedelta(days=6) <= x <= d})
            expected[str(d)] = (dau, wau,
                                dau * 1000000 // wau if wau else 0)
            d += timedelta(days=1)
        got = {r.day: (r.dau, r.wau, r.stickiness_ppm)
               for r in q_rel_stickiness(spark, SF).collect()}
        assert got == expected

    def test_bounds(self, spark):
        """DAU <= WAU always (today's actives are a subset of the
        week's), so stickiness <= 1e6; the first reported day starts
        a full window after the series start."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_stickiness)
        rows = q_rel_stickiness(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.dau <= r.wau
            assert 0 <= r.stickiness_ppm <= 1000000


class TestPopulationEst:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_population_est)
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        per = defaultdict(set)
        for r in _docs(spark, SF).collect():
            per[r.source].add(
                hashlib.md5((r.text or "").encode()).hexdigest())
        expected = {}
        for sa, sb in combinations(sorted(per), 2):
            na, nb = len(per[sa]), len(per[sb])
            m = len(per[sa] & per[sb])
            chap = (na + 1) * (nb + 1) // (m + 1) - 1
            expected[(sa, sb)] = (na, nb, m, na + nb - m, chap,
                                  (na + nb - m) * 1000000 // chap)
        got = {(r.source_a, r.source_b):
               (r.n_a, r.n_b, r.overlap, r.union_obs, r.chapman_est,
                r.coverage_ppm)
               for r in q_dedup_population_est(spark, SF).collect()}
        assert got == expected

    def test_estimator_dominates_union(self, spark):
        """Chapman's estimate can never fall below max(nA, nB), and
        zero-overlap pairs give the (nA+1)(nB+1)-1 open-population
        ceiling."""
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_population_est)
        rows = q_dedup_population_est(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.chapman_est >= max(r.n_a, r.n_b)
            assert r.overlap <= min(r.n_a, r.n_b)
            if r.overlap == 0:
                assert r.chapman_est == (r.n_a + 1) * (r.n_b + 1) - 1
