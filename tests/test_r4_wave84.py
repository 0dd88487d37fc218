"""Wave-84 operators: diagonal-Mahalanobis OOD scoring and the
day-of-month calendar-effect profile. Both oracle-paired; these tests
replay the chi-square fence and the weighted lift in plain Python.
"""
from __future__ import annotations

import math
from collections import Counter
from datetime import timedelta

SF = "/root/testdata/sf0.001"


class TestMahalanobisOod:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_mahalanobis_ood)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        vecs = {}
        for r in _tbl(spark, SF, "embeddings") \
                .select("vec_id", "embedding").collect():
            vecs[r.vec_id] = [
                int(math.floor(abs(x * 1e6) + 0.5))
                * (1 if x >= 0 else -1) for x in r.embedding]
        d = 64
        n = len(vecs)
        S = [0] * d
        SS = [0] * d
        for v in vecs.values():
            for i, c in enumerate(v):
                S[i] += c
                SS[i] += c * c
        expected = {}
        fence = d + 3.0 * math.sqrt(2.0 * d)
        for vid, v in vecs.items():
            acc = 0.0
            for i, c in enumerate(v):
                mu = S[i] / n
                var = (n * SS[i] - S[i] * S[i]) / (n * (n - 1.0))
                acc = acc + (c - mu) * (c - mu) / var
            expected[vid] = (round(acc, 6), int(acc > fence))
        got = {r.vec_id: (r.m2_score, r.is_ood)
               for r in q_sim_mahalanobis_ood(spark, SF).collect()}
        assert set(got) == set(expected)
        for vid, (s, flag) in expected.items():
            assert abs(got[vid][0] - s) < 1e-6
            assert got[vid][1] == flag

    def test_chisq_concentration(self, spark):
        """In-distribution scores concentrate near d: the mean score
        must sit within 20% of d, and OOD flags are rare (< 5%) on
        the iid fixture."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_mahalanobis_ood)
        rows = q_sim_mahalanobis_ood(spark, SF).collect()
        n = len(rows)
        mean = sum(r.m2_score for r in rows) / n
        d = rows[0].d
        assert 0.8 * d < mean < 1.2 * d
        assert sum(r.is_ood for r in rows) < 0.05 * n


class TestCalendarEffects:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_calendar_effects)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        d0, d1 = min(days), max(days)
        domc, per = Counter(), Counter()
        d = d0
        while d <= d1:
            domc[d.day] += 1
            d += timedelta(days=1)
        for dd, x in days.items():
            per[dd.day] += x
        n_tot = sum(per.values())
        cal_tot = sum(domc.values())
        lifts = {dom: per[dom] * cal_tot * 1000000
                 // (n_tot * domc[dom]) for dom in per}

        def med(vals):
            v = sorted(vals)
            m = len(v)
            return v[m // 2] if m % 2 else (v[m // 2 - 1]
                                            + v[m // 2]) // 2

        med2 = med([x * 2 for x in lifts.values()])
        mad4 = med([2 * abs(2 * x - med2) for x in lifts.values()])
        got = {r.dom: r
               for r in q_rel_calendar_effects(spark, SF).collect()}
        assert set(got) == set(per)
        for dom in per:
            r = got[dom]
            assert r.n_orders == per[dom]
            assert r.n_days == domc[dom]
            assert r.share_ppm == per[dom] * 1000000 // n_tot
            assert r.lift_ppm == lifts[dom]
            dev2 = abs(2 * lifts[dom] - med2)
            assert r.is_spike == int(dev2 * 10000 > 22239 * mad4)

    def test_lift_weights_short_doms(self, spark):
        """Days 29-31 exist in fewer months, so their n_days weights
        are strictly smaller than day 1's; lifts hover around 1e6."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_calendar_effects)
        got = {r.dom: r
               for r in q_rel_calendar_effects(spark, SF).collect()}
        assert got[31].n_days < got[1].n_days
        mean_lift = sum(r.lift_ppm for r in got.values()) / len(got)
        assert 800000 < mean_lift < 1200000
