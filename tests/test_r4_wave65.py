"""Wave-65 operators: join-cardinality estimator calibration over the
KG and the daily cross-correlation function. Both oracle-paired; these
tests replay the degree-product join size and the lagged Pearson r in
plain Python.
"""
from __future__ import annotations

import math
from collections import Counter
from datetime import timedelta

SF = "/root/testdata/sf0.001"


class TestJoinCardinality:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_join_cardinality)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        triples = [(r.subj, r.pred, r.obj)
                   for r in q_kg_triples(spark, SF).collect()]
        preds = sorted({p for _, p, _ in triples})
        outd, ind = Counter(), Counter()
        for s, p, o in triples:
            outd[(p, o)] += 1
            ind[(p, s)] += 1
        got = {(r.pred_a, r.pred_b): r
               for r in q_kg_join_cardinality(spark, SF).collect()}
        assert set(got) == {(a, b) for a in preds for b in preds}
        for pa in preds:
            for pb in preds:
                keys = ({k for (p, k) in outd if p == pa}
                        & {k for (p, k) in ind if p == pb})
                actual = sum(outd[(pa, k)] * ind[(pb, k)]
                             for k in keys)
                n_a = sum(1 for _, p, _ in triples if p == pa)
                n_b = sum(1 for _, p, _ in triples if p == pb)
                v_obj = len({o for _, p, o in triples if p == pa})
                v_subj = len({s for s, p, _ in triples if p == pb})
                est = n_a * n_b // max(v_obj, v_subj)
                r = got[(pa, pb)]
                assert r.actual == actual
                assert r.est == est
                assert r.q_error_ppm == (max(actual, est) * 1000000
                                         // max(min(actual, est), 1))
                assert r.overestimate == int(est >= actual)

    def test_qerror_floor(self, spark):
        """q-error is >= 1 (1e6 ppm) by construction, with equality
        exactly when the estimate is dead-on."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_join_cardinality)
        rows = q_kg_join_cardinality(spark, SF).collect()
        assert rows
        for r in rows:
            if min(r.actual, r.est) > 0:
                assert r.q_error_ppm >= 1000000
                if r.q_error_ppm == 1000000:
                    assert r.actual == r.est


class TestCcf:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            CCF_MAX_LAG, CCF_TYPE_X, CCF_TYPE_Y, _tbl)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_ccf)
        xs, ys = Counter(), Counter()
        days = set()
        for r in _tbl(spark, SF, "events") \
                .select("ts", "event_type").collect():
            d = r.ts.date()
            days.add(d)
            if r.event_type == CCF_TYPE_X:
                xs[d] += 1
            elif r.event_type == CCF_TYPE_Y:
                ys[d] += 1
        d0, d1 = min(days), max(days)
        cal = []
        d = d0
        while d <= d1:
            cal.append(d)
            d += timedelta(days=1)
        x = {d: xs.get(d, 0) for d in cal}
        y = {d: ys.get(d, 0) for d in cal}
        expected = {}
        for lg in range(-CCF_MAX_LAG, CCF_MAX_LAG + 1):
            pts = [(x[d], y[d + timedelta(days=lg)])
                   for d in cal if d + timedelta(days=lg) in y]
            n = len(pts)
            sx = sum(a for a, _ in pts)
            sy = sum(b for _, b in pts)
            sxx = sum(a * a for a, _ in pts)
            syy = sum(b * b for _, b in pts)
            sxy = sum(a * b for a, b in pts)
            vx, vy = n * sxx - sx * sx, n * syy - sy * sy
            r = (round((n * sxy - sx * sy)
                       / (math.sqrt(vx) * math.sqrt(vy)), 6)
                 if vx > 0 and vy > 0 else None)
            expected[lg] = (n, r)
        rmax = max(r for _, r in expected.values() if r is not None)
        got = {r.lag_days: r for r in q_stats_ccf(spark, SF).collect()}
        assert set(got) == set(expected)
        for lg, (n, r) in expected.items():
            assert got[lg].n == n
            if r is None:
                assert got[lg].r is None
            else:
                assert abs(got[lg].r - r) < 1e-9
            assert got[lg].is_peak == int(r == rmax)

    def test_overlap_shrinks_with_lag(self, spark):
        """|lag| days fall off the overlap: n(lag) = n(0) - |lag|, and
        exactly one peak value exists (ties share the flag)."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_ccf)
        rows = {r.lag_days: r for r in q_stats_ccf(spark, SF).collect()}
        n0 = rows[0].n
        for lg, r in rows.items():
            assert r.n == n0 - abs(lg)
        assert sum(r.is_peak for r in rows.values()) >= 1
