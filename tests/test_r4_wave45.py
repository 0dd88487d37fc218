"""Wave-45 operators: cohort lifetime-value curve and day-of-week
seasonality decomposition. Both oracle-paired; these tests replay the
cohort triangle and the R^2 algebra in plain Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestLtvCurve:
    def _orders(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        out = []
        for r in _tbl(spark, SF, "orders").collect():
            m = r.o_orderdate.year * 12 + r.o_orderdate.month - 1
            out.append((r.o_custkey, m, math.floor(r.o_totalprice)))
        return out

    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import q_rel_ltv
        orders = self._orders(spark)
        cohort = {}
        for ck, m, _ in orders:
            cohort[ck] = min(cohort.get(ck, m), m)
        cohort_n = Counter(cohort.values())
        per = defaultdict(lambda: [set(), 0])
        for ck, m, rev in orders:
            key = (cohort[ck], m - cohort[ck])
            per[key][0].add(ck)
            per[key][1] += rev
        expected = {}
        for (cm, age), (active, rev) in per.items():
            cum = sum(v[1] for (c2, a2), v in per.items()
                      if c2 == cm and a2 <= age)
            expected[(cm, age)] = (len(active), rev, cum, cohort_n[cm],
                                   cum // cohort_n[cm])
        got = {(r.cohort_month, r.age_months):
               (r.n_active, r.revenue, r.cum_revenue, r.n_cohort,
                r.cum_rev_per_customer)
               for r in q_rel_ltv(spark, SF).collect()}
        assert got == expected

    def test_ltv_monotone_and_conserving(self, spark):
        """Cumulative revenue is non-decreasing in age within a
        cohort, age-0 rows exist for every cohort (a cohort's first
        month is active by construction), and total revenue across
        the triangle's period cells equals the orders total."""
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        from otd_semantic_framework_spark.plans.queries.rel2 import q_rel_ltv
        rows = q_rel_ltv(spark, SF).collect()
        by_cohort = defaultdict(dict)
        for r in rows:
            by_cohort[r.cohort_month][r.age_months] = r
        for cm, ages in by_cohort.items():
            assert 0 in ages
            path = [ages[a].cum_revenue for a in sorted(ages)]
            assert path == sorted(path)
            assert ages[max(ages)].cum_revenue == \
                sum(ages[a].revenue for a in ages)
        total = sum(r.revenue for r in rows)
        expected_total = sum(
            math.floor(r.o_totalprice)
            for r in _tbl(spark, SF, "orders").collect())
        assert total == expected_total


class TestSeasonality:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_seasonality)
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        g = defaultdict(lambda: [0, 0, 0])
        for d, x in days.items():
            dow = d.isoweekday()
            g[dow][0] += 1
            g[dow][1] += x
            g[dow][2] += x * x
        n = sum(v[0] for v in g.values())
        st = sum(v[1] for v in g.values())
        sst = sum(v[2] for v in g.values())
        fit_u = sum(v[1] * v[1] * 1_000_000 // v[0] for v in g.values())
        ve = round(1.0 - float(sst * 1_000_000 - fit_u)
                   / float(sst * 1_000_000 - st * st * 1_000_000 // n),
                   6)
        expected = {dow: (v[0], v[1], round(float(v[1]) / float(v[0]), 6),
                          ve)
                    for dow, v in g.items()}
        got = {r.dow: (r.n_days, r.n_orders, r.mean_orders,
                       r.variance_explained)
               for r in q_stats_seasonality(spark, SF).collect()}
        assert got == expected

    def test_r2_bounds_and_dow_coverage(self, spark):
        """All 7 ISO weekdays appear, variance_explained is a valid
        R^2 in [0, 1], and the dow means are not all equal (else the
        decomposition reads nothing)."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_seasonality)
        rows = q_stats_seasonality(spark, SF).collect()
        assert sorted(r.dow for r in rows) == list(range(1, 8))
        ve = {r.variance_explained for r in rows}
        assert len(ve) == 1
        assert 0.0 <= ve.pop() <= 1.0
        assert len({r.mean_orders for r in rows}) > 1
