"""Wave-55 operators: seasonal-naive forecast backtest and the
per-dimension embedding variance profile. Both oracle-paired; these
tests replay the month-lag join and the fixed-point variance in
plain Python.
"""
from __future__ import annotations

from collections import Counter, defaultdict

import math

SF = "/root/testdata/sf0.001"


class TestBacktest:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_backtest)
        monthly = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            monthly[r.o_orderdate.year * 12
                    + r.o_orderdate.month - 1] += 1
        pairs = {m: (x, monthly[m - 12])
                 for m, x in monthly.items() if m - 12 in monthly}
        sae = sum(abs(a - p) for a, p in pairs.values())
        sap = sum(a + p for a, p in pairs.values())
        smape = 2 * sae * 1_000_000 // sap
        expected = {m: (a, p, abs(a - p),
                        abs(a - p) * 1_000_000 // a, smape)
                    for m, (a, p) in pairs.items()}
        got = {r.month_idx: (r.actual, r.pred, r.abs_err, r.err_ppm,
                             r.smape_ppm)
               for r in q_stats_backtest(spark, SF).collect()}
        assert got == expected

    def test_backtest_coverage_and_bounds(self, spark):
        """The first 12 months have no year-ago observation and are
        excluded; sMAPE sits in [0, 2e6] (its algebraic range); the
        naive forecast is imperfect but not useless on the fixture
        (0 < sMAPE < 2e6)."""
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_backtest)
        rows = q_stats_backtest(spark, SF).collect()
        months = {r.month_idx for r in rows}
        all_months = {
            r.o_orderdate.year * 12 + r.o_orderdate.month - 1
            for r in _tbl(spark, SF, "orders").select("o_orderdate")
            .collect()}
        assert months == {m for m in all_months if m - 12 in all_months}
        sm = {r.smape_ppm for r in rows}
        assert len(sm) == 1
        assert 0 < sm.pop() < 2_000_000


class TestDimVariance:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            DIMVAR_DEAD_PPM, DIMVAR_SCALE, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_dim_variance)
        per = defaultdict(list)
        for r in _tbl(spark, SF, "embeddings").collect():
            for pos, v in enumerate(r.embedding):
                per[pos].append(math.floor(float(v) * DIMVAR_SCALE))
        var_u = {}
        for pos, vs in per.items():
            n, s, ss = len(vs), sum(vs), sum(v * v for v in vs)
            var_u[pos] = (n * ss - s * s) * 1_000_000 // (n * (n - 1))
        mean_u = sum(var_u.values()) // len(var_u)
        expected = {}
        for pos, vu in var_u.items():
            share = vu * 1_000_000 // max(mean_u, 1)
            expected[pos] = (vu, mean_u, share,
                             int(share < DIMVAR_DEAD_PPM))
        got = {r.pos: (r.var_u, r.mean_var_u, r.var_share_ppm,
                       r.is_dead)
               for r in q_sim_dim_variance(spark, SF).collect()}
        assert got == expected

    def test_healthy_fixture_has_no_dead_dims(self, spark):
        """The iid synthetic embeddings have comparable variance in
        every dimension: 64 rows, no dead flags, and every share
        within a loose band of the mean — the healthy baseline the
        detector is calibrated against (a planted zero column would
        read var_u = 0 -> dead by construction of the integer
        math)."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_dim_variance)
        rows = q_sim_dim_variance(spark, SF).collect()
        assert len(rows) == 64
        assert all(r.is_dead == 0 for r in rows)
        for r in rows:
            assert 500_000 <= r.var_share_ppm <= 2_000_000
