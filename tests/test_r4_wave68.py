"""Wave-68 operators: monthly growth accounting and the record-highs
drift test. Both oracle-paired; these tests replay the MAU
decomposition and the records count in plain Python.
"""
from __future__ import annotations

from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestGrowthAccounting:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_growth_accounting)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        um = defaultdict(set)
        for r in _tbl(spark, SF, "events") \
                .select("user_id", "ts").collect():
            um[r.user_id].add(r.ts.year * 12 + r.ts.month - 1)
        monthly = defaultdict(lambda: Counter())
        churn = Counter()
        for u, months in um.items():
            ms = sorted(months)
            for i, m in enumerate(ms):
                if i == 0:
                    st = "new"
                elif ms[i - 1] == m - 1:
                    st = "retained"
                else:
                    st = "resurrected"
                monthly[m][st] += 1
                if i == len(ms) - 1 or ms[i + 1] > m + 1:
                    churn[m + 1] += 1
        expected = {}
        for m, c in monthly.items():
            mau = sum(c.values())
            ch = churn.get(m, 0)
            key = f"{m // 12:04d}-{m % 12 + 1:02d}"
            expected[key] = (mau, c["new"], c["retained"],
                             c["resurrected"], ch,
                             (c["new"] + c["resurrected"]) * 1000000
                             // max(ch, 1))
        got = {r.month: (r.mau, r.n_new, r.n_retained,
                         r.n_resurrected, r.n_churned,
                         r.quick_ratio_ppm)
               for r in q_rel_growth_accounting(spark, SF).collect()}
        assert got == expected

    def test_mau_decomposition(self, spark):
        """MAU = new + retained + resurrected for every month, and the
        first observed month is all-new."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_growth_accounting)
        rows = sorted(q_rel_growth_accounting(spark, SF).collect(),
                      key=lambda r: r.month)
        assert rows
        for r in rows:
            assert r.mau == r.n_new + r.n_retained + r.n_resurrected
        assert rows[0].n_new == rows[0].mau


class TestRecords:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_records)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        series = [x for _, x in sorted(days.items())]
        up = sum(1 for i, x in enumerate(series)
                 if all(y < x for y in series[:i]))
        down = sum(1 for i, x in enumerate(series)
                   if all(y > x for y in series[:i]))
        n = len(series)
        h = 0.0
        for k in range(1, n + 1):
            h = h + 1.0 / k
        row = q_stats_records(spark, SF).collect()[0]
        assert row.n_days == n
        assert row.n_up_records == up
        assert row.n_down_records == down
        assert abs(row.h_n - round(h, 6)) < 1e-9
        assert row.up_ppm == up * 1000000 // n
        assert row.down_ppm == down * 1000000 // n

    def test_first_day_is_both_records(self, spark):
        """Day one is trivially both a record high and a record low,
        so both counts are >= 1 and bounded by n_days."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_records)
        r = q_stats_records(spark, SF).collect()[0]
        assert 1 <= r.n_up_records <= r.n_days
        assert 1 <= r.n_down_records <= r.n_days
        assert r.h_n > 0
