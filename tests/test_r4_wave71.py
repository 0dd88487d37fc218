"""Wave-71 operators: transition-conditioned error cascade and the
monthly fulfillment latency profile. Both oracle-paired; these tests
replay the conditional rates and the delay medians in plain Python.
"""
from __future__ import annotations

from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestErrorCascade:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_error_cascade)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        per_user = defaultdict(list)
        for r in _tbl(spark, SF, "events") \
                .select("user_id", "ts", "event_id", "event_type") \
                .collect():
            per_user[r.user_id].append((r.ts, r.event_id, r.event_type))
        trans, errs = Counter(), Counter()
        for evs in per_user.values():
            evs.sort()
            for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
                trans[a] += 1
                if b == "error":
                    errs[a] += 1
        n_all = sum(trans.values())
        e_all = sum(errs.values())
        got = {r.prev_type: r
               for r in q_rel_error_cascade(spark, SF).collect()}
        assert set(got) == set(trans)
        for t in trans:
            r = got[t]
            assert r.n_trans == trans[t]
            assert r.n_err == errs[t]
            assert r.err_rate_ppm == errs[t] * 1000000 // trans[t]
            assert r.base_rate_ppm == e_all * 1000000 // n_all
            assert r.lift_ppm == (errs[t] * n_all * 1000000
                                  // (trans[t] * e_all))

    def test_lift_is_rate_over_base(self, spark):
        """The base rate is the pooled transition error rate, and each
        row's lift replays as n_err*n_all/(n_trans*e_all)."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_error_cascade)
        rows = q_rel_error_cascade(spark, SF).collect()
        assert rows
        n_all = sum(r.n_trans for r in rows)
        e_all = sum(r.n_err for r in rows)
        for r in rows:
            assert r.base_rate_ppm == e_all * 1000000 // n_all
            assert r.lift_ppm == (r.n_err * n_all * 1000000
                                  // (r.n_trans * e_all))


class TestFulfillment:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_fulfillment)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        orders = {r.o_orderkey: r.o_orderdate.date()
                  for r in _tbl(spark, SF, "orders")
                  .select("o_orderkey", "o_orderdate").collect()}
        per = defaultdict(list)
        for r in _tbl(spark, SF, "lineitem") \
                .select("l_orderkey", "l_shipdate").collect():
            od = orders[r.l_orderkey]
            mn = od.year * 12 + od.month - 1
            per[mn].append((r.l_shipdate.date() - od).days)
        expected = {}
        for mn, ds in per.items():
            d2 = sorted(x * 2 for x in ds)
            n = len(d2)
            med2 = d2[n // 2] if n % 2 else (d2[n // 2 - 1]
                                             + d2[n // 2]) // 2
            key = f"{mn // 12:04d}-{mn % 12 + 1:02d}"
            s = sum(ds)
            # engines' integer division truncates toward zero
            mean = s // n if s >= 0 else -((-s) // n)
            expected[key] = (
                n, med2, mean, max(ds),
                sum(1 for x in ds if x <= 30) * 1000000 // n,
                sum(1 for x in ds if x <= 90) * 1000000 // n)
        got = {r.month: (r.n_lines, r.med2_days, r.mean_days,
                         r.max_days, r.within_30d_ppm,
                         r.within_90d_ppm)
               for r in q_rel_fulfillment(spark, SF).collect()}
        assert got == expected

    def test_sla_shares_are_nested(self, spark):
        """within-30d share can never exceed within-90d share, and the
        median is bounded by the max."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_fulfillment)
        rows = q_rel_fulfillment(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.within_30d_ppm <= r.within_90d_ppm <= 1000000
            assert r.med2_days <= 2 * r.max_days
