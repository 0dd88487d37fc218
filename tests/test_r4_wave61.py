"""Wave-61 operators: per-event-type index of dispersion (Fano factor)
over gap-filled hourly arrivals and per-user behavioral entropy. Both
oracle-paired; these tests replay the dispersion and entropy math in
plain Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict
from datetime import timedelta

SF = "/root/testdata/sf0.001"


class TestDispersion:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_dispersion)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        rows = _tbl(spark, SF, "events") \
            .select("event_type", "ts").collect()
        hour = {r.ts.replace(minute=0, second=0, microsecond=0)
                for r in rows}
        h0, h1 = min(hour), max(hour)
        hourly = Counter((r.event_type,
                          r.ts.replace(minute=0, second=0,
                                       microsecond=0)) for r in rows)
        types = {r.event_type for r in rows}
        expected = {}
        for et in types:
            xs = []
            h = h0
            while h <= h1:
                xs.append(hourly.get((et, h), 0))
                h += timedelta(hours=1)
            n, s1 = len(xs), sum(xs)
            s2 = sum(x * x for x in xs)
            vmr = round((n * s2 - s1 * s1) / ((n - 1) * s1), 6)
            chi = round((n * s2 - s1 * s1) / s1, 6)
            expected[et] = (n, s1, max(xs), s1 * 1000000 // n, vmr,
                            chi, int(n * s2 - s1 * s1 > (n - 1) * s1))
        got = {r.event_type: (r.n_hours, r.s1, r.max_hour, r.mean_ppm,
                              r.vmr, r.chi_stat, r.overdispersed)
               for r in q_stats_dispersion(spark, SF).collect()}
        assert got == expected

    def test_gap_fill_shared_span(self, spark):
        """Every type is measured over the SAME global hour span (the
        gap-fill), so n_hours is identical across rows and at least
        the number of distinct observed hours."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_dispersion)
        rows = q_stats_dispersion(spark, SF).collect()
        assert len({r.n_hours for r in rows}) == 1
        assert all(r.vmr >= 0 for r in rows)
        assert all(r.overdispersed == int(r.vmr > 1.0)
                   for r in rows)


class TestUserEntropy:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_user_entropy)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        per = defaultdict(Counter)
        for r in _tbl(spark, SF, "events") \
                .select("user_id", "event_type").collect():
            per[r.user_id][r.event_type] += 1
        expected = {}
        for u, c in per.items():
            n = sum(c.values())
            # deterministic fold in event_type order, init 0.0
            acc = 0.0
            for t in sorted(c):
                acc = acc + c[t] * math.log2(c[t])
            ent = round(math.log2(n) - acc / n, 6)
            dom = min(c, key=lambda t: (-c[t], t))
            expected[u] = (n, len(c), ent, dom,
                           c[dom] * 1000000 // n)
        got = {r.user_id: (r.n_events, r.n_types, r.entropy,
                           r.dominant_type, r.dom_ppm)
               for r in q_rel_user_entropy(spark, SF).collect()}
        assert got == expected

    def test_entropy_bounds(self, spark):
        """0 <= H <= log2(n_types); single-type users land exactly on
        0; the dominant share is always >= 1/n_types."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_user_entropy)
        rows = q_rel_user_entropy(spark, SF).collect()
        assert rows
        for r in rows:
            assert -1e-9 <= r.entropy <= math.log2(r.n_types) + 1e-9
            if r.n_types == 1:
                assert r.entropy == 0.0 and r.dom_ppm == 1000000
            assert r.dom_ppm * r.n_types >= 1000000 - r.n_types
