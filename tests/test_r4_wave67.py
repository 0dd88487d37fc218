"""Wave-67 operators: Population Stability Index drift between span
halves and per-user dormancy/resurrection profiles. Both oracle-paired;
these tests replay the smoothed PSI and the gap accounting in Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestPsi:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_psi)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        rows = _tbl(spark, SF, "events").select("ts", "value").collect()
        es = [int(r.ts.replace(microsecond=0).timestamp()) for r in rows]
        t0, t1 = min(es), max(es)
        ca, cb = Counter(), Counter()
        for r, e in zip(rows, es):
            cents = int(math.floor(abs((r.value or 0.0) * 100) + 0.5))
            b = (max(cents, 0) + 1).bit_length() - 1
            (cb if e * 2 >= t0 + t1 else ca)[b] += 1
        bins = sorted(set(ca) | set(cb))
        na, nb, k = sum(ca.values()), sum(cb.values()), len(bins)
        contribs = {}
        for b in bins:
            pa = (ca[b] + 1) / (na + k)
            pb = (cb[b] + 1) / (nb + k)
            contribs[b] = round((pa - pb) * math.log(pa / pb), 6)
        psi = 0.0
        for b in bins:
            psi = psi + contribs[b]
        psi = round(psi, 6)
        got = {r.bin: r for r in q_stats_psi(spark, SF).collect()}
        assert set(got) == set(bins)
        for b in bins:
            r = got[b]
            assert r.c_a == ca[b] and r.c_b == cb[b]
            assert r.pa_ppm == (ca[b] + 1) * 1000000 // (na + k)
            assert r.pb_ppm == (cb[b] + 1) * 1000000 // (nb + k)
            assert abs(r.contrib - contribs[b]) < 1e-9
            assert abs(r.psi - psi) < 1e-9
            assert r.action_flag == int(psi > 0.2)

    def test_psi_nonnegative_and_symmetric_zero(self, spark):
        """Every PSI contribution is >= 0 ((p-q) and ln(p/q) share
        sign), so the total is >= 0; identical halves would give 0."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_psi)
        rows = q_stats_psi(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.contrib >= -1e-12
        assert rows[0].psi >= 0


class TestDormancy:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            PSI_DORMANT_DAYS, _tbl)
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_dormancy)
        per = defaultdict(set)
        for r in _tbl(spark, SF, "events") \
                .select("user_id", "ts").collect():
            per[r.user_id].add(r.ts.date())
        gday = max(d for ds in per.values() for d in ds)
        expected = {}
        for u, ds in per.items():
            days = sorted(ds)
            gaps = [(b - a).days for a, b in zip(days, days[1:])]
            expected[u] = (
                len(days), (days[-1] - days[0]).days,
                max(gaps) if gaps else 0,
                sum(1 for g in gaps if g > PSI_DORMANT_DAYS),
                int((gday - days[-1]).days > PSI_DORMANT_DAYS))
        got = {r.user_id: (r.n_active_days, r.span_days,
                           r.max_gap_days, r.n_resurrections,
                           r.currently_dormant)
               for r in q_rel_dormancy(spark, SF).collect()}
        assert got == expected

    def test_gap_identities(self, spark):
        """The max gap cannot exceed the span, and resurrection count
        is bounded by active-day transitions."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_dormancy)
        rows = q_rel_dormancy(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.max_gap_days <= r.span_days
            assert r.n_resurrections <= max(r.n_active_days - 1, 0)
