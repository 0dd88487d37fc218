"""Wave-79 operators: Kaplan-Meier user-lifetime survival and
dedup-tax attribution. Both oracle-paired; these tests replay the KM
product and the keep-first accounting in plain Python.
"""
from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestSurvival:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            SURVIVAL_CENSOR_DAYS, _tbl)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_survival)
        per = defaultdict(set)
        for r in _tbl(spark, SF, "events") \
                .select("user_id", "ts").collect():
            per[r.user_id].add(r.ts.date())
        gday = max(d for ds in per.values() for d in ds)
        lifes = []
        for ds in per.values():
            fd, ld = min(ds), max(ds)
            dead = int((gday - ld).days > SURVIVAL_CENSOR_DAYS)
            lifes.append(((ld - fd).days, dead))
        d_t, c_t = Counter(), Counter()
        for t, dead in lifes:
            (d_t if dead else c_t)[t] += 1
        ts = sorted(set(d_t) | set(c_t))
        expected = {}
        for t in ts:
            n_risk = sum(d_t[u] + c_t[u] for u in ts if u >= t)
            s = 1.0
            for u in ts:
                if u <= t and d_t[u] > 0:
                    nr = sum(d_t[v] + c_t[v] for v in ts if v >= u)
                    s = s * (1.0 - d_t[u] / nr)
            expected[t] = (n_risk, d_t[t], c_t[t], round(s, 6))
        got = {r.t: (r.n_risk, r.d, r.c, r.s_km)
               for r in q_stats_survival(spark, SF).collect()}
        assert set(got) == set(expected)
        for t, (nr, d, c, s) in expected.items():
            assert got[t][:3] == (nr, d, c)
            assert abs(got[t][3] - s) < 1e-9

    def test_km_is_monotone_nonincreasing(self, spark):
        """S(t) never rises with t, lives in [0,1], and the at-risk
        counts are non-increasing in t."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_survival)
        rows = sorted(q_stats_survival(spark, SF).collect(),
                      key=lambda r: r.t)
        assert rows
        for a, b in zip(rows, rows[1:]):
            assert b.s_km <= a.s_km + 1e-9
            assert b.n_risk <= a.n_risk
        for r in rows:
            assert -1e-9 <= r.s_km <= 1.0 + 1e-9


class TestDedupAttribution:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_attribution)
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        rows = [(r.source,
                 hashlib.md5((r.text or "").encode()).hexdigest())
                for r in _docs(spark, SF).collect()]
        keeper = {}
        for src, h in rows:
            keeper[h] = min(keeper.get(h, src), src)
        per = defaultdict(lambda: [0, 0])
        shadow = defaultdict(Counter)
        for src, h in rows:
            per[src][0] += 1
            if keeper[h] == src:
                per[src][1] += 1
            else:
                shadow[src][keeper[h]] += 1
        got = {r.source: r
               for r in q_dedup_attribution(spark, SF).collect()}
        assert set(got) == set(per)
        for src, (n, kept) in per.items():
            r = got[src]
            assert r.n_docs == n and r.n_kept == kept
            assert r.n_shadowed == n - kept
            assert r.shadowed_ppm == (n - kept) * 1000000 // n
            if shadow[src]:
                top = min(shadow[src],
                          key=lambda k: (-shadow[src][k], k))
                assert r.top_shadower == top
                assert r.top_shadow_cnt == shadow[src][top]
            else:
                assert r.top_shadower is None
                assert r.top_shadow_cnt == 0

    def test_keep_first_conservation(self, spark):
        """Every distinct text is kept exactly once: kept totals equal
        the distinct-hash count, and a source can never shadow
        lexicographically-earlier sources."""
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_attribution)
        rows = q_dedup_attribution(spark, SF).collect()
        for r in rows:
            if r.top_shadower is not None:
                assert r.top_shadower < r.source
