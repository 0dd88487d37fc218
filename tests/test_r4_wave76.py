"""Wave-76 operators: circadian concentration per event stream and the
deterministic-sampler bias audit. Both oracle-paired; these tests
replay the circular sums and the L1 in plain Python.
"""
from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestCircadian:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            CIRCADIAN_COS_NANO, CIRCADIAN_SIN_NANO, _tbl)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_circadian)
        hh = defaultdict(Counter)
        for r in _tbl(spark, SF, "events") \
                .select("event_type", "ts").collect():
            hh[r.event_type][r.ts.hour] += 1
        expected = {}
        for et, c in hh.items():
            n = sum(c.values())
            cx = sum(v * CIRCADIAN_COS_NANO[h] for h, v in c.items())
            cy = sum(v * CIRCADIAN_SIN_NANO[h] for h, v in c.items())
            peak = min(c, key=lambda h: (-c[h], h))
            r = math.sqrt(float(cx) * cx + float(cy) * cy) / (n * 1e3)
            r_ppm = int(math.floor(abs(r) + 0.5))
            expected[et] = (n, peak, c[peak] * 1000000 // n, r_ppm)
        got = {r.event_type: (r.n, r.peak_hour, r.peak_share_ppm,
                              r.r_ppm)
               for r in q_stats_circadian(spark, SF).collect()}
        assert got == expected

    def test_trig_constants_are_unit(self, spark):
        """The injected constants are nano-units of a unit circle:
        cos^2 + sin^2 ~ 1e18 per hour, and R lives in [0, 1e6]."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            CIRCADIAN_COS_NANO, CIRCADIAN_SIN_NANO)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_circadian)
        for h in range(24):
            s2 = (CIRCADIAN_COS_NANO[h] ** 2
                  + CIRCADIAN_SIN_NANO[h] ** 2)
            assert abs(s2 - 10 ** 18) < 4 * 10 ** 9
        for r in q_stats_circadian(spark, SF).collect():
            assert 0 <= r.r_ppm <= 1000000
            assert 0 <= r.peak_hour <= 23


class TestSampleAudit:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            SAMPLE_AUDIT_PCT, _docs)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_sample_audit)
        per = defaultdict(lambda: [0, 0])
        for r in _docs(spark, SF).collect():
            h = int(hashlib.md5(str(r.doc_id).encode())
                    .hexdigest()[:4], 16)
            s = int(h * 100 < 65536 * SAMPLE_AUDIT_PCT)
            per[r.source][0] += 1
            per[r.source][1] += s
        nc = sum(v[0] for v in per.values())
        ns = sum(v[1] for v in per.values())
        num = sum(abs(v[1] * nc - v[0] * ns) for v in per.values())
        l1 = num * 1000000 // max(nc * ns, 1)
        got = {r.source: r
               for r in q_curation_sample_audit(spark, SF).collect()}
        assert set(got) == set(per)
        for src, (c, s) in per.items():
            r = got[src]
            assert r.n_corpus == c and r.n_sample == s
            assert r.rate_ppm == s * 1000000 // c
            d = (s * nc - c * ns) * 1000000
            dd = max(ns, 1) * nc
            expect_delta = d // dd if d >= 0 else -((-d) // dd)
            assert r.share_delta_ppm == expect_delta
            assert r.l1_ppm == l1

    def test_sampler_is_roughly_unbiased(self, spark):
        """The doc_id-keyed md5 sampler lands near 10% overall. The
        fixture has only ~25 docs per source, so per-source shares
        carry real binomial noise — the L1 read is bounded by its
        theoretical max (2.0), not pinned tight (at sf0.1's 250
        docs/source it drops well under 0.2)."""
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_sample_audit)
        rows = q_curation_sample_audit(spark, SF).collect()
        assert rows
        nc = sum(r.n_corpus for r in rows)
        ns = sum(r.n_sample for r in rows)
        assert 0.05 < ns / nc < 0.15
        assert 0 <= rows[0].l1_ppm <= 2000000
