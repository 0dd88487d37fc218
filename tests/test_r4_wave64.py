"""Wave-64 operators: exact-integer p-chart over the daily error rate
and the per-source PII exposure audit. Both oracle-paired; these tests
replay the cross-multiplied 3-sigma fence and the regex counting in
plain Python.
"""
from __future__ import annotations

import re
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestControlChart:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_control_chart)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        n_day, x_day = Counter(), Counter()
        for r in _tbl(spark, SF, "events") \
                .select("ts", "event_type").collect():
            d = str(r.ts.date())
            n_day[d] += 1
            x_day[d] += int(r.event_type == "error")
        big_n, s = sum(n_day.values()), sum(x_day.values())
        expected = {}
        for d, n in n_day.items():
            x = x_day[d]
            ooc = int((x * big_n - s * n) ** 2 > 9 * s * (big_n - s)
                      * n)
            side = ("high" if x * big_n > s * n
                    else "low" if x * big_n < s * n else "center")
            expected[d] = (n, x, x * 1000000 // n,
                           s * 1000000 // big_n, ooc, side)
        got = {r.day: (r.n, r.x, r.rate_ppm, r.center_ppm,
                       r.out_of_control, r.side)
               for r in q_stats_control_chart(spark, SF).collect()}
        assert got == expected

    def test_fence_is_three_sigma(self, spark):
        """The integer fence agrees with the float 3-sigma p-chart
        limit on every day (the cross-multiplication is exact, the
        float version is the textbook formula)."""
        import math
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_control_chart)
        rows = q_stats_control_chart(spark, SF).collect()
        assert rows
        big_n = sum(r.n for r in rows)
        s = sum(r.x for r in rows)
        pbar = s / big_n
        for r in rows:
            sigma = math.sqrt(pbar * (1 - pbar) / r.n)
            flo = int(abs(r.x / r.n - pbar) > 3 * sigma + 1e-15)
            assert r.out_of_control == flo


class TestPiiAudit:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.operators.textstats import (
            RX_EMAIL, RX_PHONE, RX_URL)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_pii_audit)
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        agg = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
        for r in _docs(spark, SF).collect():
            t = r.text or ""
            em = len(re.findall(RX_EMAIL, t))
            ur = len(re.findall(RX_URL, t))
            ph = len(re.findall(RX_PHONE, t))
            a = agg[r.source]
            a[0] += 1
            a[1] += em
            a[2] += ur
            a[3] += ph
            a[4] += int(em + ur + ph > 0)
            a[5] += len(t)
        expected = {}
        for src, (nd, em, ur, ph, dw, nc) in agg.items():
            expected[src] = (
                nd, em, ur, ph, dw, dw * 1000000 // nd,
                (em + ur + ph) * 1000000000 // nc if nc else 0)
        got = {r.source: (r.n_docs, r.n_emails, r.n_urls, r.n_phones,
                          r.docs_with_pii, r.exposure_ppm,
                          r.hits_per_gchar)
               for r in q_curation_pii_audit(spark, SF).collect()}
        assert got == expected

    def test_planted_pii_is_counted(self, spark):
        """A crafted corpus with known PII plants yields exact counts
        per category and exposure."""
        # patch the module that OWNS the query fn (post-split, a query
        # resolves _docs from its defining plans.queries.* module)
        import otd_semantic_framework_spark.plans.queries.curation as dq
        rows = [
            (1, "mail me at alice@example.com or bob@test.org", "a",
             "en", 0),
            (2, "see https://ex.com/x and http://y.io", "a", "en", 0),
            (3, "call +1 (555) 123-4567 now", "b", "en", 0),
            (4, "clean prose only", "b", "en", 0),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string,"
                  " lang string, n_chars long")
        orig = dq._docs
        try:
            dq._docs = lambda _s, _d: df
            got = {r.source: r
                   for r in dq.q_curation_pii_audit(spark, SF)
                   .collect()}
        finally:
            dq._docs = orig
        assert got["a"].n_emails == 2 and got["a"].n_urls == 2
        assert got["a"].docs_with_pii == 2
        assert got["b"].n_phones == 1
        assert got["b"].docs_with_pii == 1
        assert got["b"].exposure_ppm == 500000
