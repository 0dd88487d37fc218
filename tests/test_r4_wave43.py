"""Wave-43 operators: daily-order-count autocorrelation and the
per-epoch mixture-annealing schedule. Both oracle-paired; these tests
replay the ACF algebra and the integer interpolation in plain Python.
"""
from __future__ import annotations

import math
from collections import Counter

SF = "/root/testdata/sf0.001"


class TestAutocorr:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            ACF_MAX_LAG, _tbl)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_autocorr)
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        n, s = len(days), sum(days.values())
        ss = sum(x * x for x in days.values())
        m = float(s) / float(n)
        denom = float(ss) - float(n) * m * m
        expected = {}
        import datetime
        for k in range(1, ACF_MAX_LAG + 1):
            pairs = [(x, days[d + datetime.timedelta(days=k)])
                     for d, x in days.items()
                     if d + datetime.timedelta(days=k) in days]
            sxy = sum(a * b for a, b in pairs)
            sa, sb = sum(a for a, _ in pairs), sum(b for _, b in pairs)
            num = float(sxy) - m * (float(sa) + float(sb)) \
                + float(len(pairs)) * m * m
            expected[k] = (len(pairs), round(num / denom, 6))
        got = {r.lag: (r.n_pairs, r.acf)
               for r in q_stats_autocorr(spark, SF).collect()}
        assert got == expected

    def test_acf_bounds_and_pair_counts(self, spark):
        """|r_k| stays within the biased-ACF bound (<= 1 up to float
        slack), pair counts shrink (weakly) with lag on a near-
        contiguous calendar, and the lags 1..7 are all present."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            ACF_MAX_LAG)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_autocorr)
        rows = sorted(q_stats_autocorr(spark, SF).collect(),
                      key=lambda r: r.lag)
        assert [r.lag for r in rows] == list(range(1, ACF_MAX_LAG + 1))
        for r in rows:
            assert abs(r.acf) <= 1.0 + 1e-6
            assert r.n_pairs > 0


class TestAnnealSchedule:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            ANNEAL_EPOCHS, ANNEAL_WEIGHT_SCALE, _docs)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_anneal)
        counts = Counter(r.lang for r in _docs(spark, SF).collect())
        w = {s: math.floor(math.sqrt(float(c)) * ANNEAL_WEIGHT_SCALE)
             for s, c in counts.items()}
        D, W = len(counts), sum(w.values())
        uni = 1_000_000 // D
        expected = {}
        for s, c in counts.items():
            tgt = w[s] * 1_000_000 // W
            for e in range(ANNEAL_EPOCHS):
                wt = ((ANNEAL_EPOCHS - 1 - e) * uni + e * tgt) \
                    // (ANNEAL_EPOCHS - 1)
                expected[(e, s)] = (c, uni, tgt, wt)
        got = {(r.epoch, r.lang): (r.n_docs, r.uniform_ppm,
                                   r.target_ppm, r.weight_ppm)
               for r in q_curation_anneal(spark, SF).collect()}
        assert got == expected

    def test_schedule_endpoints_and_monotonicity(self, spark):
        """Epoch 0 is exactly uniform, the final epoch is exactly the
        smoothed target, the path is monotone per language, and each
        epoch's weights sum to 1e6 within D ppm of floor slack."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            ANNEAL_EPOCHS)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_anneal)
        rows = q_curation_anneal(spark, SF).collect()
        by_src = {}
        for r in rows:
            by_src.setdefault(r.lang, {})[r.epoch] = r
        assert len(by_src) > 1
        moved = False
        for src, es in by_src.items():
            assert es[0].weight_ppm == es[0].uniform_ppm
            last = es[ANNEAL_EPOCHS - 1]
            assert last.weight_ppm == last.target_ppm
            path = [es[e].weight_ppm for e in range(ANNEAL_EPOCHS)]
            assert path == sorted(path) or path == sorted(path,
                                                          reverse=True)
            if path[0] != path[-1]:
                moved = True
        assert moved, "fixture languages must have a non-uniform target"
        D = len(by_src)
        for e in range(ANNEAL_EPOCHS):
            tot = sum(es[e].weight_ppm for es in by_src.values())
            assert 1_000_000 - 2 * D <= tot <= 1_000_000
