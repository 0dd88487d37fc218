"""Wave-69 operators: daily event-mix JSD anomaly detection and the
embedding norm-hygiene audit. Both oracle-paired; these tests replay
the divergence and the norm histogram in plain Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestMixShift:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_mix_shift)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        dt = defaultdict(Counter)
        tot = Counter()
        for r in _tbl(spark, SF, "events") \
                .select("ts", "event_type").collect():
            dt[str(r.ts.date())][r.event_type] += 1
            tot[r.event_type] += 1
        n_all = sum(tot.values())
        types = sorted(tot)
        expected = {}
        for day, c in dt.items():
            n = sum(c.values())
            acc = 0.0
            for t in sorted(c):
                acc = acc + c[t] * math.log2(c[t])
            ent = round(math.log2(n) - acc / n, 6)
            jsd = 0.0
            for t in sorted(c):
                p = c[t] / n
                q = tot[t] / n_all
                m = (p + q) / 2.0
                jsd = jsd + (p / 2.0 * math.log2(p / m)
                             + q / 2.0 * math.log2(q / m))
            for t in types:
                if t not in c:
                    jsd = jsd + (tot[t] / n_all) / 2.0 * 1.0
            jsd = round(jsd, 6)
            expected[day] = (n, ent, jsd, int(jsd > 0.1))
        got = {r.day: (r.n_day, r.mix_entropy, r.jsd_bits, r.shifted)
               for r in q_stats_mix_shift(spark, SF).collect()}
        assert set(got) == set(expected)
        for day, (n, ent, jsd, fl) in expected.items():
            r = got[day]
            assert r[0] == n
            assert abs(r[1] - ent) < 1e-9
            assert abs(r[2] - jsd) < 1e-9
            assert r[3] == fl

    def test_jsd_bounds(self, spark):
        """Base-2 JSD lives in [0, 1]; entropy in [0, log2(|types|)]."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_mix_shift)
        rows = q_stats_mix_shift(spark, SF).collect()
        assert rows
        for r in rows:
            assert -1e-9 <= r.jsd_bits <= 1.0 + 1e-9
            assert r.mix_entropy >= -1e-9


class TestNormAudit:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_norm_audit)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        n2s = []
        nan = 0
        for r in _tbl(spark, SF, "embeddings") \
                .select("embedding").collect():
            acc = 0.0
            has_nan = 0
            for x in r.embedding:
                xd = float(x)
                if math.isnan(xd):
                    has_nan = 1
                acc = acc + xd * xd
            nan += has_nan
            n2s.append(int(math.floor(abs(acc * 1000000) + 0.5)))
        hist = Counter((v + 1).bit_length() - 1 for v in n2s)
        got = {r.bin: r for r in q_sim_norm_audit(spark, SF).collect()}
        assert {b: r.n_vecs for b, r in got.items()} == dict(hist)
        any_row = next(iter(got.values()))
        assert any_row.n == len(n2s)
        assert any_row.n_zero == sum(1 for v in n2s if v == 0)
        assert any_row.n_tiny == sum(1 for v in n2s if v < 1000)
        assert any_row.n_nan == nan
        assert any_row.min_n2_u == min(n2s)
        assert any_row.max_n2_u == max(n2s)

    def test_healthy_fixture_reads_clean(self, spark):
        """The synthetic embeddings are unit-ish and finite: no NaNs,
        no zero vectors, and the histogram masses account for every
        vector."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_norm_audit)
        rows = q_sim_norm_audit(spark, SF).collect()
        assert sum(r.n_vecs for r in rows) == rows[0].n
        assert rows[0].n_nan == 0
        assert rows[0].n_zero == 0
