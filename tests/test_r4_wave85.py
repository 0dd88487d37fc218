"""Wave-85 operators: aggregated-variance long-memory ladder and the
leave-one-source-out ablation manifest. Both oracle-paired; these
tests replay the block variances and the complement arithmetic in
plain Python.
"""
from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from datetime import timedelta

SF = "/root/testdata/sf0.001"


class TestLongMemory:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            LONGMEM_BLOCKS, _tbl)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_longmemory)
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        d0, d1 = min(days), max(days)
        xs = []
        d = d0
        while d <= d1:
            xs.append(days.get(d, 0))
            d += timedelta(days=1)
        expected = {}
        for m in LONGMEM_BLOCKS:
            sums = [sum(xs[i:i + m]) for i in range(0, len(xs), m)
                    if len(xs[i:i + m]) == m]
            n = len(sums)
            s1, s2 = sum(sums), sum(v * v for v in sums)
            var_num = n * s2 - s1 * s1
            var_mean = round(var_num / (n * (n - 1) * m * m), 6)
            expected[m] = (n, var_num, var_mean)
        got = {r.m: r for r in q_stats_longmemory(spark, SF)
               .collect()}
        assert set(got) == set(expected)
        for m, (n, vn, vm) in expected.items():
            r = got[m]
            assert r.n_blocks == n
            assert r.var_num == vn
            assert abs(r.var_mean - vm) < 1e-9
            prev = expected.get(m // 2)
            if prev:
                h = round(1.0 + math.log2(r.var_mean / prev[2]) / 2.0,
                          6)
                assert abs(r.hurst_est - h) < 1e-6
            else:
                assert r.hurst_est is None

    def test_iid_series_reads_half(self, spark):
        """Independent daily counts have H ~ 0.5: block-mean variance
        should drop roughly like 1/m, putting the estimates between
        0 and 1."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_longmemory)
        rows = {r.m: r for r in q_stats_longmemory(spark, SF)
                .collect()}
        hs = [r.hurst_est for r in rows.values()
              if r.hurst_est is not None]
        assert hs
        for h in hs:
            assert -0.5 < h < 1.5


class TestAblation:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_ablation)
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        per = defaultdict(lambda: [0, 0])
        src_of_hash = defaultdict(set)
        for r in _docs(spark, SF).collect():
            t = r.text or ""
            per[r.source][0] += 1
            per[r.source][1] += len(
                [x for x in re.split(r"\s+", t) if x])
            src_of_hash[hashlib.md5(t.encode()).hexdigest()].add(
                r.source)
        td = sum(v[0] for v in per.values())
        tt = sum(v[1] for v in per.values())
        tu = len(src_of_hash)
        excl = Counter()
        for h, ss in src_of_hash.items():
            if len(ss) == 1:
                excl[next(iter(ss))] += 1
        got = {r.source: r
               for r in q_curation_ablation(spark, SF).collect()}
        assert set(got) == set(per)
        for src, (nd, nt) in per.items():
            r = got[src]
            assert r.n_docs == nd and r.n_tokens == nt
            assert r.remaining_docs == td - nd
            assert r.remaining_tokens == tt - nt
            assert r.remaining_unique == tu - excl[src]
            assert r.remaining_docs_ppm == (td - nd) * 1000000 // td
            assert r.remaining_tokens_ppm == ((tt - nt) * 1000000
                                              // max(tt, 1))

    def test_duplicated_sources_cost_less_unique(self, spark):
        """Removing a source removes at most n_docs unique texts (its
        exclusive hashes), and every complement stays positive."""
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_ablation)
        rows = q_curation_ablation(spark, SF).collect()
        assert rows
        tu = max(r.remaining_unique for r in rows)  # lower bound on
        for r in rows:
            assert r.remaining_docs > 0
            assert r.remaining_unique > 0
            removed_unique = tu - r.remaining_unique
            assert 0 - tu <= removed_unique <= r.n_docs
