"""Wave-60 operators: gap-filled weekly-block Friedman rank test and
kNN-graph hubness (k-occurrence skewness) audit. Both oracle-paired;
these tests replay the blocked ranking and the moment skewness in
plain Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict
from datetime import timedelta

SF = "/root/testdata/sf0.001"

EPOCH_ORD = 719163  # date(1970, 1, 1).toordinal()


class TestFriedman:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_friedman)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        d0, d1 = min(days), max(days)
        filled = {}
        d = d0
        while d <= d1:
            filled[d] = days.get(d, 0)
            d += timedelta(days=1)
        blocks = defaultdict(dict)
        for d, x in filled.items():
            ed = d.toordinal() - EPOCH_ORD
            blocks[ed // 7][ed % 7] = x
        blocks = {b: v for b, v in blocks.items() if len(v) == 7}
        r2_sum = Counter()
        tie_sum = 0
        for v in blocks.values():
            xs = sorted(v.values())
            t = Counter(xs)
            tie_sum += sum(c ** 3 - c for c in t.values())
            minrk = {}
            for i, x in enumerate(xs):
                minrk.setdefault(x, i + 1)
            for wd, x in v.items():
                r2_sum[wd] += 2 * minrk[x] + t[x] - 1
        n = len(blocks)
        sq = sum(r * r for r in r2_sum.values())
        q_stat = round(3.0 * sq / (n * 56) - 3.0 * n * 8, 6)
        tie_c = 1000000 - tie_sum * 1000000 // (n * 7 * 336)
        got = {r.wd: r for r in q_stats_friedman(spark, SF).collect()}
        assert set(got) == set(range(7))
        for wd, r in got.items():
            assert r.r2_sum == r2_sum[wd]
            assert r.mean_rank_ppm == r2_sum[wd] * 1000000 // (2 * n)
            assert r.n_blocks == n
            assert abs(r.q_stat - q_stat) < 1e-9
            assert r.tie_c_ppm == tie_c

    def test_rank_identities(self, spark):
        """Within every block ranks 1..7 (as midranks) sum to 28, so
        the doubled rank sums across weekdays total 56*n_blocks; Q is
        non-negative for any rank configuration."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_friedman)
        rows = q_stats_friedman(spark, SF).collect()
        n = rows[0].n_blocks
        assert sum(r.r2_sum for r in rows) == 56 * n
        assert rows[0].q_stat >= 0
        assert 0 < rows[0].tie_c_ppm <= 1000000


class TestHubness:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.operators.simsearch import (
            knn_graph)
        from otd_semantic_framework_spark.plans.queries._shared import (
            KNNG_K, KNNG_N_PLANES, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_hubness)
        vecs = _tbl(spark, SF, "embeddings")
        indeg = Counter()
        for r in knn_graph(vecs, k=KNNG_K,
                           n_planes=KNNG_N_PLANES).collect():
            indeg[r.dst] += 1
        occ = [indeg.get(r.vec_id, 0)
               for r in vecs.select("vec_id").collect()]
        n = len(occ)
        s1, s2, s3 = (sum(x ** p for x in occ) for p in (1, 2, 3))
        var_num = n * s2 - s1 * s1
        skew = round((n * n * s3 - 3 * n * s1 * s2 + 2 * s1 ** 3)
                     / (n * (var_num * math.sqrt(var_num))), 6)
        hist = Counter(occ)
        got = {r.k_occ: r for r in q_sim_hubness(spark, SF).collect()}
        assert {k: r.n_nodes for k, r in got.items()} == dict(hist)
        any_row = next(iter(got.values()))
        assert any_row.n == n
        assert any_row.mean_ppm == s1 * 1000000 // n
        assert any_row.max_k_occ == max(occ)
        assert abs(any_row.skew_g - skew) < 1e-9

    def test_histogram_accounts_for_antihubs(self, spark):
        """Histogram masses sum to the full node count: nodes that
        appear in nobody's top-k (k_occ = 0) must be counted."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_hubness)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        rows = q_sim_hubness(spark, SF).collect()
        n_vec = _tbl(spark, SF, "embeddings").count()
        assert sum(r.n_nodes for r in rows) == n_vec
        assert rows[0].n == n_vec
