"""Wave-46 operators: kNN-distance embedding outlier detection and
the Gumbel block-maxima capacity estimate. Both oracle-paired; these
tests replay the MAD fence and the moments fit in plain Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


def _median_int(values):
    s = sorted(values)
    n = len(s)
    if n % 2:
        return s[n // 2]
    return (s[n // 2 - 1] + s[n // 2]) / 2


class TestSimOutliers:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_knn_graph, q_sim_outliers)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        per = defaultdict(list)
        for r in q_sim_knn_graph(spark, SF).collect():
            per[r.src].append(int(round(r.cos * 1_000_000)))
        all_ids = {r.vec_id for r in
                   _tbl(spark, SF, "embeddings").select("vec_id")
                   .collect()}
        mean = {s: sum(v) // len(v) for s, v in per.items()}
        med2 = _median_int([m * 2 for m in mean.values()])
        devs = {s: abs(m * 2 - med2) for s, m in mean.items()}
        mad4 = _median_int([2 * d for d in devs.values()])
        expected = {}
        for s, m in mean.items():
            flag = int(devs[s] * 10000 > 22239 * mad4
                       and m * 2 < med2)
            expected[s] = (len(per[s]), m, flag)
        for s in all_ids - set(mean):
            expected[s] = (0, None, 1)
        got = {r.vec_id: (r.k_used, r.mean_cos_ppm, r.is_outlier)
               for r in q_sim_outliers(spark, SF).collect()}
        assert got == expected

    def test_planted_outliers_flag(self, spark):
        """Both flag paths fire on a planted corpus: a tight cluster
        of identical vectors (inliers, never flagged), one same-bucket
        vector pushed toward an orthogonal direction just short of a
        sign flip (low mean-cos -> MAD-fence flag with a score), and
        the cluster's antipode (own bucket -> isolated flag, NULL
        score). The iid sf fixture exercises the no-flag path; this
        pins the detector itself."""
        import numpy as np
        from otd_semantic_framework_spark.operators.simsearch import (
            hyperplanes, knn_outliers)
        P = np.asarray(hyperplanes(3, 64), dtype=np.float64)
        v0 = np.full(64, 0.125)
        u = np.asarray([1.0 if i % 2 == 0 else -1.0 for i in range(64)])
        u -= (u @ v0) / (v0 @ v0) * v0
        d0, du = P @ v0, P @ u
        # conservative bound: any plane flips no earlier than when the
        # u-contribution reaches the v0 margin, so min over ALL planes
        # keeps every sign (the assertion below re-checks explicitly)
        b_max = min(abs(d0[i] / du[i]) for i in range(3))
        w = v0 + 0.8 * b_max * u
        assert ((P @ w >= 0) == (d0 >= 0)).all(), "w must share bucket"
        anti = -v0
        assert ((P @ anti >= 0) != (d0 >= 0)).all(), "anti is isolated"
        rows = [(i, [float(x) for x in v0]) for i in range(20)]
        rows.append((100, [float(x) for x in w]))
        rows.append((200, [float(x) for x in anti]))
        df = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>")
        got = {r.vec_id: r
               for r in knn_outliers(df, k=5, n_planes=3).collect()}
        assert got[100].is_outlier == 1
        assert got[100].mean_cos_ppm is not None
        assert got[100].mean_cos_ppm < 1_000_000
        assert got[200].is_outlier == 1
        assert got[200].mean_cos_ppm is None and got[200].k_used == 0
        for i in range(20):
            assert got[i].is_outlier == 0
            assert got[i].mean_cos_ppm == 1_000_000


class TestGumbelEvt:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            GUMBEL_EULER, _tbl)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_evt)
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        blocks = defaultdict(int)
        for d, x in days.items():
            m = d.year * 12 + d.month - 1
            blocks[m] = max(blocks[m], x)
        mx = list(blocks.values())
        n, s, ss = len(mx), sum(mx), sum(v * v for v in mx)
        nd = float(n)
        mean = float(s) / nd
        var = (nd * float(ss) - float(s) * float(s)) / (nd * (nd - 1.0))
        beta = math.sqrt(var) * math.sqrt(6.0) / math.pi
        mu = mean - GUMBEL_EULER * beta
        row = q_stats_evt(spark, SF).collect()[0]
        assert row.n_blocks == n
        assert row.observed_max == max(mx)
        assert row.block_max_mean == round(mean, 6)
        assert row.gumbel_mu == round(mu, 6)
        assert row.gumbel_beta == round(beta, 6)
        assert row.return_level_99 == \
            round(mu - beta * math.log(-math.log(0.99)), 6)
        assert row.return_level_999 == \
            round(mu - beta * math.log(-math.log(0.999)), 6)

    def test_return_levels_ordered(self, spark):
        """Return levels behave like quantiles of a max distribution:
        99.9% > 99% > mu (location), beta > 0, and the 99% level
        exceeds the mean block maximum."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_evt)
        row = q_stats_evt(spark, SF).collect()[0]
        assert row.gumbel_beta > 0
        assert row.return_level_999 > row.return_level_99 \
            > row.gumbel_mu
        assert row.return_level_99 > row.block_max_mean
