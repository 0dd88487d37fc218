"""Wave-44 operators: mutual-kNN semantic clustering (connected
components over the wave-41 graph) and the Wald-Wolfowitz runs test.
Both oracle-paired; these tests replay the union-find and the runs
algebra in plain Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestSemanticClusters:
    def test_matches_union_find_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_knn_graph, q_sim_semantic_clusters)
        mutual = [(r.src, r.dst)
                  for r in q_sim_knn_graph(spark, SF).collect()
                  if r.mutual == 1 and r.src < r.dst]
        parent = {r.vec_id: r.vec_id
                  for r in _tbl(spark, SF, "embeddings")
                  .select("vec_id").collect()}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in mutual:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        groups = defaultdict(list)
        for v in parent:
            groups[find(v)].append(v)
        expected = {}
        for root, members in groups.items():
            cl = min(members)
            for v in members:
                expected[v] = (cl, len(members))
        got = {r.vec_id: (r.cluster, r.cluster_size)
               for r in q_sim_semantic_clusters(spark, SF).collect()}
        assert got == expected

    def test_cluster_structure(self, spark):
        """Every vector lands in exactly one cluster, the cluster id
        is a member (the min), sizes are consistent, and the fixture
        yields both singletons and at least one multi-vector cluster
        (mutual edges exist, so components must merge somewhere)."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_semantic_clusters)
        rows = q_sim_semantic_clusters(spark, SF).collect()
        assert len({r.vec_id for r in rows}) == len(rows) == 500
        by_cl = defaultdict(list)
        for r in rows:
            by_cl[r.cluster].append(r)
        for cl, ms in by_cl.items():
            assert min(m.vec_id for m in ms) == cl
            assert all(m.cluster_size == len(ms) for m in ms)
        sizes = Counter(len(ms) for ms in by_cl.values())
        assert sizes.get(1, 0) > 0
        assert any(k > 1 for k in sizes)


class TestRunsTest:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_runs)
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        nd, sx = len(days), sum(days.values())
        signed = {d: int(x * nd > sx) for d, x in days.items()
                  if x * nd != sx}
        n = len(signed)
        n_plus = sum(signed.values())
        import datetime
        one = datetime.timedelta(days=1)
        n_adj = sum(1 for d in signed if d + one in signed)
        n_changes = sum(1 for d in signed
                        if d + one in signed
                        and signed[d] != signed[d + one])
        runs = n - (n_adj - n_changes)
        p, q, ndbl = float(n_plus), float(n - n_plus), float(n)
        mu = 2.0 * p * q / ndbl + 1.0
        var = (2.0 * p * q * (2.0 * p * q - ndbl)) \
            / (ndbl * ndbl * (ndbl - 1.0))
        row = q_stats_runs(spark, SF).collect()[0]
        assert (row.n, row.n_plus, row.n_sign_changes, row.n_runs) == \
            (n, n_plus, n_changes, runs)
        assert row.expected_runs == round(mu, 6)
        assert row.z == round((float(runs) - mu) / math.sqrt(var), 6)

    def test_runs_bounds(self, spark):
        """Run count is between 1 and n, both signs are populated
        (the mean cut cannot empty a side on a non-constant series),
        and the expected-runs formula stays inside the same bounds."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_runs)
        row = q_stats_runs(spark, SF).collect()[0]
        assert 0 < row.n_plus < row.n
        assert 1 <= row.n_runs <= row.n
        assert 1.0 <= row.expected_runs <= float(row.n)
