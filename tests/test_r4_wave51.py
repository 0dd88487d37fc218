"""Wave-51 operators: near-dup cluster quality audit and the
delete-one-source jackknife SE. Both oracle-paired; these tests
replay the cluster statistics and the jackknife algebra in plain
Python.
"""
from __future__ import annotations

import math
from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestClusterQuality:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_cluster_quality, q_dedup_components, q_dedup_jaccard)
        comp = {r.doc_id: r.component
                for r in q_dedup_components(spark, SF).collect()}
        per = defaultdict(list)
        for r in q_dedup_jaccard(spark, SF).collect():
            per[comp[r.doc_a]].append(int(round(r.jaccard * 1_000_000)))
        sizes = defaultdict(int)
        for c in comp.values():
            sizes[c] += 1
        expected = {}
        for c, n in sizes.items():
            if n <= 1:
                continue
            ps = per.get(c, [])
            expected[c] = (
                n, len(ps),
                len(ps) * 2_000_000 // (n * (n - 1)),
                min(ps) if ps else None,
                sum(ps) // len(ps) if ps else None)
        got = {r.cluster: (r.n_docs, r.n_pairs, r.density_ppm,
                           r.min_jac_ppm, r.mean_jac_ppm)
               for r in q_dedup_cluster_quality(spark, SF).collect()}
        assert got == expected
        assert expected, "fixture must produce multi-doc clusters"

    def test_cluster_stats_consistent(self, spark):
        """min <= mean, density in (0, 1e6], every audited cluster has
        >= 2 docs and >= 1 verified pair (components are built FROM
        the pair graph, so a multi-doc cluster always carries pairs),
        and pair counts never exceed the complete graph."""
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_cluster_quality)
        rows = q_dedup_cluster_quality(spark, SF).collect()
        for r in rows:
            assert r.n_docs >= 2
            assert r.n_pairs >= 1
            assert r.n_pairs <= r.n_docs * (r.n_docs - 1) // 2
            assert 0 < r.density_ppm <= 1_000_000
            assert r.min_jac_ppm <= r.mean_jac_ppm


class TestJackknife:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_jackknife)
        per = defaultdict(lambda: [0, 0])
        for r in _docs(spark, SF).collect():
            per[r.source][0] += 1
            per[r.source][1] += len(r.text or "")
        gs = len(per)
        nt = sum(v[0] for v in per.values())
        st = sum(v[1] for v in per.values())
        m = [(st - s1) * 1000 // (nt - n1) for n1, s1 in per.values()]
        sm, sm2 = sum(m), sum(x * x for x in m)
        gd = float(gs)
        var = ((gd * float(sm2) - float(sm) * float(sm)) / gd) \
            * ((gd - 1.0) / gd)
        row = q_stats_jackknife(spark, SF).collect()[0]
        assert (row.n_sources, row.n_docs) == (gs, nt)
        assert row.mean_len == round(float(st) / float(nt), 6)
        assert row.jackknife_se == round(math.sqrt(var) / 1000.0, 6)

    def test_se_is_positive_and_small(self, spark):
        """The grouped jackknife reads a real nonzero between-source
        sensitivity, far smaller than the mean itself (the sources
        are same-scale)."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_jackknife)
        row = q_stats_jackknife(spark, SF).collect()[0]
        assert row.jackknife_se > 0
        assert row.jackknife_se < row.mean_len / 10
