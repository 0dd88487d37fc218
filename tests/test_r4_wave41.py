"""Wave-41 operators: LSH-bucketed approximate kNN-graph construction
and the binned Lorenz/Gini corpus-concentration profile. Both
oracle-paired; these tests replay the bucketed neighbor ranking and
the trapezoid Gini in plain Python/numpy.
"""
from __future__ import annotations

from collections import defaultdict

import numpy as np

SF = "/root/testdata/sf0.001"


class TestKnnGraph:
    def _replay(self, spark):
        from otd_semantic_framework_spark.operators.simsearch import (
            hyperplanes)
        from otd_semantic_framework_spark.plans.queries._shared import (
            KNNG_K, KNNG_N_PLANES, _tbl)
        P = np.asarray(hyperplanes(KNNG_N_PLANES, 64), dtype=np.float64)
        rows = _tbl(spark, SF, "embeddings").collect()
        ids = [r.vec_id for r in rows]
        V = np.stack([np.asarray(r.embedding, dtype=np.float64)
                      for r in rows])
        bits = (V @ P.T) >= 0
        buckets = (bits * (1 << np.arange(P.shape[0]))).sum(axis=1)
        by_bucket = defaultdict(list)
        for i, b in enumerate(buckets):
            by_bucket[int(b)].append(i)
        topk = {}
        for b, idxs in by_bucket.items():
            for i in idxs:
                cands = []
                for j in idxs:
                    if j == i:
                        continue
                    c = round(float(V[i] @ V[j])
                              / (np.linalg.norm(V[i])
                                 * np.linalg.norm(V[j])), 6)
                    cands.append((-c, ids[j], c))
                for rk, (_, dst, c) in enumerate(sorted(cands)[:KNNG_K],
                                                 start=1):
                    topk[(ids[i], dst)] = (c, rk)
        return topk

    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_knn_graph)
        expected = self._replay(spark)
        got = {}
        for r in q_sim_knn_graph(spark, SF).collect():
            got[(r.src, r.dst)] = (r.cos, r.rk)
            assert r.mutual == int((r.dst, r.src) in expected), \
                f"mutual flag wrong for {(r.src, r.dst)}"
        assert got == expected

    def test_graph_shape_invariants(self, spark):
        """Per-node degree <= k with dense ranks from 1, the mutual
        subset is symmetric, and the fixture exercises both mutual and
        one-way edges (the flag is not inert)."""
        from otd_semantic_framework_spark.plans.queries._shared import KNNG_K
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_knn_graph)
        rows = q_sim_knn_graph(spark, SF).collect()
        per_src = defaultdict(list)
        for r in rows:
            per_src[r.src].append(r.rk)
        for src, rks in per_src.items():
            assert sorted(rks) == list(range(1, len(rks) + 1))
            assert len(rks) <= KNNG_K
        mutual = {(r.src, r.dst) for r in rows if r.mutual == 1}
        assert all((d, s) in mutual for s, d in mutual)
        assert mutual and len(mutual) < len(rows)


class TestTextGini:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        from otd_semantic_framework_spark.plans.queries.text import q_text_gini
        masses = [len(r.text or "")
                  for r in _docs(spark, SF).collect()]
        bins = defaultdict(lambda: [0, 0])
        for m in masses:
            bins[(m + 1).bit_length() - 1][0] += 1
            bins[(m + 1).bit_length() - 1][1] += m
        n, s = len(masses), sum(masses)
        expected, cum_n, cum_m, bsum = {}, 0, 0, 0
        for b in sorted(bins):
            nb, mb = bins[b]
            cum_n, cum_m = cum_n + nb, cum_m + mb
            bsum += nb * (2 * cum_m - mb)
            expected[b] = (nb, mb, cum_n, cum_m,
                           cum_n * 1_000_000 // n,
                           cum_m * 1_000_000 // s)
        gini = round(1.0 - float(bsum) / (float(n) * float(s)), 6)
        got = {r.bin: (r.n_docs, r.bin_mass, r.cum_docs, r.cum_mass,
                       r.cum_pop_ppm, r.cum_mass_ppm)
               for r in q_text_gini(spark, SF).collect()}
        assert got == expected
        assert all(r.gini == gini
                   for r in q_text_gini(spark, SF).collect())

    def test_lorenz_invariants(self, spark):
        """The binned Lorenz curve ends at (1, 1), never rises above
        the diagonal (ascending-value bins: the poorest prefix holds
        at most its proportional mass share), and Gini is in [0, 1)."""
        from otd_semantic_framework_spark.plans.queries.text import q_text_gini
        rows = sorted(q_text_gini(spark, SF).collect(),
                      key=lambda r: r.bin)
        assert rows[-1].cum_pop_ppm == 1_000_000
        assert rows[-1].cum_mass_ppm == 1_000_000
        for r in rows:
            assert r.cum_mass_ppm <= r.cum_pop_ppm + 1
        assert 0.0 <= rows[0].gini < 1.0
