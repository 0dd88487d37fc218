"""Wave-48 operators: LSH plane-count recall/cost sweep and the
double-BFS diameter lower bound. Both oracle-paired; these tests
replay the sweep in numpy and the two BFS sweeps with a plain queue.
"""
from __future__ import annotations

from collections import defaultdict, deque

import numpy as np

SF = "/root/testdata/sf0.001"


class TestAnnSweep:
    def test_matches_numpy_replay(self, spark):
        from otd_semantic_framework_spark.operators.simsearch import (
            hyperplanes)
        from otd_semantic_framework_spark.plans.queries._shared import (
            ANN_K, ANN_SWEEP_PLANES, N_QUERY_VECS, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_ann_sweep, q_sim_topk_cosine)
        rows = _tbl(spark, SF, "embeddings").collect()
        ids = np.asarray([r.vec_id for r in rows])
        V = np.stack([np.asarray(r.embedding, dtype=np.float64)
                      for r in rows])
        qm, cm = ids < N_QUERY_VECS, ids >= N_QUERY_VECS
        bf = {(r.qid, r.cid)
              for r in q_sim_topk_cosine(spark, SF).collect()}
        expected = {}
        for np_ in ANN_SWEEP_PLANES:
            P = np.asarray(hyperplanes(np_, 64), dtype=np.float64)
            bits = (V @ P.T) >= 0
            bk = (bits * (1 << np.arange(np_))).sum(axis=1)
            n_cand = 0
            hits = 0
            for qi in np.where(qm)[0]:
                cand = [ci for ci in np.where(cm)[0]
                        if bk[ci] == bk[qi]]
                n_cand += len(cand)
                scored = sorted(
                    (-round(float(V[qi] @ V[ci])
                            / (np.linalg.norm(V[qi])
                               * np.linalg.norm(V[ci])), 6), ids[ci])
                    for ci in cand)[:ANN_K]
                hits += sum(1 for _, cid in scored
                            if (ids[qi], cid) in bf)
            expected[np_] = (n_cand, hits,
                             hits * 1_000_000 // (N_QUERY_VECS * ANN_K))
        got = {r.n_planes: (r.n_candidates, r.total_hits, r.recall_ppm)
               for r in q_sim_ann_sweep(spark, SF).collect()}
        assert got == expected

    def test_sweep_tradeoff_direction(self, spark):
        """More planes -> weakly fewer candidates (the cost falls) and
        recall never exceeds 1e6; the grid's cheapest point must be
        cheaper than its most expensive one (the sweep has signal)."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_ann_sweep)
        rows = sorted(q_sim_ann_sweep(spark, SF).collect(),
                      key=lambda r: r.n_planes)
        cands = [r.n_candidates for r in rows]
        assert cands == sorted(cands, reverse=True)
        assert cands[-1] < cands[0]
        for r in rows:
            assert 0 <= r.recall_ppm <= 1_000_000


class TestDiameterEst:
    def _bfs(self, adj, seed, cap):
        depth = {seed: 0}
        dq = deque([seed])
        while dq:
            u = dq.popleft()
            if depth[u] >= cap:
                continue
            for v in adj[u]:
                if v not in depth:
                    depth[v] = depth[u] + 1
                    dq.append(v)
        return depth

    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            DIAM_MAX_HOPS)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_diameter_est)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        adj = defaultdict(set)
        nodes = set()
        for r in q_kg_triples(spark, SF).select("subj", "obj") \
                .distinct().collect():
            nodes.update((r.subj, r.obj))
            adj[r.subj].add(r.obj)
            adj[r.obj].add(r.subj)
        seed = min(nodes)
        d1 = self._bfs(adj, seed, DIAM_MAX_HOPS)
        far = min(d1, key=lambda n: (-d1[n], n))
        d2 = self._bfs(adj, far, DIAM_MAX_HOPS)
        end = min(d2, key=lambda n: (-d2[n], n))
        row = q_kg_diameter_est(spark, SF).collect()[0]
        assert (row.seed, row.ecc_seed, row.peripheral,
                row.diameter_lb, row.endpoint) == \
            (seed, d1[far], far, d2[end], end)

    def test_double_sweep_improves(self, spark):
        """The second sweep's bound dominates the first eccentricity
        (the whole point of the 2-sweep heuristic) and stays within
        the hop cap."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            DIAM_MAX_HOPS)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_diameter_est)
        row = q_kg_diameter_est(spark, SF).collect()[0]
        assert row.diameter_lb >= row.ecc_seed
        assert 0 < row.diameter_lb <= DIAM_MAX_HOPS
        assert row.peripheral != row.seed
