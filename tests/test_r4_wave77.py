"""Wave-77 operators: IVF nprobe recall/cost sweep and directed
reciprocity. Both oracle-paired; these tests replay the sweep
monotonicity and the reciprocity counts in plain Python.
"""
from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestIvfSweep:
    def test_sweep_shape_and_monotonicity(self, spark):
        """Recall and scan cost are non-decreasing in nprobe; probing
        all cells converges toward the exact answer from below; at
        full probe width recall is high on the small fixture."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            IVF_SWEEP_PROBES)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_ivf_sweep)
        rows = {r.n_probe: r for r in q_sim_ivf_sweep(spark, SF)
                .collect()}
        assert set(rows) == set(IVF_SWEEP_PROBES)
        probes = sorted(rows)
        for a, b in zip(probes, probes[1:]):
            assert rows[b].recall_ppm >= rows[a].recall_ppm
            assert rows[b].mean_candidates >= rows[a].mean_candidates
        for r in rows.values():
            assert 0 <= r.recall_ppm <= 1000000
            assert r.overlap <= r.n_queries * 5

    def test_recall_matches_exact_overlap(self, spark):
        """The reported recall replays from the approx/exact top-k
        sets computed via the library operators."""
        from otd_semantic_framework_spark.operators.simsearch import (
            ann_ivf_topk, cosine_topk)
        from otd_semantic_framework_spark.plans.queries._shared import (
            ANN_K, IVF_N_CELLS, IVF_SWEEP_PROBES, N_QUERY_VECS, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_ivf_sweep)
        from pyspark.sql import functions as F
        e = _tbl(spark, SF, "embeddings")
        q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
             .select(F.col("vec_id").alias("qid"),
                     F.col("embedding").alias("qv")))
        c = (e.filter(F.col("vec_id") >= N_QUERY_VECS)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("cv")))
        exact = {(r.qid, r.cid)
                 for r in cosine_topk(q, c, k=ANN_K).collect()}
        got = {r.n_probe: r for r in q_sim_ivf_sweep(spark, SF)
               .collect()}
        for npb in IVF_SWEEP_PROBES:
            approx = {(r.qid, r.cid)
                      for r in ann_ivf_topk(q, c, k=ANN_K,
                                            n_cells=IVF_N_CELLS,
                                            n_probe=npb).collect()}
            overlap = len(approx & exact)
            assert got[npb].overlap == overlap
            nq = got[npb].n_queries
            assert got[npb].recall_ppm == (overlap * 1000000
                                           // (nq * ANN_K))


class TestReciprocity:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_reciprocity)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        edges = defaultdict(set)
        for r in q_kg_triples(spark, SF).collect():
            if r.subj != r.obj:
                edges[r.pred].add((r.subj, r.obj))
        got = {r.pred: r for r in q_kg_reciprocity(spark, SF)
               .collect()}
        tot_e, tot_r = 0, 0
        for p, es in edges.items():
            recip = sum(1 for u, v in es if (v, u) in es)
            tot_e += len(es)
            tot_r += recip
            r = got[p]
            assert r.n_edges == len(es)
            assert r.n_recip == recip
            assert r.reciprocity_ppm == recip * 1000000 // len(es)
        assert got["__all__"].n_edges == tot_e
        assert got["__all__"].n_recip == tot_r

    def test_reciprocity_bounds(self, spark):
        """r is a share in [0, 1e6]; the pooled row aggregates the
        per-predicate rows exactly."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_reciprocity)
        rows = q_kg_reciprocity(spark, SF).collect()
        per = [r for r in rows if r.pred != "__all__"]
        al = [r for r in rows if r.pred == "__all__"][0]
        assert sum(r.n_edges for r in per) == al.n_edges
        assert sum(r.n_recip for r in per) == al.n_recip
        for r in rows:
            assert 0 <= r.reciprocity_ppm <= 1000000
