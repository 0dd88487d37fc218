"""Wave-49 operators: Heaps-law vocabulary-growth series and the LSH
bucket-balance audit. Both oracle-paired; these tests replay the
type-accumulation and the chi-square algebra in plain Python.
"""
from __future__ import annotations

import math
from collections import Counter

import numpy as np

SF = "/root/testdata/sf0.001"


class TestHeapsLaw:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            HEAPS_GRID_PPM, _docs)
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_heaps)
        docs = {r.doc_id: [t for t in (r.text or "").lower().split()
                           if t]
                for r in _docs(spark, SF).collect()}
        mx = max(docs) + 1
        first = {}
        grams = {}
        for did in sorted(docs):
            t = docs[did]
            gs = [" ".join(t[i:i + 3]) for i in range(len(t) - 2)]
            grams[did] = len(gs)
            for gm in gs:
                first.setdefault(gm, did)
        expected = {}
        series = {}
        for g in HEAPS_GRID_PPM:
            thr = mx * g // 1_000_000
            in_pref = [d for d in docs if d < thr and grams[d] > 0]
            nt = sum(grams[d] for d in in_pref)
            nv = sum(1 for d in first.values() if d < thr)
            series[g] = (thr, len(in_pref), nt, nv)
        n0, v0 = series[min(HEAPS_GRID_PPM)][2], \
            series[min(HEAPS_GRID_PPM)][3]
        for g, (thr, nd, nt, nv) in series.items():
            beta = (None if nt == n0
                    else round(math.log(nv / v0) / math.log(nt / n0), 6))
            expected[g] = (thr, nd, nt, nv, beta)
        got = {r.g_ppm: (r.thr, r.n_docs, r.n_grams, r.n_types,
                         r.heaps_beta)
               for r in q_text_heaps(spark, SF).collect()}
        assert got == expected

    def test_heaps_sublinearity(self, spark):
        """Types grow monotonically but SUBLINEARLY in grams: the
        fitted beta at the full-corpus point sits strictly inside
        (0, 1) — the Heaps regime a healthy natural-language corpus
        shows (beta ~ 0.4-0.8)."""
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_heaps)
        rows = sorted(q_text_heaps(spark, SF).collect(),
                      key=lambda r: r.g_ppm)
        toks = [r.n_grams for r in rows]
        typs = [r.n_types for r in rows]
        assert toks == sorted(toks) and typs == sorted(typs)
        assert rows[0].heaps_beta is None
        final = rows[-1].heaps_beta
        assert final is not None and 0.0 < final < 1.0


class TestBucketBalance:
    def test_matches_numpy_replay(self, spark):
        from otd_semantic_framework_spark.operators.simsearch import (
            hyperplanes)
        from otd_semantic_framework_spark.plans.queries._shared import (
            ANN_N_PLANES, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_bucket_balance)
        P = np.asarray(hyperplanes(ANN_N_PLANES, 64), dtype=np.float64)
        rows = _tbl(spark, SF, "embeddings").collect()
        V = np.stack([np.asarray(r.embedding, dtype=np.float64)
                      for r in rows])
        bits = (V @ P.T) >= 0
        bk = (bits * (1 << np.arange(ANN_N_PLANES))).sum(axis=1)
        counts = Counter(int(b) for b in bk)
        nb = 1 << ANN_N_PLANES
        n = len(rows)
        chi_num = sum((counts.get(b, 0) * nb - n) ** 2
                      for b in range(nb))
        chi2 = round(float(chi_num) / (float(nb) * float(n)), 6)
        expected = {b: (counts.get(b, 0),
                        counts.get(b, 0) * 1_000_000 // n, chi2)
                    for b in range(nb)}
        got = {r.bucket: (r.n_vecs, r.share_ppm, r.chi2_uniform)
               for r in q_sim_bucket_balance(spark, SF).collect()}
        assert got == expected

    def test_balance_invariants(self, spark):
        """All 2^planes buckets are present (including any empties),
        occupancies conserve the corpus, and chi2 is a nonnegative
        corpus constant."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            ANN_N_PLANES)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_bucket_balance)
        rows = q_sim_bucket_balance(spark, SF).collect()
        assert sorted(r.bucket for r in rows) == \
            list(range(1 << ANN_N_PLANES))
        assert sum(r.n_vecs for r in rows) == 500
        chi = {r.chi2_uniform for r in rows}
        assert len(chi) == 1 and chi.pop() >= 0.0
