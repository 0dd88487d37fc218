"""Wave-33 operators: Hill power-law tail exponent of the KG degree
distribution and token burstiness (index of dispersion). Both
oracle-paired; these tests replay the micro-nat/integer arithmetic in
plain Python.
"""
from __future__ import annotations

import math
from collections import Counter

SF = "/root/testdata/sf0.001"


class TestPowerlawAlpha:
    def test_matches_python_hill_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            HILL_DMIN)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_powerlaw_alpha)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        pairs = {(r.subj, r.obj) for r in q_kg_triples(spark, SF)
                 .select("subj", "obj").distinct().collect()}
        deg = Counter()
        for s, o in pairs:
            deg[s] += 1
            deg[o] += 1
        # Counter double-counts nothing: build the undirected degree
        # from the symmetric edge set exactly as undirected_edges does
        e = set()
        for s, o in pairs:
            e.add((s, o))
            e.add((o, s))
        deg = Counter(s for s, _ in e)
        tail = [d for d in deg.values() if d >= HILL_DMIN]
        s_micro = sum(int(round(math.log(d / HILL_DMIN) * 1_000_000, 0))
                      for d in tail)
        n = len(tail)
        alpha = 1_000_000 + n * 1_000_000_000_000 // s_micro
        [row] = q_kg_powerlaw_alpha(spark, SF).collect()
        assert (row.n_tail, row.sum_ln_micro, row.alpha_micro) == \
            (n, s_micro, alpha)
        # a hubby KG must give a finite small exponent (1 < alpha < 6)
        assert 1_000_000 < row.alpha_micro < 6_000_000

    def test_tail_is_nonempty_and_excludes_dmin_below(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_powerlaw_alpha)
        [row] = q_kg_powerlaw_alpha(spark, SF).collect()
        assert row.n_tail > 0
        assert row.sum_ln_micro > 0


class TestBurstiness:
    def test_matches_python_vmr_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            BURST_MIN_TOTAL, _docs)
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_burstiness)
        docs = _docs(spark, SF).collect()
        n_docs = len(docs)
        dt = Counter()
        for r in docs:
            for t in r.text.lower().split(" "):
                if t:
                    dt[(r.doc_id, t)] += 1
        per = {}
        for (_, t), c in dt.items():
            df, tot, sq = per.get(t, (0, 0, 0))
            per[t] = (df + 1, tot + c, sq + c * c)
        expected = {}
        for t, (df, tot, sq) in per.items():
            if tot >= BURST_MIN_TOTAL:
                vmr = (n_docs * sq - tot * tot) * 1_000_000 \
                    // (n_docs * tot)
                expected[t] = (df, tot, vmr)
        got = {r.tok: (r.df, r.total, r.vmr_ppm)
               for r in q_text_burstiness(spark, SF).collect()}
        assert got == expected
        assert got, "fixture must contain tokens above the count floor"
        # dispersion varies across tokens (the metric is informative)
        vmrs = {v[2] for v in got.values()}
        assert len(vmrs) > 1
