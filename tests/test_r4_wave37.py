"""Wave-37 operators: GraphSAGE-style bounded-fanout neighbor sampling
and the Poisson-bootstrap confidence interval. Both oracle-paired;
these tests replay the md5 draws in plain Python.
"""
from __future__ import annotations

import hashlib
from collections import defaultdict

SF = "/root/testdata/sf0.001"


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


class TestNeighborSampling:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            NBR_FANOUT_H1, NBR_FANOUT_H2)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_neighbor_sampling)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        tr = [(r.subj, r.pred, r.obj)
              for r in q_kg_triples(spark, SF).collect()]
        adj = defaultdict(set)
        for s, _, o in {(s, p, o) for s, p, o in tr}:
            adj[s].add(o)
            adj[o].add(s)
        seeds = {o for _, p, o in tr if p == "mentions"}
        expected = set()
        h1_nodes = defaultdict(list)
        for seed in seeds:
            cand = sorted(adj[seed], key=lambda d: (_md5(f"{seed}:1:{d}"), d))
            for rk, dst in enumerate(cand[:NBR_FANOUT_H1], start=1):
                expected.add((seed, 1, seed, dst, rk))
                h1_nodes[seed].append(dst)
        for seed, nodes in h1_nodes.items():
            for node in nodes:
                cand = sorted((d for d in adj[node] if d != seed),
                              key=lambda d: (_md5(f"{seed}:2:{node}:{d}"),
                                             d))
                for rk, dst in enumerate(cand[:NBR_FANOUT_H2], start=1):
                    expected.add((seed, 2, node, dst, rk))
        got = {(r.seed, r.hop, r.src, r.dst, r.rk)
               for r in q_kg_neighbor_sampling(spark, SF).collect()}
        assert got == expected

    def test_fanout_caps_and_no_backtrack(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            NBR_FANOUT_H1, NBR_FANOUT_H2)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_neighbor_sampling)
        rows = q_kg_neighbor_sampling(spark, SF).collect()
        per = defaultdict(int)
        for r in rows:
            assert r.hop in (1, 2)
            if r.hop == 1:
                assert r.src == r.seed and 1 <= r.rk <= NBR_FANOUT_H1
            else:
                # never the trivial backtrack to the seed
                assert r.dst != r.seed and 1 <= r.rk <= NBR_FANOUT_H2
            per[(r.seed, r.hop, r.src)] += 1
        assert all(n <= NBR_FANOUT_H1 for (_, h, _), n in per.items()
                   if h == 1)
        assert all(n <= NBR_FANOUT_H2 for (_, h, _), n in per.items()
                   if h == 2)
        # both hops fire on the fixture graph
        assert {r.hop for r in rows} == {1, 2}


class TestBootstrapCI:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            BOOT_POISSON_THRESH, BOOT_REPLICATES, _docs)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_bootstrap_ci)
        docs = [(r.doc_id, r.n_chars)
                for r in _docs(spark, SF).select("doc_id",
                                                 "n_chars").collect()]
        b = BOOT_REPLICATES
        means = []
        for r in range(b):
            wx = wn = 0
            for doc_id, n_chars in docs:
                v = int(_md5(f"{doc_id}:{r}")[:6], 16)
                w = next((k for k, t in enumerate(BOOT_POISSON_THRESH)
                          if v < t), len(BOOT_POISSON_THRESH))
                wx += w * n_chars
                wn += w
            means.append((round(wx / wn, 6), r))
        means.sort()
        ci_lo, ci_hi = means[1][0], means[b - 2][0]
        point = round(sum(n for _, n in docs) / len(docs), 6)
        row = q_stats_bootstrap_ci(spark, SF).collect()
        assert len(row) == 1
        got = row[0]
        assert got.n_docs == len(docs)
        assert got.b_replicates == b
        assert got.point_mean == point
        assert got.ci_lo == ci_lo
        assert got.ci_hi == ci_hi
        # the interval is real: it brackets the point estimate and has
        # positive width (48 replicates over ~500 docs never collapse)
        assert got.ci_lo <= got.point_mean <= got.ci_hi
        assert got.ci_lo < got.ci_hi

    def test_weights_follow_poisson1(self, spark):
        """The md5-driven weights actually look Poisson(1): empirical
        mean weight within 5% of 1.0 over all (doc, replicate) draws."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            BOOT_POISSON_THRESH, BOOT_REPLICATES, _docs)
        docs = [r.doc_id for r in _docs(spark, SF).select(
            "doc_id").collect()]
        tot = n = 0
        for r in range(BOOT_REPLICATES):
            for doc_id in docs:
                v = int(_md5(f"{doc_id}:{r}")[:6], 16)
                tot += next((k for k, t in enumerate(BOOT_POISSON_THRESH)
                             if v < t), len(BOOT_POISSON_THRESH))
                n += 1
        assert abs(tot / n - 1.0) < 0.05
