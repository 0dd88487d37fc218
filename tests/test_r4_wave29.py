"""Wave-29 operators: market-basket association rules over lineitem
and Adjusted-Rand-Index clustering stability between the 1-round and
2-round exact Lloyd partitions. Both oracle-paired; these tests replay
the rule arithmetic and the ARI formula in plain Python.
"""
from __future__ import annotations

from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestBasketRules:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            BASKET_MIN_SUP, _tbl)
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_basket_rules)
        baskets = defaultdict(set)
        for r in _tbl(spark, SF, "lineitem") \
                .select("l_orderkey", "l_partkey").collect():
            baskets[r.l_orderkey].add(r.l_partkey)
        n_orders = len(baskets)
        item = Counter()
        pair = Counter()
        for parts in baskets.values():
            ps = sorted(parts)
            item.update(ps)
            for i, a in enumerate(ps):
                for b in ps[i + 1:]:
                    pair[(a, b)] += 1
        expected = set()
        for (a, b), sup in pair.items():
            if sup < BASKET_MIN_SUP:
                continue
            for ante, cons in ((a, b), (b, a)):
                conf = sup * 1_000_000 // item[ante]
                lift = (sup * n_orders * 1_000_000
                        // (item[ante] * item[cons]))
                expected.add((ante, cons, sup, conf, lift))
        got = {(r.antecedent, r.consequent, r.support, r.conf_ppm,
                r.lift_ppm)
               for r in q_rel_basket_rules(spark, SF).collect()}
        assert got == expected
        assert got, "fixture must contain rules at the support floor"
        # every rule has its mirror (same pair support, own confidence)
        pairs = {(t[0], t[1]) for t in got}
        assert all((b, a) in pairs for a, b in pairs)

    def test_lift_signal_exists(self, spark):
        """Association mining is pointless if everything sits at
        independence: the fixture must yield rules both above and
        below lift=1."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_basket_rules)
        lifts = [r.lift_ppm for r in
                 q_rel_basket_rules(spark, SF).collect()]
        assert any(lv > 1_000_000 for lv in lifts)


class TestClusterARI:
    def test_matches_python_formula_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            KMEANS_ITERS, KMEANS_K, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_cluster_ari)
        from otd_semantic_framework_spark.operators.simsearch import (
            kmeans_lloyd_exact, quantize_embeddings)
        qz = quantize_embeddings(_tbl(spark, SF, "embeddings"))
        fa = {r.vec_id: r.cluster for r in
              kmeans_lloyd_exact(qz, k=KMEANS_K, iters=1).collect()}
        fb = {r.vec_id: r.cluster for r in
              kmeans_lloyd_exact(qz, k=KMEANS_K,
                                 iters=KMEANS_ITERS).collect()}
        assert set(fa) == set(fb)
        ct = Counter((fa[v], fb[v]) for v in fa)
        c2 = lambda x: x * (x - 1) // 2  # noqa: E731
        idx = sum(c2(v) for v in ct.values())
        a2 = sum(c2(v) for v in Counter(fa.values()).values())
        b2 = sum(c2(v) for v in Counter(fb.values()).values())
        n = len(fa)
        cn2 = float(n) * (n - 1.0) / 2.0
        ari = round((2.0 * (float(idx) * cn2 - float(a2) * float(b2)))
                    / ((float(a2) + float(b2)) * cn2
                       - 2.0 * float(a2) * float(b2)), 6) + 0.0
        [row] = q_sim_cluster_ari(spark, SF).collect()
        assert (row.n, row.idx, row.a2, row.b2) == (n, idx, a2, b2)
        assert row.ari == ari
        # one extra Lloyd round must neither be a full reshuffle nor a
        # no-op on this fixture: 0 < ARI < 1
        assert 0.0 < row.ari < 1.0
