"""Wave-26 operators: link-prediction ranking eval (MRR/Hits@k),
predicate-signature type inference, degree-correlation profile. All
three oracle-paired; these tests replay each algorithm in plain Python
dict arithmetic over the collected fixture graph and demand equality.
"""
from __future__ import annotations

from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


def _undirected(spark):
    from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
    pairs = {(r.subj, r.obj) for r in
             q_kg_triples(spark, SF).select("subj", "obj").distinct()
             .collect()}
    e = set()
    for s, o in pairs:
        e.add((s, o))
        e.add((o, s))
    return e


class TestLinkpredEval:
    def test_matches_python_replay_on_fixture(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            LINKPRED_EVAL_HITS_K, LINKPRED_HUB_CAP, LINKPRED_MIN_COMMON)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_linkpred_eval)
        e = _undirected(spark)
        adj = defaultdict(set)
        for s, o in e:
            adj[s].add(o)
        deg = {n: len(v) for n, v in adj.items()}
        common = Counter()
        for n, nbrs in adj.items():
            if deg[n] > LINKPRED_HUB_CAP:
                continue
            nb = sorted(nbrs)
            for i, a in enumerate(nb):
                for b in nb[i + 1:]:
                    common[(a, b)] += 1
        per_a = defaultdict(list)
        for (a, b), c in common.items():
            if c < LINKPRED_MIN_COMMON:
                continue
            jac = c * 1_000_000 // (deg[a] + deg[b] - c)
            per_a[a].append((jac, b, 1 if (a, b) in e else 0))
        firsts = []
        for a, cands in per_a.items():
            cands.sort(key=lambda t: (-t[0], t[1]))
            ft = next((i + 1 for i, t in enumerate(cands) if t[2]), None)
            if ft is not None:
                firsts.append(ft)
        n = len(firsts)
        assert n > 0, "fixture graph must contain rankable true edges"
        expected = (
            n,
            sum(1_000_000 // f for f in firsts) // n,
            sum(1 for f in firsts if f <= 1) * 1_000_000 // n,
            sum(1 for f in firsts if f <= LINKPRED_EVAL_HITS_K)
            * 1_000_000 // n,
        )
        [row] = q_kg_linkpred_eval(spark, SF).collect()
        assert (row.n_nodes, row.mrr_ppm,
                row.hits1_ppm, row.hitsk_ppm) == expected


class TestTypeInference:
    def test_matches_python_vote_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_type_inference)
        votes = Counter()
        obj_type = {"mentions": "concept", "uses_tool": "tool"}
        for r in q_kg_triples(spark, SF).collect():
            votes[(r.subj, "turn")] += 1
            votes[(r.obj, obj_type.get(r.pred, "turn"))] += 1
        per_node = defaultdict(list)
        for (node, ty), v in votes.items():
            per_node[node].append((v, ty))
        expected = {}
        for node, tys in per_node.items():
            total = sum(v for v, _ in tys)
            tys.sort(key=lambda t: (-t[0], t[1]))
            v, ty = tys[0]
            expected[node] = (ty, v, total, v * 1_000_000 // total)
        got = {r.node: (r.node_type, r.votes, r.total, r.confidence_ppm)
               for r in q_kg_type_inference(spark, SF).collect()}
        assert got == expected
        # the fixture exercises all three signature types
        assert {t[0] for t in got.values()} == {"turn", "concept", "tool"}

    def test_clean_graph_has_full_confidence(self, spark):
        """Node ids are role-disjoint in the fixture KG, so every
        majority vote must be unanimous."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_type_inference)
        out = q_kg_type_inference(spark, SF)
        assert out.filter("confidence_ppm <> 1000000").count() == 0


class TestAssortativity:
    def test_matches_python_replay_and_shape(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_assortativity)
        e = _undirected(spark)
        deg = Counter(s for s, _ in e)
        by_deg = defaultdict(lambda: [0, 0])
        for s, o in e:
            acc = by_deg[deg[s]]
            acc[0] += 1
            acc[1] += deg[o]
        expected = {d: (c, s * 1_000_000 // c)
                    for d, (c, s) in by_deg.items()}
        rows = q_kg_assortativity(spark, SF).collect()
        got = {r.degree: (r.endpoints, r.avg_nbr_deg_ppm) for r in rows}
        assert got == expected
        # every directed endpoint is counted exactly once
        assert sum(c for c, _ in got.values()) == len(e)
        # KG transcripts are hub-periphery: the top-degree bucket's
        # neighbors must average well below the global mean degree
        top = max(got)
        mean_ppm = sum(deg.values()) * 1_000_000 // len(deg)
        assert got[top][1] < mean_ppm
