"""Wave-70 operators: rich-club connectivity over the KG and
eta-squared variance decomposition. Both oracle-paired; these tests
replay the club density and the ANOVA identity in plain Python.
"""
from __future__ import annotations

from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestRichClub:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_rich_club)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        edges = set()
        for r in q_kg_triples(spark, SF).collect():
            if r.subj != r.obj:
                edges.add((min(r.subj, r.obj), max(r.subj, r.obj)))
        deg = Counter()
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        expected = {}
        for i in range(7):
            k = 1 << i
            club = {n for n, d in deg.items() if d > k}
            if len(club) < 2:
                continue
            ec = sum(1 for a, b in edges if a in club and b in club)
            expected[k] = (len(club), ec,
                           2 * ec * 1000000
                           // (len(club) * (len(club) - 1)))
        got = {r.k: (r.n_nodes, r.n_edges, r.phi_ppm)
               for r in q_kg_rich_club(spark, SF).collect()}
        assert got == expected

    def test_monotone_club_shrinks(self, spark):
        """Raising the threshold can only shrink the club and its
        edge count."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_rich_club)
        rows = sorted(q_kg_rich_club(spark, SF).collect(),
                      key=lambda r: r.k)
        assert rows
        for a, b in zip(rows, rows[1:]):
            assert b.n_nodes <= a.n_nodes
            assert b.n_edges <= a.n_edges


class TestAnova:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            ANOVA_FACTORS, _tbl)
        from otd_semantic_framework_spark.plans.queries.rel2 import q_rel_anova
        rows = _tbl(spark, SF, "orders").select(
            "o_orderpriority", "o_orderstatus", "o_totalprice"
        ).collect()
        got = {r.factor: r for r in q_rel_anova(spark, SF).collect()}
        assert set(got) == set(ANOVA_FACTORS)
        for fac in ANOVA_FACTORS:
            import math
            groups = defaultdict(list)
            for r in rows:
                # engines round half AWAY from zero
                d = int(math.floor(abs(r.o_totalprice) + 0.5))
                groups[getattr(r, fac)].append(d)
            n = sum(len(v) for v in groups.values())
            s = sum(sum(v) for v in groups.values())
            ss = sum(x * x for v in groups.values() for x in v)
            between = 0.0
            for gname in sorted(groups):
                sg = sum(groups[gname])
                between = between + float(sg) * float(sg) \
                    / len(groups[gname])
            eta2 = round((between - float(s) * float(s) / n)
                         / (ss - float(s) * float(s) / n), 6)
            r = got[fac]
            assert r.n_groups == len(groups)
            assert r.n == n
            assert abs(r.eta2 - eta2) < 1e-9

    def test_eta2_bounds(self, spark):
        """eta^2 lives in [0, 1] — between-group SS is a component of
        total SS."""
        from otd_semantic_framework_spark.plans.queries.rel2 import q_rel_anova
        for r in q_rel_anova(spark, SF).collect():
            assert -1e-9 <= r.eta2 <= 1.0 + 1e-9
