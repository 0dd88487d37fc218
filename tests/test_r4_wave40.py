"""Wave-40 operators: edge triangle support (the k-truss primitive)
and the CUPED-adjusted A/B experiment readout. Both oracle-paired;
these tests replay the wedge closure and the covariate adjustment in
plain Python.
"""
from __future__ import annotations

import math
from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestEdgeTrussSupport:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        from otd_semantic_framework_spark.plans.queries.kg2 import q_kg_truss
        adj = defaultdict(set)
        for r in q_kg_triples(spark, SF).select("subj", "obj") \
                .distinct().collect():
            if r.subj != r.obj:
                adj[r.subj].add(r.obj)
                adj[r.obj].add(r.subj)
        expected = {}
        for u in adj:
            for v in adj[u]:
                if u < v:
                    s = len(adj[u] & adj[v])
                    expected[(u, v)] = (s, int(s >= 1), int(s >= 2))
        got = {(r.src, r.dst): (r.support, r.in_truss3, r.in_truss4)
               for r in q_kg_truss(spark, SF).collect()}
        assert got == expected

    def test_support_identities(self, spark):
        """Structural invariants: sum of support over canonical edges
        is exactly 3x the triangle count (each triangle contributes 1
        to each of its 3 edges), truss4 implies truss3, and the
        fixture graph exercises BOTH zero- and positive-support
        edges."""
        from otd_semantic_framework_spark.plans.queries.kg2 import q_kg_truss
        rows = q_kg_truss(spark, SF).collect()
        total = sum(r.support for r in rows)
        assert total % 3 == 0, "support mass must be a multiple of 3"
        assert all(r.in_truss3 >= r.in_truss4 for r in rows)
        assert any(r.support == 0 for r in rows)
        assert any(r.support >= 2 for r in rows), \
            "fixture must contain a 4-truss edge or the flag is inert"


class TestCupedAbtest:
    def _units(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        y = defaultdict(int)
        for r in _tbl(spark, SF, "orders").collect():
            y[r.o_custkey] += math.floor(r.o_totalprice)
        import hashlib
        units = []
        for r in _tbl(spark, SF, "customer").collect():
            if r.c_custkey not in y:
                continue
            b = int(hashlib.md5(str(r.c_custkey).encode())
                    .hexdigest()[:2], 16)
            units.append((b % 2, math.floor(r.c_acctbal), y[r.c_custkey]))
        return units

    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_abtest)
        units = self._units(spark)
        n = float(len(units))
        sx = float(sum(u[1] for u in units))
        sy = float(sum(u[2] for u in units))
        sxx = float(sum(u[1] * u[1] for u in units))
        sxy = float(sum(u[1] * u[2] for u in units))
        syy = float(sum(u[2] * u[2] for u in units))
        num, den, vy = n * sxy - sx * sy, n * sxx - sx * sx, \
            n * syy - sy * sy
        theta = num / den
        expected = {}
        for v in (0, 1):
            vu = [u for u in units if u[0] == v]
            nv, sxv, syv = float(len(vu)), float(sum(u[1] for u in vu)), \
                float(sum(u[2] for u in vu))
            expected[v] = (
                len(vu), round(syv / nv, 6),
                round(syv / nv - theta * (sxv / nv - sx / n), 6),
                round(theta, 6), round(num * num / (den * vy), 6))
        got = {r.variant: (r.n_units, r.mean_y, r.mean_y_adj, r.theta,
                           r.var_reduction)
               for r in q_rel_abtest(spark, SF).collect()}
        assert got == expected

    def test_cuped_preserves_global_mean_and_bounds(self, spark):
        """CUPED is unbiased: the unit-weighted average of the
        adjusted means equals the raw global mean (the centering term
        sums to zero over all units), and rho^2 sits in [0, 1)."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_abtest)
        rows = q_rel_abtest(spark, SF).collect()
        assert len(rows) == 2 and {r.variant for r in rows} == {0, 1}
        n = sum(r.n_units for r in rows)
        raw = sum(r.n_units * r.mean_y for r in rows) / n
        adj = sum(r.n_units * r.mean_y_adj for r in rows) / n
        assert abs(raw - adj) < 1e-4
        for r in rows:
            assert 0.0 <= r.var_reduction < 1.0
            assert r.theta == rows[0].theta, "theta is pooled, not per-arm"
