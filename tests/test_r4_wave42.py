"""Wave-42 operators: PathSim metapath similarity (concept-turn-
concept) and Welch's unequal-variance t-test per source vs rest. Both
oracle-paired; these tests replay the path counting and the Welch
statistic in plain Python.
"""
from __future__ import annotations

import math
from collections import defaultdict
from itertools import combinations

SF = "/root/testdata/sf0.001"


class TestPathSim:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df)
        from otd_semantic_framework_spark.plans.queries.kg2 import q_kg_pathsim
        per_turn = defaultdict(set)
        for r in _mentions_df(spark, SF) \
                .select("conv_id", "turn_idx", "concept_id").collect():
            per_turn[(r.conv_id, r.turn_idx)].add(r.concept_id)
        co, n = defaultdict(int), defaultdict(int)
        for concepts in per_turn.values():
            for c in concepts:
                n[c] += 1
            for a, b in combinations(sorted(concepts), 2):
                co[(a, b)] += 1
        expected = {p: (c, n[p[0]], n[p[1]],
                        2 * c * 1_000_000 // (n[p[0]] + n[p[1]]))
                    for p, c in co.items()}
        got = {(r.concept_a, r.concept_b):
               (r.co_turns, r.n_a, r.n_b, r.pathsim_ppm)
               for r in q_kg_pathsim(spark, SF).collect()}
        assert got == expected

    def test_pathsim_discounts_hubs(self, spark):
        """The PathSim normalization means something: scores sit in
        (0, 1e6], a pair of always-co-occurring concepts would score
        1e6, and the score strictly decreases when the same co-count
        is attached to heavier-path concepts (pinned via two actual
        rows with equal co_turns and different n_a + n_b)."""
        from otd_semantic_framework_spark.plans.queries.kg2 import q_kg_pathsim
        rows = q_kg_pathsim(spark, SF).collect()
        assert rows
        for r in rows:
            assert 0 < r.pathsim_ppm <= 1_000_000
            assert r.co_turns <= min(r.n_a, r.n_b)
        by_co = defaultdict(list)
        for r in rows:
            by_co[r.co_turns].append(r)
        checked = False
        for rs in by_co.values():
            masses = {r.n_a + r.n_b for r in rs}
            if len(masses) > 1:
                lo = min(rs, key=lambda r: r.n_a + r.n_b)
                hi = max(rs, key=lambda r: r.n_a + r.n_b)
                assert lo.pathsim_ppm >= hi.pathsim_ppm
                checked = True
        assert checked, "fixture must exercise the normalization"


class TestWelch:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_welch)
        per = defaultdict(list)
        for r in _docs(spark, SF).collect():
            per[r.source].append(len(r.text or ""))
        allm = [m for v in per.values() for m in v]
        nt, st, sst = len(allm), sum(allm), sum(m * m for m in allm)
        expected = {}
        for src, ms in per.items():
            n1, s1, ss1 = len(ms), sum(ms), sum(m * m for m in ms)
            n2, s2, ss2 = nt - n1, st - s1, sst - ss1
            n1d, n2d = float(n1), float(n2)
            v1 = (n1d * float(ss1) - float(s1) * float(s1)) \
                / (n1d * (n1d - 1))
            v2 = (n2d * float(ss2) - float(s2) * float(s2)) \
                / (n2d * (n2d - 1))
            se1, se2 = v1 / n1d, v2 / n2d
            t = (float(s1) / n1d - float(s2) / n2d) / math.sqrt(se1 + se2)
            df = (se1 + se2) * (se1 + se2) \
                / (se1 * se1 / (n1d - 1) + se2 * se2 / (n2d - 1))
            expected[src] = (n1, round(float(s1) / n1d, 6), round(t, 6),
                             round(df, 6))
        got = {r.source: (r.n_docs, r.mean_mass, r.t_stat, r.welch_df)
               for r in q_stats_welch(spark, SF).collect()}
        assert got == expected

    def test_welch_df_bounds(self, spark):
        """Welch-Satterthwaite df is bounded by min(n1,n2)-1 from
        below and n1+n2-2 from above, and the per-source t stats are
        not all identical (the fixture sources differ)."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_welch)
        rows = q_stats_welch(spark, SF).collect()
        nt = sum(r.n_docs for r in rows)
        for r in rows:
            n1, n2 = r.n_docs, nt - r.n_docs
            assert min(n1, n2) - 1 <= r.welch_df <= n1 + n2 - 2 + 1e-6
        assert len({r.t_stat for r in rows}) > 1
