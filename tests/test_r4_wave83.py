"""Wave-83 operators: two-way ANOVA with interaction and the type-1
decile QQ-shift table. Both oracle-paired; these tests replay the SS
identities and the order statistics in plain Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestInteraction:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_interaction)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        cells = defaultdict(list)
        for r in _tbl(spark, SF, "orders").select(
                "o_orderdate", "o_orderpriority",
                "o_totalprice").collect():
            a = int(r.o_orderdate.date().isoweekday() >= 6)
            d = int(math.floor(abs(r.o_totalprice) + 0.5))
            cells[(a, r.o_orderpriority)].append(d)
        n = sum(len(v) for v in cells.values())
        s = sum(sum(v) for v in cells.values())
        ss = sum(x * x for v in cells.values() for x in v)
        grand = float(s) * s / n

        def between(keyfn):
            groups = defaultdict(lambda: [0, 0])
            for k, v in cells.items():
                g = groups[keyfn(k)]
                g[0] += sum(v)
                g[1] += len(v)
            acc = 0.0
            for k in sorted(groups, key=str):
                sg, ng = groups[k]
                acc = acc + float(sg) * sg / ng
            return acc

        fa = between(lambda k: str(k[0]))
        fb = between(lambda k: k[1])
        fc = between(lambda k: f"{k[0]}|{k[1]}")
        sst = ss - grand
        expected = {
            "factor_weekend": fa - grand,
            "factor_priority": fb - grand,
            "interaction": (fc - grand) - (fa - grand) - (fb - grand),
            "cells_total": fc - grand,
        }
        got = {r.component: r
               for r in q_rel_interaction(spark, SF).collect()}
        assert set(got) == set(expected)
        for k, v in expected.items():
            assert abs(got[k].ss - round(v, 6)) < 1e-6
            assert abs(got[k].eta2 - round(v / sst, 6)) < 1e-9
            assert got[k].n == n

    def test_ss_identities(self, spark):
        """cells = A + B + interaction, and every eta^2 is in
        [-eps, 1]."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_interaction)
        got = {r.component: r
               for r in q_rel_interaction(spark, SF).collect()}
        lhs = got["cells_total"].ss
        rhs = (got["factor_weekend"].ss + got["factor_priority"].ss
               + got["interaction"].ss)
        assert abs(lhs - rhs) < 1e-3
        for r in got.values():
            assert -1e-6 <= r.eta2 <= 1.0 + 1e-9


class TestQqShift:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            QQ_DECILES, _tbl)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_qq_shift)
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        d0, d1 = min(days), max(days)
        halves = {0: [], 1: []}
        for d, x in days.items():
            h = int((d - d0).days * 2 >= (d1 - d0).days)
            halves[h].append(x)

        def q1(vals, pct):
            v = sorted(vals)
            n = len(v)
            # smallest x with cum*100 >= pct*n
            cum = 0
            counts = Counter(v)
            for x in sorted(counts):
                cum += counts[x]
                if cum * 100 >= pct * n:
                    return x
            return v[-1]

        m0 = q1(halves[0], 50)
        expected = {}
        for pct in QQ_DECILES:
            a, b = q1(halves[0], pct), q1(halves[1], pct)
            d = (b - a) * 1000
            dd = max(m0, 1)
            pm = d // dd if d >= 0 else -((-d) // dd)
            expected[pct] = (a, b, b - a, pm)
        got = {r.pct: (r.q_first, r.q_second, r.delta,
                       r.delta_permille_of_med)
               for r in q_stats_qq_shift(spark, SF).collect()}
        assert got == expected

    def test_deciles_are_monotone(self, spark):
        """Order statistics rise with pct within each half."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_qq_shift)
        rows = sorted(q_stats_qq_shift(spark, SF).collect(),
                      key=lambda r: r.pct)
        assert rows
        for a, b in zip(rows, rows[1:]):
            assert b.q_first >= a.q_first
            assert b.q_second >= a.q_second
