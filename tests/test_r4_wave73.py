"""Wave-73 operators: entropy rate of the event process and exact-L1
transition-matrix drift. Both oracle-paired; these tests replay the
chain-rule identity and the common-denominator L1 in plain Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


def _transitions(spark):
    from otd_semantic_framework_spark.plans.queries._shared import _tbl
    per_user = defaultdict(list)
    rows = _tbl(spark, SF, "events").select(
        "user_id", "ts", "event_id", "event_type").collect()
    for r in rows:
        per_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    out = []
    for evs in per_user.values():
        evs.sort()
        for (t1, _, a), (t2, _, b) in zip(evs, evs[1:]):
            out.append((a, b, t2))
    return out, rows


class TestEntropyRate:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_entropy_rate)
        trans, _ = _transitions(spark)
        joint = Counter((a, b) for a, b, _ in trans)
        prev = Counter(a for a, _, _ in trans)
        nxt = Counter(b for _, b, _ in trans)
        n = len(trans)

        def ent(c, keyfn):
            acc = 0.0
            for k in sorted(c, key=keyfn):
                acc = acc + c[k] * math.log2(c[k])
            return round(math.log2(n) - acc / n, 6)

        h_joint = ent(joint, lambda k: f"{k[0]}|{k[1]}")
        h_prev = ent(prev, lambda k: k)
        h_next = ent(nxt, lambda k: k)
        row = q_stats_entropy_rate(spark, SF).collect()[0]
        assert row.n_trans == n
        assert abs(row.h_joint - h_joint) < 1e-9
        assert abs(row.h_prev - h_prev) < 1e-9
        assert abs(row.h_next - h_next) < 1e-9
        assert abs(row.h_cond - round(h_joint - h_prev, 6)) < 1e-9
        assert abs(row.info_gain
                   - round(h_next - (h_joint - h_prev), 6)) < 1e-9

    def test_chain_rule_inequalities(self, spark):
        """H(next|prev) <= H(next) (conditioning cannot raise
        entropy), and the gain is the difference."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_entropy_rate)
        r = q_stats_entropy_rate(spark, SF).collect()[0]
        assert r.h_cond <= r.h_next + 1e-6
        assert r.info_gain >= -1e-6
        assert r.h_joint <= r.h_prev + r.h_next + 1e-6


class TestTransitionDrift:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_transition_drift)
        trans, rows = _transitions(spark)
        es = [int(r.ts.replace(microsecond=0).timestamp())
              for r in rows]
        t0, t1 = min(es), max(es)
        c1, c2 = Counter(), Counter()
        for a, b, t2 in trans:
            half = int(int(t2.replace(microsecond=0).timestamp()) * 2
                       >= t0 + t1)
            (c2 if half else c1)[(a, b)] += 1
        n1, n2 = sum(c1.values()), sum(c2.values())
        keys = set(c1) | set(c2)
        num = sum(abs(c1.get(k, 0) * n2 - c2.get(k, 0) * n1)
                  for k in keys)
        l1 = num * 1000000 // max(n1 * n2, 1)
        got = {(r.prev, r.nxt): r
               for r in q_stats_transition_drift(spark, SF).collect()}
        assert set(got) == keys
        for k in keys:
            r = got[k]
            assert r.c1 == c1.get(k, 0)
            assert r.c2 == c2.get(k, 0)
            assert r.p1_ppm == c1.get(k, 0) * 1000000 // max(n1, 1)
            assert r.p2_ppm == c2.get(k, 0) * 1000000 // max(n2, 1)
            assert r.l1_ppm == l1
            assert r.drifted == int(l1 > 200000)

    def test_l1_bounds(self, spark):
        """L1 between two distributions lives in [0, 2e6] ppm."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_transition_drift)
        rows = q_stats_transition_drift(spark, SF).collect()
        assert rows
        assert 0 <= rows[0].l1_ppm <= 2000000
