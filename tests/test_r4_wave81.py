"""Wave-81 operators: Simpson's-paradox detector and the price/volume/
mix revenue bridge. Both oracle-paired; these tests replay the signs
and the bridge identity in plain Python.
"""
from __future__ import annotations

import math
from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestSimpson:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            SIMPSON_VALUE_FENCE, _tbl)
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_simpson)
        per = defaultdict(lambda: [0, 0, 0, 0])  # n_we s_we n_wd s_wd
        for r in _tbl(spark, SF, "events") \
                .select("event_type", "ts", "value").collect():
            we = int(r.ts.date().isoweekday() >= 6)
            hit = int((r.value or 0.0) >= SIMPSON_VALUE_FENCE)
            a = per[r.event_type]
            if we:
                a[0] += 1
                a[1] += hit
            else:
                a[2] += 1
                a[3] += hit
        tot = [sum(v[i] for v in per.values()) for i in range(4)]

        def sgn(v):
            return (1 if v[1] * v[2] > v[3] * v[0]
                    else -1 if v[1] * v[2] < v[3] * v[0] else 0)

        o_sign = sgn(tot)
        strat_signs = [sgn(v) for v in per.values()]
        paradox = int(o_sign != 0 and all(
            s == -o_sign for s in strat_signs if s != 0)
            and any(s != 0 for s in strat_signs))
        # the operator's flag: every NONZERO stratum sign opposes;
        # min() over an empty set (all zero strata) yields NULL ->
        # not paradox, matching `all_opposed == 1` only when at least
        # one nonzero stratum exists.
        got = {r.stratum: r for r in q_rel_simpson(spark, SF)
               .collect()}
        assert set(got) == set(per) | {"__overall__"}
        for st, v in per.items():
            r = got[st]
            assert (r.n_we, r.s_we, r.n_wd, r.s_wd) == tuple(v)
            assert r.sign == sgn(v)
            assert r.paradox == paradox
        ov = got["__overall__"]
        assert (ov.n_we, ov.s_we, ov.n_wd, ov.s_wd) == tuple(tot)
        assert ov.sign == o_sign

    def test_overall_pools_strata(self, spark):
        """The pooled row equals the stratum sums, and sign is the
        exact cross-multiplied comparison."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_simpson)
        rows = q_rel_simpson(spark, SF).collect()
        per = [r for r in rows if r.stratum != "__overall__"]
        ov = [r for r in rows if r.stratum == "__overall__"][0]
        assert sum(r.n_we for r in per) == ov.n_we
        assert sum(r.s_wd for r in per) == ov.s_wd
        for r in rows:
            lhs, rhs = r.s_we * r.n_wd, r.s_wd * r.n_we
            assert r.sign == (1 if lhs > rhs
                              else -1 if lhs < rhs else 0)


class TestPvmBridge:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_pvm_bridge)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        orders = {r.o_orderkey: r.o_orderdate
                  for r in _tbl(spark, SF, "orders")
                  .select("o_orderkey", "o_orderdate").collect()}
        mp = defaultdict(lambda: [0, 0])
        for r in _tbl(spark, SF, "lineitem") \
                .select("l_orderkey", "l_partkey", "l_extendedprice",
                        "l_quantity").collect():
            od = orders[r.l_orderkey]
            mn = od.year * 12 + od.month - 1
            k = (mn, r.l_partkey)
            mp[k][0] += int(math.floor(abs(r.l_extendedprice * 100)
                                       + 0.5))
            mp[k][1] += int(math.floor(abs(r.l_quantity) + 0.5))

        def idiv(a, b):
            q = abs(a) // b
            return q if a >= 0 else -q

        months = sorted({mn for mn, _ in mp})
        expected = {}
        for mn in months[1:]:
            parts = ({p for m, p in mp if m == mn}
                     | {p for m, p in mp if m == mn - 1})
            agg = [0] * 7  # rev0 rev1 price vol cross new retired (u)
            for p in parts:
                c1, q1 = mp.get((mn, p), [0, 0])
                c0, q0 = mp.get((mn - 1, p), [0, 0])
                agg[0] += c0
                agg[1] += c1
                if q0 > 0 and q1 > 0:
                    p1u, p0u = idiv(c1 * 10**6, q1), idiv(c0 * 10**6,
                                                          q0)
                    agg[2] += (p1u - p0u) * q0
                    agg[3] += p0u * (q1 - q0)
                    agg[4] += (p1u - p0u) * (q1 - q0)
                elif q1 > 0:
                    agg[5] += c1 * 10**6
                elif q0 > 0:
                    agg[6] += c0 * 10**6
            effs = [idiv(x, 10**6) for x in agg[2:]]
            key = f"{mn // 12:04d}-{mn % 12 + 1:02d}"
            delta = agg[1] - agg[0]
            expected[key] = (agg[0], agg[1], delta, *effs,
                             delta - effs[0] - effs[1] - effs[2]
                             - effs[3] + effs[4])
        got = {r.month: (r.rev0_c, r.rev1_c, r.delta_c,
                         r.price_eff_c, r.vol_eff_c, r.cross_eff_c,
                         r.new_eff_c, r.retired_eff_c, r.residual_c)
               for r in q_rel_pvm_bridge(spark, SF).collect()}
        assert got == expected

    def test_bridge_closes_within_quantization(self, spark):
        """The five effects plus residual reconstruct delta exactly,
        and the residual stays tiny relative to revenue (it is pure
        micro-cent quantization error)."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_pvm_bridge)
        rows = q_rel_pvm_bridge(spark, SF).collect()
        assert rows
        for r in rows:
            assert (r.price_eff_c + r.vol_eff_c + r.cross_eff_c
                    + r.new_eff_c - r.retired_eff_c + r.residual_c
                    == r.delta_c)
            assert abs(r.residual_c) <= max(r.rev1_c, r.rev0_c) // 100
