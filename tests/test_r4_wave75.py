"""Wave-75 operators: hash-prefix collision audit and priority-class
SLA inversion detection. Both oracle-paired; these tests replay the
birthday arithmetic and the adjacent-rank comparison in Python.
"""
from __future__ import annotations

import hashlib
from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestHashCollisionAudit:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            HASH_PREFIX_BITS, _docs)
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_hash_collision_audit)
        keys = {hashlib.md5((r.text or "").encode()).hexdigest()
                for r in _docs(spark, SF).collect()}
        n = len(keys)
        got = {r.k: r for r in
               q_dedup_hash_collision_audit(spark, SF).collect()}
        assert set(got) == set(HASH_PREFIX_BITS)
        for k in HASH_PREFIX_BITS:
            prefixes = {h[: k // 4] for h in keys}
            coll = n - len(prefixes)
            exp = n * (n - 1) // (2 << k)
            r = got[k]
            assert r.n_keys == n
            assert r.n_prefixes == len(prefixes)
            assert r.collisions == coll
            assert r.expected == exp
            assert r.ratio_ppm == coll * 1000000 // max(exp, 1)

    def test_collisions_shrink_with_width(self, spark):
        """Wider prefixes can only reduce collisions; an unbiased
        hash's 8-bit collisions must be near the birthday bound when
        n >> 2^8 (ratio within [0.5x, 2x])."""
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_hash_collision_audit)
        rows = sorted(q_dedup_hash_collision_audit(spark, SF)
                      .collect(), key=lambda r: r.k)
        for a, b in zip(rows, rows[1:]):
            assert b.collisions <= a.collisions
        r8 = rows[0]
        if r8.n_keys > 4 * 256:
            assert 500000 <= r8.ratio_ppm <= 2000000


class TestSlaInversion:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_sla_inversion)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        orders = {r.o_orderkey: (r.o_orderpriority,
                                 r.o_orderdate.date())
                  for r in _tbl(spark, SF, "orders")
                  .select("o_orderkey", "o_orderpriority",
                          "o_orderdate").collect()}
        per = defaultdict(list)
        for r in _tbl(spark, SF, "lineitem") \
                .select("l_orderkey", "l_shipdate").collect():
            prio, od = orders[r.l_orderkey]
            per[prio].append((r.l_shipdate.date() - od).days)
        stats = {}
        for prio, ds in per.items():
            d2 = sorted(x * 2 for x in ds)
            n = len(d2)
            med2 = d2[n // 2] if n % 2 else (d2[n // 2 - 1]
                                             + d2[n // 2]) // 2
            s = sum(ds)
            mean = s // n if s >= 0 else -((-s) // n)
            stats[int(prio[0])] = (prio, n, med2, mean)
        got = {r.prio: r for r in q_rel_sla_inversion(spark, SF)
               .collect()}
        assert len(got) == len(stats)
        for rank, (prio, n, med2, mean) in stats.items():
            r = got[prio]
            assert r.rank == rank
            assert r.n_lines == n
            assert r.med2_days == med2
            assert r.mean_days == mean
            nxt = stats.get(rank + 1)
            if nxt:
                assert r.next_med2_days == nxt[2]
                assert r.inverted_vs_next == int(med2 > nxt[2])
            else:
                assert r.next_med2_days is None
                assert r.inverted_vs_next == 0

    def test_rank_parsing(self, spark):
        """All five TPC-H priority classes appear with ranks 1..5 and
        exactly one class (the last) has no next."""
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_sla_inversion)
        rows = q_rel_sla_inversion(spark, SF).collect()
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        assert sum(1 for r in rows if r.next_med2_days is None) == 1
