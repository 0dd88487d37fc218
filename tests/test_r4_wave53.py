"""Wave-53 operators: monthly new-vs-returning mix and embedding
label calibration over kNN edges. Both oracle-paired; these tests
replay the first-month flagging and the bin rates in plain Python.
"""
from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestNewReturning:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_new_returning)
        orders = [(r.o_custkey,
                   r.o_orderdate.year * 12 + r.o_orderdate.month - 1)
                  for r in _tbl(spark, SF, "orders").collect()]
        first = {}
        for ck, m in orders:
            first[ck] = min(first.get(ck, m), m)
        per = defaultdict(lambda: [0, 0, set(), set()])
        for ck, m in orders:
            if m == first[ck]:
                per[m][0] += 1
                per[m][2].add(ck)
            else:
                per[m][1] += 1
                per[m][3].add(ck)
        expected = {m: (v[0], v[1], len(v[2]), len(v[3]),
                        v[0] * 1_000_000 // (v[0] + v[1]))
                    for m, v in per.items()}
        got = {r.month_idx: (r.new_orders, r.returning_orders,
                             r.new_customers, r.returning_customers,
                             r.new_share_ppm)
               for r in q_rel_new_returning(spark, SF).collect()}
        assert got == expected

    def test_mix_shifts_from_new_to_returning(self, spark):
        """The first month is 100% new by construction; late months
        are mostly returning (the acquisition wave passes); order
        mass conserves."""
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_new_returning)
        rows = sorted(q_rel_new_returning(spark, SF).collect(),
                      key=lambda r: r.month_idx)
        assert rows[0].new_share_ppm == 1_000_000
        assert rows[-1].new_share_ppm < 500_000
        total = sum(r.new_orders + r.returning_orders for r in rows)
        assert total == _tbl(spark, SF, "orders").count()


class TestLabelCalibration:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            CAL_BIN_W, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_knn_graph, q_sim_label_calibration)
        labels = {r.vec_id: r.label
                  for r in _tbl(spark, SF, "embeddings")
                  .select("vec_id", "label").collect()}
        bins = defaultdict(lambda: [0, 0])
        for r in q_sim_knn_graph(spark, SF).collect():
            b = int((int(round(r.cos * 1_000_000)) + 1_000_000)
                    // (CAL_BIN_W * 100_000))
            bins[b][0] += 1
            bins[b][1] += int(labels[r.src] == labels[r.dst])
        expected = {b: (n, s, s * 1_000_000 // n)
                    for b, (n, s) in bins.items()}
        got = {r.bin: (r.n_edges, r.n_same_label, r.same_rate_ppm)
               for r in q_sim_label_calibration(spark, SF).collect()}
        assert got == expected

    def test_iid_labels_read_near_chance(self, spark):
        """The fixture's labels are iid over 10 classes, so every
        populated bin's same-label rate must sit near the 10% chance
        floor — the honest no-signal reading (a clustered embedding
        would rise with the bin). Multiple bins must populate or the
        binning is inert."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_label_calibration)
        rows = q_sim_label_calibration(spark, SF).collect()
        assert len(rows) >= 3
        for r in rows:
            if r.n_edges >= 100:
                assert 30_000 <= r.same_rate_ppm <= 250_000
