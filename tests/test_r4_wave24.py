"""Wave-24 operator: graph diff between snapshot states. Oracle-paired;
these tests pin the class arithmetic (added/removed/unchanged recounted
from the slice definitions) and that all three diff classes actually
fire on the fixture graph."""
from __future__ import annotations

import hashlib

SF = "/root/testdata/sf0.001"


class TestSnapshotDiff:
    def test_classes_match_slice_recount(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_snapshot_diff)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        t = (q_kg_triples(spark, SF)
             .select("subj", "pred", "obj").toPandas())
        t["h"] = t.subj.map(
            lambda s: int(hashlib.md5(s.encode()).hexdigest()[:2], 16))
        out = {r.pred: r for r in q_kg_snapshot_diff(spark, SF).collect()}
        for pred, g in t.groupby("pred"):
            v1 = g[g.h < 160]
            v2 = g[g.h >= 32]
            added = len(v2[v2.h >= 160])
            removed = len(v1[v1.h < 32])
            unchanged = len(g[(g.h >= 32) & (g.h < 160)])
            r = out[pred]
            assert (r.added, r.removed, r.unchanged) == (
                added, removed, unchanged), pred
            assert r.churn_ppm == (added + removed) * 1_000_000 // (
                added + unchanged)

    def test_all_three_classes_fire(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_snapshot_diff)
        out = q_kg_snapshot_diff(spark, SF).toPandas()
        assert (out.added > 0).any()
        assert (out.removed > 0).any()
        assert (out.unchanged > 0).any()
