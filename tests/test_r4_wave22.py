"""Wave-22 operators: surface-ambiguity QA over the collective linker
and transitive reduction of the ancestor closure. Both oracle-paired;
these tests pin what the hash can't state — that ambiguity is CREATED
by context (the isolated linker is 1-concept-per-surface by
construction), and that reduction∘closure == identity on the Hasse
edges, on both the driver taxonomy and a synthetic DAG with a planted
redundant edge."""
from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestSurfaceAmbiguity:
    def test_counts_match_collective_output(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_collective_linking, q_kg_surface_ambiguity)
        coll = q_kg_collective_linking(spark, SF).toPandas()
        out = {r.surface: r for r in
               q_kg_surface_ambiguity(spark, SF).collect()}
        assert set(out) == set(coll.surface.unique())
        for surface, g in coll.groupby("surface"):
            r = out[surface]
            assert r.n_mentions == len(g)
            assert r.n_concepts == g.concept_id.nunique()
            per = (g.groupby("concept_id").size()
                   .sort_index().sort_values(kind="stable",
                                             ascending=False))
            assert r.top_concept == per.index[0]
            assert r.top_share_ppm == per.iloc[0] * 1_000_000 // len(g)

    def test_context_creates_polysemy(self, spark):
        """At least one surface must have n_concepts > 1 — the whole
        point of the collective pass — and shares must be <= 10^6."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_surface_ambiguity)
        out = q_kg_surface_ambiguity(spark, SF).toPandas()
        assert (out.n_concepts > 1).any()
        assert (out.top_share_ppm <= 1_000_000).all()
        assert (out.top_share_ppm > 0).all()


class TestTransitiveReduction:
    def test_reduces_driver_closure_to_parent_edges(self, spark):
        """reduction(ancestor closure) == the taxonomy's direct parent
        edges, exactly (the Hasse diagram the closure was built from)."""
        from otd_semantic_framework_spark.plans.driver_ontology import (
            driver_concepts)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_transitive_reduction)
        got = {(r.concept_id, r.parent_id) for r in
               q_kg_transitive_reduction(spark, SF).collect()}
        expect = {(c.concept_id, c.parent_id) for c in driver_concepts()
                  if c.parent_id is not None}
        assert got == expect

    def test_planted_redundant_edge_removed(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            transitive_reduction)
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("a", "c"),   # a->c redundant
             ("x", "y")],                          # isolated edge kept
            "src string, dst string")
        got = {(r.src, r.dst) for r in
               transitive_reduction(edges).collect()}
        assert got == {("a", "b"), ("b", "c"), ("x", "y")}
