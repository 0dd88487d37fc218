"""Wave-14 operators: SPARQL set-operator algebra (UNION / MINUS /
FILTER regex), RDF statement reification, and the VoID dataset
self-description. All three oracle-paired; these tests pin the
semantics the hash can't state — MINUS binding removal, reification's
4-triples-per-fact invariant and content-addressed idempotence (plus
the separator-safety assumption), and VoID's arithmetic consistency
with the graph it describes."""
from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"

T3 = "subj string, pred string, obj string"


class TestSparqlSetops:
    def test_minus_removes_replying_turns_and_filter_holds(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_sparql_setops)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        out = q_kg_sparql_setops(spark, SF).cache()
        assert out.count() > 0
        assert out.filter(~F.col("c").rlike("^(dq:B|tool:)")).count() == 0
        repliers = (q_kg_triples(spark, SF)
                    .filter(F.col("pred") == "replies_to")
                    .select(F.col("subj").alias("t")).distinct())
        assert out.join(repliers, "t", "inner").count() == 0
        # both UNION branches contribute
        srcs = {r.src for r in out.select("src").distinct().collect()}
        assert srcs == {"mentions", "uses_tool"}
        out.unpersist()


class TestReify:
    def test_four_triples_per_fact_and_idempotence(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            reify_triples)
        base = spark.createDataFrame(
            [("a", "p", "b"), ("a", "p", "b"), ("c", "q", "d")], T3)
        out = reify_triples(base).cache()
        # 2 distinct facts -> 8 triples, 2 statement nodes
        assert out.count() == 8
        stmts = out.select("subj").distinct()
        assert stmts.count() == 2
        per = out.groupBy("subj").count()
        assert per.filter(F.col("count") != 4).count() == 0
        # content-addressed: re-reifying the same facts yields the
        # identical statement set
        again = reify_triples(base).select("subj").distinct()
        assert stmts.join(again, "subj", "full_outer").filter(
            F.col("subj").isNull()).count() == 0
        out.unpersist()

    def test_roundtrip_reconstructs_graph(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            reify_triples)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        base = q_kg_triples(spark, SF).select("subj", "pred", "obj")
        r = reify_triples(base).cache()
        # pivot the four reification triples back into (subj, pred, obj)
        back = (r.groupBy(F.col("subj").alias("stmt"))
                .agg(F.max(F.when(F.col("pred") == "rdf:subject",
                                  F.col("obj"))).alias("subj"),
                     F.max(F.when(F.col("pred") == "rdf:predicate",
                                  F.col("obj"))).alias("pred"),
                     F.max(F.when(F.col("pred") == "rdf:object",
                                  F.col("obj"))).alias("obj"))
                .select("subj", "pred", "obj"))
        orig = base.distinct()
        assert back.join(orig, ["subj", "pred", "obj"],
                         "full_outer").filter(
            F.col("subj").isNull()).count() == 0
        assert back.count() == orig.count()
        # separator safety: '#' never occurs in this graph's IRIs
        assert orig.filter(F.col("subj").contains("#")
                           | F.col("pred").contains("#")
                           | F.col("obj").contains("#")).count() == 0
        r.unpersist()


class TestVoidStats:
    def test_void_counts_match_graph(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_void_stats)
        out = q_kg_void_stats(spark, SF).cache()
        t = q_kg_triples(spark, SF).select("subj", "pred", "obj") \
            .distinct().cache()
        stats = {(r.subj, r.pred): r.obj for r in out.collect()}
        assert stats[("dataset:kg", "void:triples")] == str(t.count())
        assert stats[("dataset:kg", "void:distinctSubjects")] == \
            str(t.select("subj").distinct().count())
        n_pred = t.select("pred").distinct().count()
        assert stats[("dataset:kg", "void:properties")] == str(n_pred)
        # one partition triple set per predicate, and their void:triples
        # sum to the dataset total
        parts = [(k, v) for k, v in stats.items()
                 if k[1] == "void:triples" and k[0] != "dataset:kg"]
        assert len(parts) == n_pred
        assert sum(int(v) for _, v in parts) == t.count()
        t.unpersist()
        out.unpersist()
