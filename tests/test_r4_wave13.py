"""Wave-13 operators: AMIE-lite rule mining, capture-recapture
completeness estimation, the functional-predicate conflict queue, and
the dedup savings report. All four oracle-paired; these tests pin what
the hash can't state — rule support/confidence arithmetic on a
hand-built graph plus the hub-cap semantics, the Lincoln-Petersen
estimator on a known fact space, conflict-queue winner/share
invariants, and savings-report consistency with the component view."""
from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"

T3 = "subj string, pred string, obj string"


class TestRuleMining:
    def test_support_and_confidence_on_known_graph(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            mine_rules)
        # chain graph: a->b->c and d->e->f via p,q; head r holds for
        # (a,c) but not (d,f) -> support 1 (below default min), so use
        # min_support=1. A second body instance (g->h->i) with head
        # makes support 2 of 3.
        triples = spark.createDataFrame(
            [("a", "p", "b"), ("b", "q", "c"), ("a", "r", "c"),
             ("d", "p", "e"), ("e", "q", "f"),
             ("g", "p", "h"), ("h", "q", "i"), ("g", "r", "i")], T3)
        rules = {(r.body_p, r.body_q, r.head_r): r
                 for r in mine_rules(triples, min_support=1).collect()}
        r = rules[("p", "q", "r")]
        assert (r.support, r.n_body) == (2, 3)
        assert r.conf_ppm == 2 * 1_000_000 // 3

    def test_hub_cap_excludes_hub_chains(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            mine_rules)
        # hub node h with many in/out edges: chains through it vanish
        # when the cap is below its degree
        rows = ([(f"x{i}", "p", "hub") for i in range(10)]
                + [("hub", "q", f"z{i}") for i in range(10)]
                + [(f"x{i}", "r", f"z{j}") for i in range(3)
                   for j in range(3)])
        triples = spark.createDataFrame(rows, T3)
        assert mine_rules(triples, min_support=1, hub_cap=5).count() == 0
        capped = mine_rules(triples, min_support=1, hub_cap=100)
        assert capped.filter((F.col("body_p") == "p")
                             & (F.col("head_r") == "r")).count() == 1

    def test_paired_query_finds_topic_persistence(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_rule_mining)
        rows = q_kg_rule_mining(spark, SF).collect()
        got = {(r.body_p, r.body_q, r.head_r): r for r in rows}
        key = ("replies_to", "mentions", "mentions")
        assert key in got, "the reply-stays-on-topic rule must be mined"
        r = got[key]
        assert 0 < r.support <= r.n_body
        assert r.conf_ppm == r.support * 1_000_000 // r.n_body


class TestCompletenessEst:
    def test_lincoln_petersen_on_known_space(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            estimate_completeness)
        # 6 true facts; user sees 4 (f1..f4), assistant sees 3 (f3..f5),
        # overlap 2 (f3,f4); f6 seen only by tool
        rows = ([("c", f"f{i}", "user") for i in (1, 2, 3, 4)]
                + [("c", f"f{i}", "assistant") for i in (3, 4, 5)]
                + [("c", "f6", "tool")])
        obs = spark.createDataFrame(
            rows, "conv_id string, concept_id string, role string")
        r = estimate_completeness(obs).collect()[0]
        assert (r.n_user, r.n_assistant, r.n_overlap, r.n_observed) == \
            (4, 3, 2, 6)
        assert r.est_total == 4 * 3 // 2
        assert r.coverage_ppm == 6 * 1_000_000 // 6

    def test_undefined_when_no_overlap(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            estimate_completeness)
        obs = spark.createDataFrame(
            [("c", "f1", "user"), ("c", "f2", "assistant")],
            "conv_id string, concept_id string, role string")
        r = estimate_completeness(obs).collect()[0]
        assert r.est_total is None and r.coverage_ppm is None

    def test_paired_query_sane(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_completeness_est)
        r = q_kg_completeness_est(spark, SF).collect()[0]
        assert r.n_overlap <= min(r.n_user, r.n_assistant)
        assert max(r.n_user, r.n_assistant) <= r.n_observed
        assert r.est_total >= r.n_overlap


class TestFactConflicts:
    def test_queue_invariants(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_fact_conflicts)
        out = q_kg_fact_conflicts(spark, SF).cache()
        assert out.count() > 0
        assert out.filter(F.col("n_alternatives") < 2).count() == 0
        # exactly one winner per subject, and it holds rank 1
        per = out.groupBy("subj").agg(
            F.sum("is_winner").alias("w"),
            F.count(F.lit(1)).alias("n"),
            F.max("n_alternatives").alias("na"),
            F.sum("share_ppm").alias("share_sum"))
        assert per.filter(F.col("w") != 1).count() == 0
        assert per.filter(F.col("n") != F.col("na")).count() == 0
        # integer-floor shares sum to at most 1e6
        assert per.filter(F.col("share_sum") > 1_000_000).count() == 0
        assert out.filter((F.col("rank") == 1)
                          & (F.col("is_winner") == 0)).count() == 0
        out.unpersist()

    def test_winner_is_max_support(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            fact_conflicts)
        facts = spark.createDataFrame(
            [("s", "a"), ("s", "a"), ("s", "b"),
             ("t", "x")],  # t has one object -> not a conflict
            "subj string, obj string")
        rows = fact_conflicts(facts).collect()
        assert {r.subj for r in rows} == {"s"}
        win = {r.obj: (r.is_winner, r.share_ppm) for r in rows}
        assert win["a"] == (1, 2 * 1_000_000 // 3)
        assert win["b"] == (0, 1 * 1_000_000 // 3)


class TestDedupSavings:
    def test_consistent_with_components(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            JACCARD_MAX_DOC)
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_components, q_dedup_savings)
        out = q_dedup_savings(spark, SF).cache()
        assert out.count() > 0
        assert out.filter(F.col("n_docs") < 2).count() == 0
        assert out.filter(F.col("dup_chars") >= F.col("total_chars")
                          ).count() == 0
        assert out.filter(F.col("savings_ppm") >= 1_000_000).count() == 0
        # cluster sizes match the component view's multi-doc components
        comp = (q_dedup_components(spark, SF)
                .groupBy("component").agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") >= 2))
        j = out.join(comp, "component", "full_outer")
        assert j.filter(F.col("n_docs").isNull()
                        | F.col("n").isNull()
                        | (F.col("n_docs") != F.col("n"))).count() == 0
        # the survivor is a member of the audit slice
        assert out.filter(F.col("rep_doc") >= JACCARD_MAX_DOC).count() == 0
        out.unpersist()
