"""Wave-11 operators: relational→RDF direct mapping, knowledge fusion,
open relation extraction, dialogue-act transitions, predicate QA
profile, and the MinHash-LSH blocking-quality audit. All six are
oracle-paired (kg_direct_mapping, kg_fact_fusion, kg_open_relations,
kg_dialogue_acts, kg_property_stats, dedup_blocking_audit); these tests
pin the semantics the hash can't state — FK-closure completeness,
the fusion confidence formula, adjacency-pattern extraction, transition
row-normalization, functional-violation counting, and the audit's
consistency with the verified LSH pair set."""
from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"

TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string")


class TestDirectMapping:
    def test_fk_closure_is_complete(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_direct_mapping)
        out = q_kg_direct_mapping(spark, SF).cache()
        # every FK reference object resolves to a mapped subject
        for pred, type_pred in (("tpch:customer", "tpch:mktsegment"),
                                ("tpch:nation", "tpch:name"),
                                ("tpch:region", "tpch:name")):
            refs = (out.filter(F.col("pred") == pred)
                    .select(F.col("obj").alias("node")).distinct())
            defined = (out.filter(F.col("pred") == type_pred)
                       .select(F.col("subj").alias("node")).distinct())
            dangling = refs.join(defined, "node", "left_anti").count()
            assert dangling == 0, f"dangling {pred} references"
        out.unpersist()

    def test_slice_and_set_semantics(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            DIRECT_MAP_MODULUS)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_direct_mapping)
        out = q_kg_direct_mapping(spark, SF).cache()
        assert out.count() == out.distinct().count()
        orders = (out.filter(F.col("pred") == "rdf:type")
                  .filter(F.col("obj") == "tpch:Order")
                  .select(F.regexp_replace("subj", "^order:", "")
                          .cast("long").alias("k")))
        assert orders.filter(F.col("k") % DIRECT_MAP_MODULUS != 0).count() == 0
        assert orders.count() > 0
        out.unpersist()


class TestFactFusion:
    def test_confidence_formula_and_weights(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            FUSION_PRIOR, fuse_facts)
        rows = [
            # conv A / concept c1: user turn (w=3) + assistant turn (w=2),
            # user turn observes it twice (two surfaces) -> n_mentions=3
            ("A", 0, "user", "c1"), ("A", 0, "user", "c1"),
            ("A", 2, "assistant", "c1"),
            # conv A / concept c2: one tool observation (w=1)
            ("A", 5, "tool", "c2"),
        ]
        m = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, "
                  "concept_id string")
        got = {r.obj: r for r in fuse_facts(m).collect()}
        c1 = got["concept:c1"]
        assert (c1.n_mentions, c1.n_turns, c1.w_support) == (3, 2, 5)
        assert (c1.first_turn, c1.last_turn) == (0, 2)
        assert c1.conf_ppm == 5 * 1_000_000 // (5 + FUSION_PRIOR)
        c2 = got["concept:c2"]
        assert (c2.n_mentions, c2.n_turns, c2.w_support) == (1, 1, 1)
        assert c2.conf_ppm == 1_000_000 // (1 + FUSION_PRIOR)
        # confidence is monotone in support and saturates below 1
        assert c2.conf_ppm < c1.conf_ppm < 1_000_000

    def test_paired_query_runs(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_fact_fusion)
        out = q_kg_fact_fusion(spark, SF).cache()
        assert out.count() > 0
        assert out.filter("n_turns > n_mentions").count() == 0
        assert out.filter("conf_ppm >= 1000000").count() == 0
        out.unpersist()


class TestOpenRelations:
    def test_adjacency_pattern(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            open_relation_triples)
        t = spark.createDataFrame(
            [("c0", 0, "user", "data join table now", None),
             ("c0", 1, "user", "data join table again", None),
             # trigger flanked by a stopword: not extracted
             ("c0", 2, "user", "the join table", None),
             # trigger at end of text: no right arg
             ("c1", 0, "user", "data join", None)],
            TRANSCRIPT_SCHEMA)
        got = {(r.subj_tok, r.rel, r.obj_tok): r.n_support
               for r in open_relation_triples(t, min_support=1).collect()}
        assert got == {("data", "join", "table"): 2}

    def test_args_never_triggers_or_stopwords(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            OPENIE_STOP, OPENIE_TRIGGERS)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_open_relations)
        out = q_kg_open_relations(spark, SF).cache()
        assert out.count() > 0
        bad = list(OPENIE_TRIGGERS) + list(OPENIE_STOP)
        assert out.filter(F.col("subj_tok").isin(bad)
                          | F.col("obj_tok").isin(bad)).count() == 0
        assert out.filter(~F.col("rel").isin(list(OPENIE_TRIGGERS))).count() == 0
        out.unpersist()


class TestDialogueActs:
    def test_transition_normalization(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_dialogue_acts)
        out = q_kg_dialogue_acts(spark, SF).cache()
        # row-normalization: per prev_act, p_ppm sums to 1e6 minus
        # integer-truncation dust (< one ppm unit per act)
        sums = (out.groupBy("prev_act")
                .agg(F.sum("p_ppm").alias("s"), F.count("*").alias("k"))
                .collect())
        for r in sums:
            assert 1_000_000 - r.k < r.s <= 1_000_000
        # every conversation contributes exactly one <start> transition
        from otd_semantic_framework_spark.plans.queries._shared import (
            derived_transcripts)
        n_convs = (derived_transcripts(spark, SF)
                   .select("conv_id").distinct().count())
        starts = (out.filter(F.col("prev_act") == "<start>")
                  .agg(F.sum("n_trans")).collect()[0][0])
        assert starts == n_convs
        out.unpersist()

    def test_cue_classification(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            dialogue_act_transitions)
        t = spark.createDataFrame(
            [("c0", 0, "user", "query the data", None),     # question cue
             ("c0", 1, "assistant", "sort it now", None),   # directive cue
             ("c0", 2, "user", "ok but why?", None),        # '?' => question
             ("c0", 3, "assistant", "done", None)],         # inform
            TRANSCRIPT_SCHEMA)
        got = {(r.prev_act, r.act): r.n_trans
               for r in dialogue_act_transitions(t).collect()}
        assert got == {("<start>", "question"): 1,
                       ("question", "directive"): 1,
                       ("directive", "question"): 1,
                       ("question", "inform"): 1}


class TestPredicateProfile:
    def test_functional_violations(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            predicate_profile)
        t = spark.createDataFrame(
            [("s1", "p_func", "o1"), ("s2", "p_func", "o1"),
             ("s1", "p_multi", "o1"), ("s1", "p_multi", "o2"),
             ("s2", "p_multi", "o3")],
            "subj string, pred string, obj string")
        got = {r.pred: r for r in predicate_profile(t).collect()}
        f_, m_ = got["p_func"], got["p_multi"]
        assert (f_.n_triples, f_.n_subj, f_.n_obj) == (2, 2, 1)
        assert (f_.max_fanout, f_.n_functional_violations) == (1, 0)
        assert (m_.n_triples, m_.n_subj, m_.n_obj) == (3, 2, 3)
        assert (m_.max_fanout, m_.n_functional_violations) == (2, 1)


class TestBlockingAudit:
    def test_hits_equal_verified_lsh_pairs(self, spark):
        """The audit's hit set (cand ∩ truth) is BY CONSTRUCTION the
        verified LSH pair set dedup_minhash_lsh emits on the same
        corpus — pin that equality, plus the metric bounds."""
        from otd_semantic_framework_spark.operators.dedup import (
            minhash_dedup_pairs)
        from otd_semantic_framework_spark.plans.queries._shared import (
            JACCARD_MAX_DOC, MINHASH_THRESHOLD)
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_blocking_audit)
        row = q_dedup_blocking_audit(spark, SF).collect()[0]
        assert 0 < row.n_hit <= min(row.n_cand, row.n_true)
        assert 0 < row.pairs_completeness_ppm <= 1_000_000
        assert 0 < row.precision_ppm <= 1_000_000
        assert 0 < row.reduction_ratio_ppm <= 1_000_000
        docs = (spark.read.parquet(f"{SF}/documents.parquet")
                .filter(F.col("doc_id") < JACCARD_MAX_DOC))
        verified = minhash_dedup_pairs(
            docs, threshold=MINHASH_THRESHOLD, portable=True).count()
        assert row.n_hit == verified
