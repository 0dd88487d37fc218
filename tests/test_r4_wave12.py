"""Wave-12 operators: recency-antecedent propagation (coref-lite),
per-conversation entity salience, turn-level novelty, the entity-
linking alias dictionary, and TransE-style triple plausibility scoring.
All five are oracle-paired; these tests pin the semantics the hash
can't state — antecedent causality (strictly earlier, actually focus-
bearing), the salience formula and top-k bound, novelty-curve
invariants (first turn is all-new, running count hits the conv's
distinct total), alias margin arithmetic, and the TransE score bounds
plus its md5-component decode."""
from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestCorefLite:
    def test_antecedent_is_strictly_earlier_and_real(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_coref_lite)
        out = q_kg_coref_lite(spark, SF).cache()
        assert out.count() > 0
        assert out.filter(F.col("antecedent_turn") >= F.col("turn_idx")
                          ).count() == 0
        assert out.filter(
            F.col("gap") != F.col("turn_idx") - F.col("antecedent_turn")
        ).count() == 0
        # every antecedent turn carries an explicit focus (compound)
        # mention, and no resolved turn does
        focus = (_mentions_df(spark, SF)
                 .filter(F.col("surface").contains(" "))
                 .select("conv_id", "turn_idx").distinct())
        ante = out.select("conv_id",
                          F.col("antecedent_turn").alias("turn_idx"))
        assert ante.join(focus, ["conv_id", "turn_idx"],
                         "left_anti").count() == 0
        assert out.select("conv_id", "turn_idx").join(
            focus, ["conv_id", "turn_idx"], "inner").count() == 0
        out.unpersist()

    def test_recency_picks_nearest_prior(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            recency_antecedents)
        t = spark.createDataFrame(
            [("c", i, "user", "x", None) for i in range(6)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string")
        tc = spark.createDataFrame(
            [("c", 1, "dq:A"), ("c", 4, "dq:B")],
            "conv_id string, turn_idx int, concept_id string")
        got = {r.turn_idx: (r.antecedent_concept, r.antecedent_turn, r.gap)
               for r in recency_antecedents(t, tc).collect()}
        # turn 0 has no antecedent; 2,3 inherit A@1; 5 inherits B@4
        assert 0 not in got and 1 not in got and 4 not in got
        assert got[2] == ("dq:A", 1, 1)
        assert got[3] == ("dq:A", 1, 2)
        assert got[5] == ("dq:B", 4, 1)


class TestEntitySalience:
    def test_topk_and_formula(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            SALIENCE_TOP_K, entity_salience)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_entity_salience)
        out = q_kg_entity_salience(spark, SF).cache()
        per_conv = out.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("rank").alias("mx"))
        assert per_conv.filter(F.col("n") > SALIENCE_TOP_K).count() == 0
        assert per_conv.filter(F.col("mx") > SALIENCE_TOP_K).count() == 0
        out.unpersist()
        # formula on a constructed conversation: 4 turns; A covers 2
        # turns from turn 0, B covers 1 turn at turn 3
        t = spark.createDataFrame(
            [("c", i, "user", "x", None) for i in range(4)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string")
        tc = spark.createDataFrame(
            [("c", 0, "A"), ("c", 2, "A"), ("c", 3, "B")],
            "conv_id string, turn_idx int, concept_id string")
        got = {r.concept_id: r for r in entity_salience(t, tc).collect()}
        assert got["A"].salience_ppm == 500000 * 2 // 4 + 500000 // 1
        assert got["B"].salience_ppm == 500000 * 1 // 4 + 500000 // 4
        assert got["A"].rank == 1 and got["B"].rank == 2


class TestTurnNovelty:
    def test_novelty_curve_invariants(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_turn_novelty)
        out = q_kg_turn_novelty(spark, SF).cache()
        assert out.filter(F.col("n_new") > F.col("n_concepts")).count() == 0
        # the first mention-bearing turn of each conv is 100% novel
        w_first = out.groupBy("conv_id").agg(F.min("turn_idx").alias("turn_idx"))
        firsts = out.join(w_first, ["conv_id", "turn_idx"])
        assert firsts.filter(F.col("novelty_ppm") != 1_000_000).count() == 0
        # the running count ends at the conv's distinct-concept total
        finals = (out.groupBy("conv_id")
                  .agg(F.max_by("cum_concepts", "turn_idx").alias("final")))
        truth = (_mentions_df(spark, SF)
                 .groupBy("conv_id")
                 .agg(F.countDistinct("concept_id").alias("d")))
        assert finals.join(truth, "conv_id").filter(
            F.col("final") != F.col("d")).count() == 0
        out.unpersist()


class TestAliasTable:
    def test_margin_arithmetic_and_flag(self, spark):
        from otd_semantic_framework_spark.operators.construct import (
            alias_table)
        m = spark.createDataFrame(
            [("c", 0, "tight", "X"), ("c", 1, "tight", "X"),
             ("c", 2, "solo", "Y")],
            "conv_id string, turn_idx int, surface string, "
            "concept_id string")
        s = spark.createDataFrame(
            [("tight", "X", 0.90), ("tight", "Z", 0.85),
             ("solo", "Y", 0.50), ("unseen", "Q", 0.99)],
            "surface string, concept_id string, cos_sim double")
        got = {r.surface: r for r in alias_table(m, s).collect()}
        assert set(got) == {"tight", "solo"}  # unseen surface drops out
        t = got["tight"]
        assert (t.n_mentions, t.n_candidates) == (2, 2)
        assert t.best_concept == "X"
        assert t.best_cos_ppm == 900000 and t.margin_ppm == 50000
        assert t.is_ambiguous == 1  # 50k < 100k threshold
        so = got["solo"]
        # a unique candidate's margin is its full score — unambiguous
        assert so.margin_ppm == 500000 and so.is_ambiguous == 0

    def test_paired_query_surfaces_match_corpus(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_alias_table)
        out = q_kg_alias_table(spark, SF)
        corpus = _mentions_df(spark, SF).select("surface").distinct()
        assert out.join(corpus, "surface", "left_anti").count() == 0


class TestTransEScore:
    def test_component_decode_matches_python_md5(self, spark):
        from otd_semantic_framework_spark.operators.kgembed import (
            TRANSE_DIM, _component)
        df = spark.range(1).select(
            *[_component(F.lit("ent:probe"), j).alias(f"c{j}")
              for j in range(TRANSE_DIM)])
        row = df.collect()[0]
        hx = hashlib.md5(b"ent:probe").hexdigest()
        for j in range(TRANSE_DIM):
            assert row[f"c{j}"] == int(hx[2 * j:2 * j + 2], 16) - 128

    def test_score_bounds_and_rates(self, spark):
        from otd_semantic_framework_spark.operators.kgembed import (
            TRANSE_DIM, transe_margins)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_transe_score)
        out = q_kg_transe_score(spark, SF).cache()
        rows = out.collect()
        assert len(rows) > 0
        max_per_dim = 383  # |[-128,127] + [-128,127] - [-128,127]|
        for r in rows:
            assert 0 < r.n_triples
            assert 0 <= r.sum_true_score <= r.n_triples * TRANSE_DIM * max_per_dim
            assert 0 <= r.n_true_better <= r.n_triples
            assert r.hits_ppm == r.n_true_better * 1_000_000 // r.n_triples
            assert r.margin_sum == r.sum_corrupt_score - r.sum_true_score
        out.unpersist()
        # deterministic: same input, same summary
        a = transe_margins(spark.createDataFrame(
            [("s1", "p", "o1"), ("s2", "p", "o2")],
            "subj string, pred string, obj string")).collect()
        b = transe_margins(spark.createDataFrame(
            [("s2", "p", "o2"), ("s1", "p", "o1")],
            "subj string, pred string, obj string")).collect()
        assert a == b
