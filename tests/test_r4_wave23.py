"""Wave-23 operators: n-ary event extraction and temporal
fact-validity intervals. Both oracle-paired; these tests pin semantics
the hash can't state — the 4-edges-per-event invariant and
event-node/turn consistency, and that the interval set exactly tiles
the per-fact turn set with maximal runs."""
from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestEventExtraction:
    def test_four_edges_per_event_and_consistency(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df, derived_transcripts)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_event_extraction)
        out = q_kg_event_extraction(spark, SF).toPandas()
        by_event = out.groupby("subj")
        assert (by_event.size() == 4).all()
        assert set(out.pred.unique()) == {
            "kg:actor", "kg:action", "kg:theme", "kg:at_turn"}
        # event count == |tool turns x their distinct concepts|
        t = (derived_transcripts(spark, SF)
             .filter(F.col("tool").isNotNull())
             .select("conv_id", "turn_idx").distinct())
        m = (_mentions_df(spark, SF)
             .select("conv_id", "turn_idx", "concept_id").distinct())
        n_expected = t.join(m, ["conv_id", "turn_idx"]).count()
        assert out.subj.nunique() == n_expected

    def test_edges_point_at_real_nodes(self, spark):
        """Every kg:action obj is a tool: node, every kg:theme obj a
        concept id, every kg:at_turn obj a turn: node of the same
        conversation encoded in at least one sibling edge set."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_event_extraction)
        out = q_kg_event_extraction(spark, SF).toPandas()
        assert out[out.pred == "kg:action"].obj.str.startswith(
            "tool:").all()
        assert out[out.pred == "kg:theme"].obj.str.startswith("dq:").all()
        assert out[out.pred == "kg:at_turn"].obj.str.startswith(
            "turn:").all()
        assert out[out.pred == "kg:actor"].obj.isin(
            ["user", "assistant", "tool"]).all()


class TestFactIntervals:
    def test_spans_tile_turn_sets_maximally(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_fact_intervals)
        m = (_mentions_df(spark, SF)
             .select("conv_id", "turn_idx", "concept_id")
             .distinct().toPandas())
        out = q_kg_fact_intervals(spark, SF).toPandas()
        for (conv, cid), g in m.groupby(["conv_id", "concept_id"]):
            turns = sorted(g.turn_idx)
            runs = []
            start = prev = turns[0]
            for t in turns[1:]:
                if t == prev + 1:
                    prev = t
                else:
                    runs.append((start, prev))
                    start = prev = t
            runs.append((start, prev))
            got = out[(out.conv_id == conv) & (out.concept_id == cid)]
            assert sorted(zip(got.from_turn, got.to_turn)) == runs
            assert (got.n_spans == len(runs)).all()
            assert got.n_turns.sum() == len(turns)

    def test_corpus_exercises_multi_span_facts(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_fact_intervals)
        out = q_kg_fact_intervals(spark, SF).toPandas()
        assert (out.n_spans > 1).any()
        assert (out.to_turn >= out.from_turn).all()
