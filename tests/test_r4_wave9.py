"""Wave-9 operators: minute-resolution concurrency profile,
deterministic DeepWalk corpus, canonical doc per near-dup cluster. All
three oracle-paired (rel_concurrency, kg_random_walks,
dedup_canonical); these tests pin the semantics the hash can't state —
overlap counting with TTL reach, walk contiguity over real edges, and
the longest-member survivor rule."""
from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestConcurrency:
    def test_planted_overlap(self, spark):
        from tests.test_r4_wave5 import _mk_events_dir
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_concurrency)
        # 3 events 4 minutes apart with a 10-min TTL: minutes 8-9 are
        # covered by the events at :00 (0-9), :04 (4-13), :08 (8-17)
        # -> peak 3, earliest peak minute 8.
        rows = [(0, "2024-01-01 00:00:00", 1, "burst", 1.0, "{}"),
                (1, "2024-01-01 00:04:00", 1, "burst", 1.0, "{}"),
                (2, "2024-01-01 00:08:00", 1, "burst", 1.0, "{}"),
                # isolated type: a single event peaks at its own start
                (3, "2024-01-01 02:00:00", 1, "lone", 1.0, "{}")]
        d = _mk_events_dir(spark, "/tmp/w9_conc", rows)
        got = {r.event_type: r for r in q_rel_concurrency(spark, d).collect()}
        base = 19723 * 1440  # 2024-01-01 00:00 in epoch minutes
        assert got["burst"].peak_active == 3
        assert got["burst"].peak_minute == base + 8  # earliest max minute
        assert got["burst"].n_minutes == 18  # 0..17 covered
        assert got["lone"].peak_active == 1
        assert got["lone"].peak_minute == base + 120

    def test_one_row_per_type_and_bounds(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_concurrency)
        from otd_semantic_framework_spark.plans.queries._shared import (
            CONC_TTL_MIN)
        out = q_rel_concurrency(spark, SF).cache()
        e = spark.read.parquet(f"{SF}/events.parquet")
        per_type = e.groupBy("event_type").count()
        j = out.join(per_type, "event_type")
        # peak can never exceed the type's event count, and a type
        # with n events covers at most n * TTL minutes
        assert j.filter("peak_active > count").count() == 0
        assert j.filter(f"n_minutes > count * {CONC_TTL_MIN}").count() == 0
        assert out.count() == per_type.count()
        out.unpersist()


class TestRandomWalks:
    def test_walks_are_paths_over_real_edges(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            undirected_edges)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_random_walks, q_kg_triples)
        from otd_semantic_framework_spark.plans.queries._shared import WALK_LEN
        walks = q_kg_random_walks(spark, SF).cache()
        # step 0 is the start itself
        assert walks.filter("step = 0 AND start != node").count() == 0
        # every consecutive (step, step+1) pair is a real edge
        e = undirected_edges(q_kg_triples(spark, SF))
        cur = walks.select("start", "step", F.col("node").alias("src"))
        nxt = walks.select("start", (F.col("step") - 1).alias("step"),
                           F.col("node").alias("dst"))
        hops = cur.join(nxt, ["start", "step"])
        assert hops.count() > 0
        assert hops.join(e, ["src", "dst"], "left_anti").count() == 0
        # at most WALK_LEN + 1 rows per start, exactly one node per step
        per = walks.groupBy("start").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("step").alias("steps"))
        assert per.filter(f"n > {WALK_LEN + 1} OR n != steps").count() == 0
        walks.unpersist()

    def test_deterministic_across_runs(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_random_walks)
        a = q_kg_random_walks(spark, SF)
        b = q_kg_random_walks(spark, SF)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


class TestDedupCanonical:
    def test_survivor_is_longest_member(self, spark):
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_canonical, q_dedup_components)
        from otd_semantic_framework_spark.plans.queries._shared import (
            JACCARD_MAX_DOC)
        out = q_dedup_canonical(spark, SF).cache()
        comp = q_dedup_components(spark, SF)
        docs = (spark.read.parquet(f"{SF}/documents.parquet")
                .filter(F.col("doc_id") < JACCARD_MAX_DOC)
                .select("doc_id", "n_chars"))
        # one row per component, n_docs conserved
        assert out.count() == comp.select("component").distinct().count()
        assert (out.agg(F.sum("n_docs")).first()[0]
                == comp.count())
        # the survivor's n_chars is the component max
        mx = (comp.join(docs, "doc_id").groupBy("component")
              .agg(F.max("n_chars").alias("mx")))
        assert out.join(mx, "component") \
            .filter("canonical_n_chars != mx").count() == 0
        # the survivor belongs to its own component
        assert out.join(
            comp.select(F.col("doc_id").alias("canonical_doc_id"),
                        "component"),
            ["component", "canonical_doc_id"], "left_anti").count() == 0
        out.unpersist()
