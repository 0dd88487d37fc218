"""Late-r4 wave-4 operators: Flesch readability, activity-streak
islands, edit-distance near-dup with prefix blocking, bounded BFS
reachability, label-propagation communities, and the watermark
late-data audit.

All six are oracle-paired (text_readability, rel_islands, dedup_edit,
kg_bfs, kg_community, stream_late_audit); these tests pin the semantic
invariants the hash alone can't state — BFS level structure, the
hot-block recall cap, streak arithmetic, and that the watermark audit's
loss accounting is internally consistent and exercises both branches.
"""
from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _mk_docs_dir(spark, tmpdir: str, rows: list[tuple]) -> str:
    """Stage a synthetic documents.parquet so the sf_dir-shaped driver
    queries run on hand-built corpora."""
    shutil.rmtree(tmpdir, ignore_errors=True)
    os.makedirs(tmpdir)
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
     .write.parquet(f"{tmpdir}/documents.parquet"))
    return tmpdir


class TestReadability:
    def test_hand_computed_and_monotone(self, spark):
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_readability)
        d = _mk_docs_dir(
            spark, "/tmp/w4_read",
            # "go up. go on." -> 4 words, 2 sentences, 2 vowel groups
            [(1, "go up. go on.", "en", "web", 13),
             (2, "extraordinarily sesquipedalian circumlocution", "en",
              "web", 46)])
        out = {r.doc_id: r for r in
               q_text_readability(spark, d).collect()}
        r1 = out[1]
        assert (r1.n_words, r1.n_sents, r1.n_syll) == (4, 2, 4)
        want = round(206.835 - 1.015 * 4 / 2 - 84.6 * 4 / 4, 6)
        assert abs(r1.flesch - want) < 1e-9
        # long-word jargon reads harder than monosyllables
        assert out[2].flesch < out[1].flesch

    def test_map_only_plan(self, spark):
        """Readability is a pure scan→project — no Exchange anywhere."""
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_readability)
        plan = q_text_readability(spark, SF)._jdf \
            .queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestIslands:
    def test_hand_built_streaks(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_islands)
        tmp = "/tmp/w4_islands"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rows = [(i, f"2024-03-{d:02d} 12:00:00", 7, "click", 1.0, "{}")
                for i, d in enumerate([1, 2, 3, 5, 7, 8])]
        (spark.createDataFrame(
            rows, "event_id long, ts string, user_id long,"
                  " event_type string, value double, props string")
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .write.parquet(f"{tmp}/events.parquet"))
        r = q_rel_islands(spark, tmp).collect()[0]
        assert (r.n_streaks, r.longest_streak, r.total_active_days) \
            == (3, 3, 6)
        import datetime
        assert r.longest_start_epoch_day == (
            datetime.date(2024, 3, 1) - datetime.date(1970, 1, 1)).days

    def test_invariants_on_corpus(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_islands)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        out = q_rel_islands(spark, SF).cache()
        days = (_tbl(spark, SF, "events")
                .select("user_id", F.to_date("ts").alias("d")).distinct()
                .groupBy("user_id").agg(F.count(F.lit(1)).alias("nd")))
        bad = (out.join(days, "user_id")
               .where((F.col("total_active_days") != F.col("nd"))
                      | (F.col("longest_streak")
                         > F.col("total_active_days"))
                      | (F.col("n_streaks") < 1)))
        assert bad.count() == 0
        out.unpersist()


class TestDedupEdit:
    def test_near_pairs_found_and_hot_block_capped(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            EDIT_BLOCK_CAP)
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_edit)
        # one cold block of 3 near-identical docs + one hot block of
        # CAP+5 identical-prefix docs that must be pruned entirely
        rows = [(1, "alpha beta gamma delta one two three", "en", "w", 0),
                (2, "alpha beta gamma delta one two threX", "en", "w", 0),
                (3, "alpha beta gamma delta " + "x " * 60, "en", "w", 0)]
        rows += [(100 + i,
                  "hot block common prefix body " + ("y%d " % i) * 30,
                  "en", "w", 0) for i in range(EDIT_BLOCK_CAP + 5)]
        d = _mk_docs_dir(spark, "/tmp/w4_edit", rows)
        got = {(r.doc_a, r.doc_b): r.lev
               for r in q_dedup_edit(spark, d).collect()}
        assert (1, 2) in got and got[(1, 2)] == 1
        # doc 3 diverges past the verify window's distance cap
        assert (1, 3) not in got
        # nothing from the hot block survives candidate generation
        assert all(a < 100 and b < 100 for a, b in got)

    def test_pair_canonical_order(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            EDIT_MAX_DIST)
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_edit)
        out = q_dedup_edit(spark, SF)
        assert out.where(F.col("doc_a") >= F.col("doc_b")).count() == 0
        assert out.where((F.col("lev") < 0)
                         | (F.col("lev") > EDIT_MAX_DIST)).count() == 0


class TestBfs:
    def test_level_structure(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            bfs_depths, undirected_edges)
        from otd_semantic_framework_spark.plans.queries._shared import (
            BFS_MAX_HOPS, BFS_SEEDS)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_bfs, q_kg_triples)
        out = q_kg_bfs(spark, SF).cache()
        seeds = {r.node for r in
                 out.where(F.col("depth") == 0).collect()}
        assert seeds == set(BFS_SEEDS)
        assert out.where((F.col("depth") < 0)
                         | (F.col("depth") > BFS_MAX_HOPS)).count() == 0
        # every depth-d node (d>0) touches a depth-(d-1) node
        e = undirected_edges(q_kg_triples(spark, SF))
        prev = (out.select(F.col("node").alias("src"),
                           F.col("depth").alias("pd")))
        link = (out.where(F.col("depth") > 0)
                .join(e, out.node == e.dst)
                .join(prev, "src")
                .where(F.col("pd") == F.col("depth") - 1)
                .select("node").distinct())
        assert out.where(F.col("depth") > 0).select("node").distinct() \
            .exceptAll(link).count() == 0
        # shrinking the hop budget yields a prefix of the levels
        tr = q_kg_triples(spark, SF)
        s = spark.createDataFrame([(x,) for x in BFS_SEEDS], "node string")
        one = bfs_depths(tr, s, max_hops=1)
        assert one.exceptAll(out.where(F.col("depth") <= 1)).count() == 0
        out.unpersist()


class TestCommunity:
    def test_deterministic_and_total(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_community, q_kg_triples)
        from otd_semantic_framework_spark.operators.graph import (
            undirected_edges)
        a = q_kg_community(spark, SF).cache()
        nodes = (undirected_edges(q_kg_triples(spark, SF))
                 .select(F.col("src").alias("node")).distinct())
        # total assignment over exactly the node set
        assert a.count() == nodes.count()
        assert a.join(nodes, "node", "left_anti").count() == 0
        # labels propagate: fewer communities than nodes after 2 rounds
        n_comm = a.select("community").distinct().count()
        assert 1 < n_comm < a.count()
        # bit-deterministic rerun
        b = q_kg_community(spark, SF)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        a.unpersist()


class TestStreamLateAudit:
    def test_loss_accounting_consistent(self, spark):
        from otd_semantic_framework_spark.plans.queries.stream import (
            q_stream_late_audit)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        out = q_stream_late_audit(spark, SF).cache()
        n_events = _tbl(spark, SF, "events").count()
        assert out.agg(F.sum("n_total")).first()[0] == n_events
        assert out.where(F.col("n_emitted") > F.col("n_total")).count() == 0
        assert out.where(F.col("n_lost")
                         != F.col("n_total") - F.col("n_emitted")) \
            .count() == 0
        assert out.where(F.col("was_emitted")
                         != (F.col("n_emitted") > 0)).count() == 0
        # both branches are real on this corpus: some windows finalize
        # and emit, some rows are genuinely lost to lateness
        assert out.where(F.col("was_emitted")).count() > 0
        assert out.agg(F.sum("n_lost")).first()[0] > 0
        out.unpersist()
