"""Wave-8 operators: skip-gram pair generation, neighbor-Jaccard link
prediction, collocation lift, CUSUM changepoint. All four oracle-paired
(curation_skipgram, kg_link_predict, text_collocations,
rel_changepoint); these tests pin the semantics the hash can't state —
pair symmetry and window reach, linked pairs never predicted, lift
orders association above frequency, and CUSUM lands on a planted level
shift."""
from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _mk_docs_dir(spark, tmpdir: str, texts: list[str]) -> str:
    shutil.rmtree(tmpdir, ignore_errors=True)
    os.makedirs(tmpdir)
    rows = [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)]
    (spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long")
     .write.parquet(f"{tmpdir}/documents.parquet"))
    return tmpdir


class TestSkipgram:
    def test_window_and_symmetry(self, spark):
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_skipgram)
        # "a b c d" twice: (a,b)x2 (a,c)x2 but (a,d) is 3 apart -> absent
        d = _mk_docs_dir(spark, "/tmp/w8_sg", ["a b c d", "a b c d"])
        got = {(r.center, r.context): r.n_pairs
               for r in q_curation_skipgram(spark, d).collect()}
        assert got[("a", "b")] == 2 and got[("b", "a")] == 2
        assert got[("a", "c")] == 2 and got[("c", "a")] == 2
        assert ("a", "d") not in got and ("d", "a") not in got
        # symmetric by construction
        assert all(got[(y, x)] == n for (x, y), n in got.items())

    def test_min_count_cut(self, spark):
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_skipgram)
        d = _mk_docs_dir(spark, "/tmp/w8_sg2", ["unique words here"])
        # every pair occurs once -> HAVING >= 2 drops everything
        assert q_curation_skipgram(spark, d).count() == 0


class TestLinkPredict:
    def test_never_predicts_existing_edges(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            undirected_edges)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_link_predict, q_kg_triples)
        from otd_semantic_framework_spark.plans.queries._shared import (
            LINKPRED_TOP)
        out = q_kg_link_predict(spark, SF).cache()
        assert out.count() > 0
        e = undirected_edges(q_kg_triples(spark, SF))
        assert out.join(
            e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            ["a", "b"], "inner").count() == 0
        # jaccard is a ppm ratio; top-k bounded; a < b canonical
        assert out.filter("jaccard_ppm < 0 OR jaccard_ppm > 1000000") \
            .count() == 0
        assert out.filter(f"rk > {LINKPRED_TOP}").count() == 0
        assert out.filter("a >= b").count() == 0
        out.unpersist()

    def test_square_graph_predicts_diagonals(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            undirected_edges)
        from otd_semantic_framework_spark.plans.queries._shared import (
            LINKPRED_MIN_COMMON)
        # cycle a-b-c-d-a: diagonals (a,c) and (b,d) share 2 neighbors
        # and have no edge -> exactly the predicted pairs, jaccard 1/2... wait
        # deg=2 each, union = 2+2-2 = 2, jaccard = 2/2 = 1.0
        triples = spark.createDataFrame(
            [("a", "p", "b", 1.0), ("b", "p", "c", 1.0),
             ("c", "p", "d", 1.0), ("d", "p", "a", 1.0)],
            "subj string, pred string, obj string, score double")
        e = undirected_edges(triples)
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        p1 = e.select(F.col("src").alias("a"), F.col("dst").alias("n"))
        p2 = e.select(F.col("src").alias("n"), F.col("dst").alias("b"))
        two = (p1.join(p2, "n").filter(F.col("a") < F.col("b"))
               .groupBy("a", "b").agg(F.count(F.lit(1)).alias("common")))
        cand = (two.join(e.select(F.col("src").alias("a"),
                                  F.col("dst").alias("b")),
                         ["a", "b"], "left_anti")
                .filter(F.col("common") >= LINKPRED_MIN_COMMON))
        got = {(r.a, r.b): r.common for r in cand.collect()}
        assert got == {("a", "c"): 2, ("b", "d"): 2}


class TestCollocations:
    def test_association_beats_frequency(self, spark):
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_collocations)
        # "x y" always together (4x); "the" is frequent but promiscuous
        texts = (["x y"] * 4
                 + ["the cat", "the dog", "the fish", "the bird"] * 2)
        d = _mk_docs_dir(spark, "/tmp/w8_col", texts)
        rows = q_text_collocations(spark, d).collect()
        by_pair = {(r.t1, r.t2): r for r in rows}
        assert ("x", "y") in by_pair
        xy = by_pair[("x", "y")]
        # x and y occur only in this bigram: lift = N / (c_x * c_y)
        assert all(xy.lift_ppm >= r.lift_ppm for r in rows)
        # pairs below the min count never appear
        assert all(r.c12 >= 3 for r in rows)

    def test_topk_bounded_and_ranked(self, spark):
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_collocations)
        from otd_semantic_framework_spark.plans.queries._shared import (
            COLLOC_TOP)
        out = q_text_collocations(spark, SF).cache()
        n = out.count()
        assert 0 < n <= COLLOC_TOP
        assert out.agg(F.max("rk")).first()[0] == n
        assert out.agg(F.countDistinct("rk")).first()[0] == n
        out.unpersist()


class TestChangepoint:
    def test_planted_level_shift(self, spark):
        from tests.test_r4_wave5 import _mk_events_dir
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_changepoint)
        rows, eid = [], 0
        # type "shift": 10 days at 10.0, then 10 days at 110.0 ->
        # |CUSUM| peaks exactly at the last low day (day index 9)
        for day in range(20):
            v = 10.0 if day < 10 else 110.0
            for j in range(3):
                rows.append((eid, f"2024-01-{day + 1:02d} 0{j}:00:00",
                             1, "shift", v, "{}"))
                eid += 1
        # type "flat": constant -> cusum 0 everywhere, cp = first day
        for day in range(20):
            rows.append((eid, f"2024-01-{day + 1:02d} 00:00:00",
                         1, "flat", 5.0, "{}"))
            eid += 1
        d = _mk_events_dir(spark, "/tmp/w8_cp", rows)
        got = {r.event_type: r for r in q_rel_changepoint(spark, d).collect()}
        base = 19723  # 2024-01-01 as epoch day
        assert got["shift"].cp_day == base + 9
        assert got["shift"].max_abs_cusum == 10 * 50_000_000  # 10d x 50 ppm-units
        assert got["flat"].cp_day == base  # tie -> earliest day
        assert got["flat"].max_abs_cusum == 0

    def test_one_row_per_type(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_changepoint)
        out = q_rel_changepoint(spark, SF).cache()
        types = (spark.read.parquet(f"{SF}/events.parquet")
                 .select("event_type").distinct().count())
        assert out.count() == types
        assert out.filter("max_abs_cusum < 0").count() == 0
        out.unpersist()
