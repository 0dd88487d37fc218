"""Wave-7 operators: time-series gap-fill, weighted shortest paths,
temporal KG as-of snapshot, SPARQL aggregates, product-quantization
ANN. All five are oracle-paired (rel_gapfill, kg_shortest_path,
kg_snapshot_asof, kg_sparql_agg, sim_pq_topk); these tests pin the
semantics the hash can't state — interpolation hits the exact linear
values, a cheap detour beats an expensive direct edge, the snapshot
never sees past its as-of instant, HAVING filters bindings, and ADC
distance is EXACT for candidates that are codebook members."""
from __future__ import annotations

import math
import os
import shutil

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _mk_events_dir(spark, tmpdir: str, rows: list[tuple]) -> str:
    shutil.rmtree(tmpdir, ignore_errors=True)
    os.makedirs(tmpdir)
    (spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
              " value double, props string")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .write.parquet(f"{tmpdir}/events.parquet"))
    return tmpdir


class TestGapfill:
    def test_linear_interpolation_exact(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_gapfill)
        # user 1: observed 1.0 on Jan 1 and 5.0 on Jan 5 -> three gap
        # days interpolating 2.0 / 3.0 / 4.0 exactly (integer ppm).
        rows = [(1, "2024-01-01 10:00:00", 1, "a", 1.0, "{}"),
                (2, "2024-01-05 10:00:00", 1, "a", 5.0, "{}"),
                # user 2: a single observed day -> single-row series
                (3, "2024-01-03 10:00:00", 2, "a", 7.0, "{}")]
        d = _mk_events_dir(spark, "/tmp/w7_gap", rows)
        out = {(r.user_id, r.day): r
               for r in q_rel_gapfill(spark, d).collect()}
        base = (out[(1, min(k[1] for k in out if k[0] == 1))]).day
        series = [out[(1, base + i)] for i in range(5)]
        assert [r.is_gap for r in series] == [0, 1, 1, 1, 0]
        assert [r.interp_ppm for r in series] == [
            1_000_000, 2_000_000, 3_000_000, 4_000_000, 5_000_000]
        # forward-fill carries the LAST observation, not the next one
        assert [r.ffill_ppm for r in series] == [1_000_000] * 4 + [5_000_000]
        assert len([k for k in out if k[0] == 2]) == 1

    def test_grid_density_and_bounds(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_gapfill)
        out = q_rel_gapfill(spark, SF).cache()
        # per user the grid is exactly (max day - min day + 1) rows
        spans = (out.groupBy("user_id")
                 .agg((F.max("day") - F.min("day") + 1).alias("want"),
                      F.count(F.lit(1)).alias("got"),
                      F.countDistinct("day").alias("dd")))
        assert spans.filter("want != got OR got != dd").count() == 0
        # observed rows reproduce themselves: interp == ffill == obs
        assert out.filter("is_gap = 0 AND (interp_ppm != obs_ppm"
                          " OR ffill_ppm != obs_ppm)").count() == 0
        # gap rows interpolate BETWEEN their surrounding observations:
        # recompute prev/next observed values from the output itself
        from pyspark.sql import Window
        wp = (Window.partitionBy("user_id").orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        wn = (Window.partitionBy("user_id").orderBy("day")
              .rowsBetween(Window.currentRow, Window.unboundedFollowing))
        withends = (out
                    .withColumn("prev_obs", F.last("obs_ppm", True).over(wp))
                    .withColumn("next_obs", F.first("obs_ppm", True).over(wn)))
        bad = withends.filter(
            "is_gap = 1 AND (interp_ppm < least(prev_obs, next_obs)"
            " OR interp_ppm > greatest(prev_obs, next_obs))").count()
        assert bad == 0
        # and the dataset genuinely exercises the gap branch
        assert out.filter("is_gap = 1").count() > 0
        out.unpersist()


class TestShortestPath:
    def test_cheap_detour_beats_direct_edge(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            shortest_paths)
        # direct a-b via 'mentions' costs 3; a-c-b via 'replies_to'
        # twice costs 2 -> Bellman-Ford must IMPROVE b in round 2.
        triples = spark.createDataFrame(
            [("a", "mentions", "b", 1.0),
             ("a", "replies_to", "c", 1.0),
             ("c", "replies_to", "b", 1.0)],
            "subj string, pred string, obj string, score double")
        seeds = spark.createDataFrame([("a",)], "node string")
        got = {r.node: r.dist for r in shortest_paths(
            triples, seeds, {"mentions": 3, "uses_tool": 2,
                             "replies_to": 1}, rounds=3).collect()}
        assert got == {"a": 0, "b": 2, "c": 1}

    def test_round_bound_and_weights(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            shortest_paths)
        # chain a-b-c-d-e of replies (w=1): rounds=3 reaches d, not e
        rows = [(x, "replies_to", y, 1.0) for x, y in
                [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]]
        triples = spark.createDataFrame(
            rows, "subj string, pred string, obj string, score double")
        seeds = spark.createDataFrame([("a",)], "node string")
        got = {r.node: r.dist for r in shortest_paths(
            triples, seeds, {"replies_to": 1}, rounds=3).collect()}
        assert got == {"a": 0, "b": 1, "c": 2, "d": 3}
        # unknown predicates are dropped entirely
        got2 = {r.node: r.dist for r in shortest_paths(
            triples, seeds, {"mentions": 1}, rounds=3).collect()}
        assert got2 == {"a": 0}

    def test_weighted_dominates_bfs_hops(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_shortest_path)
        from otd_semantic_framework_spark.plans.queries._shared import (
            SP_WEIGHTS)
        out = q_kg_shortest_path(spark, SF)
        mx = max(SP_WEIGHTS.values())
        assert out.filter(F.col("dist") > 3 * mx).count() == 0
        assert out.filter(F.col("dist") < 0).count() == 0
        # the two seeds report distance 0
        assert out.filter("dist = 0").count() >= 2


class TestSnapshotAsof:
    def test_snapshot_never_sees_past_t(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_snapshot_asof)
        out = q_kg_snapshot_asof(spark, SF).cache()
        assert out.count() > 0
        assert out.filter("first_seen_s > t_asof").count() == 0
        assert out.filter("last_seen_s > t_asof").count() == 0
        assert out.filter("last_seen_s < first_seen_s").count() == 0
        assert out.filter("n_obs < 1").count() == 0
        # snapshot is a set over (subj, pred, obj)
        assert (out.count()
                == out.select("subj", "pred", "obj").distinct().count())
        out.unpersist()

    def test_snapshot_is_prefix_of_full_graph(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_snapshot_asof, q_kg_triples)
        snap = q_kg_snapshot_asof(spark, SF).select("subj", "pred", "obj")
        full = q_kg_triples(spark, SF).select("subj", "pred", "obj")
        # as-of T is mid-corpus, so the snapshot is a strict subset
        assert snap.join(full, ["subj", "pred", "obj"],
                         "left_anti").count() == 0
        assert snap.count() < full.count()


class TestSparqlAgg:
    def test_having_and_binding_arithmetic(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_sparql_agg)
        from otd_semantic_framework_spark.plans.queries._shared import (
            SPARQL_AGG_MIN_TURNS)
        out = q_kg_sparql_agg(spark, SF).cache()
        assert out.count() > 0
        assert out.filter(
            F.col("n_turns") < SPARQL_AGG_MIN_TURNS).count() == 0
        # bindings are (turn, tool) pairs per concept: at least as
        # many as either distinct count, at most their product
        assert out.filter("n_bindings < n_turns"
                          " OR n_bindings < n_tools"
                          " OR n_bindings > n_turns * n_tools").count() == 0
        out.unpersist()

    def test_matches_manual_self_join(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_sparql_agg, q_kg_triples)
        from otd_semantic_framework_spark.plans.queries._shared import (
            SPARQL_AGG_MIN_TURNS)
        tr = q_kg_triples(spark, SF).cache()
        m = tr.filter("pred = 'mentions'").select(
            F.col("subj").alias("turn"), F.col("obj").alias("concept"))
        u = tr.filter("pred = 'uses_tool'").select(
            F.col("subj").alias("turn"), F.col("obj").alias("tool"))
        want = (m.join(u, "turn").distinct().groupBy("concept")
                .agg(F.countDistinct("turn").alias("n_turns"))
                .filter(F.col("n_turns") >= SPARQL_AGG_MIN_TURNS))
        got = q_kg_sparql_agg(spark, SF).select("concept", "n_turns")
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        tr.unpersist()


def _quant(vec: list[float]) -> list[int]:
    ma = max(abs(x) for x in vec)
    if ma == 0:
        return [0] * len(vec)
    # Spark F.round: HALF_UP away from zero
    return [int(math.copysign(math.floor(abs(x * 127.0 / ma) + 0.5), x))
            for x in vec]


class TestPqTopk:
    def test_structural(self, spark):
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_pq_topk)
        from otd_semantic_framework_spark.plans.queries._shared import (
            N_QUERY_VECS, SIM_TOP_K)
        out = q_sim_pq_topk(spark, SF).cache()
        assert out.count() == N_QUERY_VECS * SIM_TOP_K
        assert out.filter("adc_dist < 0").count() == 0
        # rk is dense 1..k per query and distance is nondecreasing in rk
        from pyspark.sql import Window
        w = Window.partitionBy("qid").orderBy("rk")
        lagged = out.withColumn("prev", F.lag("adc_dist").over(w))
        assert lagged.filter("prev IS NOT NULL AND adc_dist < prev") \
            .count() == 0
        out.unpersist()

    def test_adc_exact_for_codebook_members(self, spark):
        """When every candidate IS a codeword (8 candidates = the full
        codebook), encoding is lossless, so the ADC distance equals the
        exact integer squared L2 between the quantized vectors."""
        from otd_semantic_framework_spark.operators.simsearch import (
            pq_adc_topk, pq_codebook, pq_encode, quantize_embeddings)
        import random
        rnd = random.Random(7)
        dim, n_subs, n_codes = 8, 4, 8
        vecs = [(i, [rnd.uniform(-1, 1) for _ in range(dim)], 0)
                for i in range(10)]  # 0,1 = queries; 2..9 = candidates
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<float>, label int")
        qz = quantize_embeddings(df)
        q = (qz.filter("vec_id < 2")
             .select(F.col("vec_id").alias("qid"),
                     F.col("qvec").alias("qv")))
        c = (qz.filter("vec_id >= 2")
             .select(F.col("vec_id").alias("cid"),
                     F.col("qvec").alias("cv")))
        cb = pq_codebook(c, n_subs, n_codes)
        enc = pq_encode(c, cb, n_subs, n_codes)
        got = {(r.qid, r.cid): r.adc_dist
               for r in pq_adc_topk(q, enc, cb, n_subs, n_codes,
                                    k=8).collect()}
        # float32 round-trip before quantizing, like the parquet path
        import numpy as np
        qv = {i: _quant(list(np.array(v, dtype=np.float32)))
              for i, v, _ in vecs}
        for (qid, cid), adc in got.items():
            want = sum((a - b) ** 2 for a, b in zip(qv[qid], qv[cid]))
            assert adc == want, (qid, cid, adc, want)
