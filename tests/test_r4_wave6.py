"""Late-r4 wave-6 operators: Benford first-digit audit, the
applyInPandasWithState oracle pairing, and simplified silhouette.

All three are oracle-paired (rel_benford, stream_stateful_counts,
sim_silhouette); these tests pin what the hash can't — Benford shares
partition each type's mass, the stateful trajectory is a prefix-sum
(monotone per user, final row = batch ground truth), and silhouette
bounds/sign behave like a separation score."""
from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestBenford:
    def test_shares_partition_and_literals_match(self, spark):
        import math
        from otd_semantic_framework_spark.plans.queries._shared import (
            BENFORD_PPM)
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_benford)
        # the shared literal table IS Benford
        for d in range(1, 10):
            assert BENFORD_PPM[d] == round(
                math.log10(1 + 1 / d) * 1_000_000)
        out = q_rel_benford(spark, SF).cache()
        assert out.where((F.col("digit") < 1) | (F.col("digit") > 9)) \
            .count() == 0
        # per-type shares sum to 1e6 within integer-floor loss (<= 9)
        sums = (out.groupBy("event_type")
                .agg(F.sum("share_ppm").alias("s"),
                     F.count(F.lit(1)).alias("k")))
        assert sums.where((F.col("s") > 1_000_000)
                          | (F.col("s") < 1_000_000 - F.col("k"))) \
            .count() == 0
        assert out.where(F.col("abs_dev_ppm")
                         != F.abs(F.col("share_ppm")
                                  - F.col("benford_ppm"))).count() == 0
        out.unpersist()


class TestStatefulCounts:
    def test_trajectory_is_prefix_sum(self, spark):
        from otd_semantic_framework_spark.plans.queries.stream import (
            q_stream_stateful_counts)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        out = q_stream_stateful_counts(spark, SF).cache()
        ev = _tbl(spark, SF, "events")
        # final state per user equals the batch ground truth
        last = (out.groupBy("user_id")
                .agg(F.max("cum_n").alias("cum_n"),
                     F.max("cum_cents").alias("cum_cents")))
        truth = (ev.groupBy("user_id")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.round(F.col("value") * 100, 0)
                            .cast("bigint")).alias("cents")))
        bad = (last.join(truth, "user_id")
               .where((F.col("cum_n") != F.col("n"))
                      | (F.col("cum_cents") != F.col("cents"))))
        assert bad.count() == 0
        # batch_rows partition cum_n: per user, sum(batch_rows) == max(cum_n)
        agg = (out.groupBy("user_id")
               .agg(F.sum("batch_rows").alias("sb"),
                    F.max("cum_n").alias("mx"),
                    F.count(F.lit(1)).alias("emits")))
        assert agg.where(F.col("sb") != F.col("mx")).count() == 0
        # state genuinely carried across micro-batches: users emit >1 row
        assert agg.where(F.col("emits") > 1).count() > 0
        out.unpersist()


class TestSilhouette:
    def test_bounds_and_consistency(self, spark):
        from otd_semantic_framework_spark.operators.simsearch import (
            kmeans_lloyd_exact, quantize_embeddings)
        from otd_semantic_framework_spark.plans.queries._shared import (
            KMEANS_ITERS, KMEANS_K, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_silhouette)
        out = q_sim_silhouette(spark, SF).cache()
        emb = _tbl(spark, SF, "embeddings")
        assert out.count() == emb.count()
        # s in [-1, 1]; b is never closer than a (a is the argmin)
        assert out.where((F.col("s") < -1) | (F.col("s") > 1)).count() == 0
        assert out.where(F.col("b_sq") < F.col("a_sq")).count() == 0
        assert out.where(F.col("s") < 0).count() == 0  # follows from argmin
        # cluster column agrees with the kmeans assignment
        asg = kmeans_lloyd_exact(quantize_embeddings(emb),
                                 k=KMEANS_K, iters=KMEANS_ITERS)
        bad = (out.join(asg.withColumnRenamed("cluster", "c2"), "vec_id")
               .where(F.col("cluster") != F.col("c2")))
        assert bad.count() == 0
        # separation signal exists: not every point sits on a boundary
        assert out.where(F.col("s") > 0.1).count() > 0
        out.unpersist()
