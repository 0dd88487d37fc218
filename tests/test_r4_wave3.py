"""Late-r4 wave-3 operators: Lin/Jiang-Conrath IC similarity, HITS
hubs/authorities, Bloom-filter decontamination, SPARQL ASK, hash-bucket
train/val/test split audit, and streaming windowed top-k.

All six are oracle-paired in the driver registry (kg_lin_jc, kg_hits,
dedup_bloom, kg_ask, curation_split, stream_topk); these tests pin the
semantic invariants the hash comparison alone can't state — the Bloom
no-false-negative guarantee, the HITS hub/authority split, IC bounds,
streaming == batch, and split stability under corpus growth.
"""
from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


class TestLinJc:
    def test_bounds_and_pair_parity(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            lin_jc, resnik_mics)
        from otd_semantic_framework_spark.plans.driver_ontology import (
            driver_ancestors)
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df)
        tags = (_mentions_df(spark, SF)
                .select("conv_id", "turn_idx", "concept_id").distinct()
                .cache())
        anc = spark.createDataFrame(
            driver_ancestors()[["concept_id", "anc_id"]])
        out = lin_jc(tags, anc).cache()
        assert out.count() > 0
        # lin in (0, 1] where defined; JC distance never negative
        assert out.where((F.col("lin_sim") < 0)
                         | (F.col("lin_sim") > 1)).count() == 0
        assert out.where(F.col("jc_dist") < -1e-9).count() == 0
        # exactly the same co-tagged pair set as the Resnik operator —
        # the family shares one candidate-generation plan
        mics = resnik_mics(tags, anc)
        assert (out.select("concept_a", "concept_b")
                .exceptAll(mics.select("concept_a", "concept_b"))
                .count() == 0)
        assert mics.count() == out.count()
        # sibling concepts under a low-mass MICS should beat pairs whose
        # only common subsumer carries the whole corpus: max lin over
        # proper-ancestor MICS > min lin overall (discriminative signal)
        stats = out.agg(F.max("lin_sim").alias("mx"),
                        F.min("lin_sim").alias("mn")).first()
        assert stats.mx > stats.mn
        out.unpersist()
        tags.unpersist()

    def test_hand_computed_three_level_taxonomy(self, spark):
        """Pin the exact IC math on a hand-built taxonomy
        (root <- mid <- {leafA, leafB}, root <- other) where the MICS
        of the co-tagged pair is the MID node, not root. Corpus mass is
        tag-assignment mass (the resnik_mics convention): u1 tags both
        leaves, u2 tags `other`, so masses are leafA=1 leafB=1 mid=2
        root=3 other=1 and total=3."""
        import math

        from otd_semantic_framework_spark.operators.graph import lin_jc
        tags = spark.createDataFrame(
            [("u1", 0, "leafA"), ("u1", 0, "leafB"), ("u2", 0, "other")],
            "conv_id string, turn_idx int, concept_id string")
        anc = spark.createDataFrame(
            [("leafA", "mid"), ("leafA", "root"), ("leafB", "mid"),
             ("leafB", "root"), ("mid", "root"), ("other", "root")],
            "concept_id string, anc_id string")
        row = lin_jc(tags, anc).first()
        assert row.mics_id == "mid"  # min-mass common subsumer, not root
        ic_leaf = math.log(3)            # ln(total) - ln(1)
        ic_mid = math.log(3) - math.log(2)
        assert abs(row.lin_sim
                   - round(2 * ic_mid / (2 * ic_leaf), 6)) < 1e-9
        assert abs(row.jc_dist
                   - round(2 * ic_leaf - 2 * ic_mid, 6)) < 1e-9
        # degenerate flat taxonomy: the only common subsumer is root
        # carrying the full corpus (ic_m = 0) → lin collapses to 0
        flat = lin_jc(
            spark.createDataFrame(
                [("u1", 0, "leafA"), ("u1", 0, "leafB")],
                "conv_id string, turn_idx int, concept_id string"),
            spark.createDataFrame(
                [("leafA", "root"), ("leafB", "root")],
                "concept_id string, anc_id string")).first()
        assert flat.lin_sim == 0.0
        assert abs(flat.jc_dist - round(2 * math.log(2), 6)) < 1e-9


class TestHits:
    def test_hub_authority_split_and_l1(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            PPM, hits_exact, kg_edges)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        tr = q_kg_triples(spark, SF).cache()
        out = hits_exact(tr, iterations=2).cache()
        edges = kg_edges(tr).cache()
        n_nodes = out.count()
        assert n_nodes > 0
        # structural zeros: a node with no out-edges can never be a hub,
        # one with no in-edges never an authority
        srcs = edges.select(F.col("subj").alias("node")).distinct()
        dsts = edges.select(F.col("obj").alias("node")).distinct()
        assert (out.join(srcs, "node", "left_anti")
                .where(F.col("hub_ppm") > 0).count() == 0)
        assert (out.join(dsts, "node", "left_anti")
                .where(F.col("auth_ppm") > 0).count() == 0)
        # the heterogeneous split is real: concept/tool nodes only
        # collect links, so their hub score is exactly 0
        assert (out.where(F.col("node").startswith("dq:")
                          | F.col("node").startswith("tool:"))
                .where(F.col("hub_ppm") > 0).count() == 0)
        # L1 normalization in integer ppm: each side sums to PPM minus
        # at most one ulp of floor loss per nonzero node
        sums = out.agg(F.sum("auth_ppm").alias("a"),
                       F.sum("hub_ppm").alias("h")).first()
        assert 0 < sums.a <= PPM and PPM - n_nodes <= sums.a
        assert 0 < sums.h <= PPM and PPM - n_nodes <= sums.h
        # scores are non-negative longs
        assert out.where((F.col("auth_ppm") < 0)
                         | (F.col("hub_ppm") < 0)).count() == 0
        out.unpersist()
        edges.unpersist()
        tr.unpersist()


class TestBloom:
    def test_filter_is_fixed_size(self, spark):
        from otd_semantic_framework_spark.operators.sketch import (
            BLOOM_NBITS, bloom_build)
        bits = bloom_build(_docs(spark), n=6).cache()
        n = bits.count()
        assert 0 < n <= BLOOM_NBITS
        rng = bits.agg(F.min("pos").alias("lo"),
                       F.max("pos").alias("hi")).first()
        assert rng.lo >= 0 and rng.hi < BLOOM_NBITS
        bits.unpersist()

    def test_no_false_negatives(self, spark):
        """The Bloom guarantee: every true probe-gram hit is also a
        Bloom hit — n_bloom_hits >= n_true_hits on every document, and
        the false-positive column is exactly the difference."""
        from otd_semantic_framework_spark.operators.sketch import (
            bloom_decontaminate)
        from otd_semantic_framework_spark.plans.queries._shared import (
            CONTAM_PROBE_MOD)
        d = _docs(spark)
        probes = d.filter(F.col("doc_id") % CONTAM_PROBE_MOD == 0)
        corpus = d.filter(F.col("doc_id") % CONTAM_PROBE_MOD != 0)
        out = bloom_decontaminate(corpus, probes, n=6).cache()
        assert out.count() == corpus.count()
        assert out.where(
            F.col("n_bloom_hits") < F.col("n_true_hits")).count() == 0
        assert out.where(F.col("n_false_pos")
                         != F.col("n_bloom_hits")
                         - F.col("n_true_hits")).count() == 0
        # every truly contaminated doc is flagged
        assert out.where((F.col("n_true_hits") > 0)
                         & ~F.col("is_flagged")).count() == 0
        # contamination exists in the synthetic corpus (templated text
        # repeats across docs), so the positive branch is exercised
        assert out.where(F.col("is_flagged")).count() > 0
        out.unpersist()

    def test_probe_side_never_scans_corpus_twice(self, spark):
        """The corpus side joins the sketch as BROADCAST — the 100 TB
        scan must not shuffle against the probe set."""
        from otd_semantic_framework_spark.operators.sketch import (
            bloom_decontaminate)
        d = _docs(spark)
        plan = bloom_decontaminate(
            d.filter(F.col("doc_id") % 5 != 0),
            d.filter(F.col("doc_id") % 5 == 0))._jdf \
            .queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestAsk:
    def test_battery(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_ask
        rows = {r.ask_id: r.answer for r in q_kg_ask(spark, SF).collect()}
        assert set(rows) == {"any_mention", "uses_tool3",
                             "mention_and_reply", "missing_concept"}
        assert rows["any_mention"] is True
        assert rows["missing_concept"] is False
        assert all(isinstance(v, bool) for v in rows.values())


class TestSplit:
    def test_partition_and_shares(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            SPLIT_TRAIN_MAX, SPLIT_VAL_MAX)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_split)
        out = q_curation_split(spark, SF).cache()
        d = _docs(spark)
        total = d.count()
        # the three splits partition the corpus exactly
        assert (out.agg(F.sum("n_docs")).first()[0]) == total
        shares = {r.split: r.split_share_ppm
                  for r in out.select("split", "split_share_ppm")
                  .distinct().collect()}
        assert set(shares) == {"train", "val", "test"}
        # binomial tolerance at small SF: +-8 percentage points around
        # the designed 256-bucket shares
        assert abs(shares["train"] - SPLIT_TRAIN_MAX * 10**6 // 256) < 80_000
        assert abs(shares["val"]
                   - (SPLIT_VAL_MAX - SPLIT_TRAIN_MAX) * 10**6 // 256) < 80_000
        out.unpersist()

    def test_assignment_matches_md5_and_is_growth_stable(self, spark):
        """Re-derive each doc's bucket with hashlib and pin Spark's
        conv()-based assignment against it; growth stability follows
        because the bucket is a pure function of doc_id."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            SPLIT_TRAIN_MAX, SPLIT_VAL_MAX)
        ids = [r.doc_id for r in
               _docs(spark).select("doc_id").limit(200).collect()]
        bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                    1, 2), 16, 10).cast("long")
        split = (F.when(bucket < SPLIT_TRAIN_MAX, "train")
                 .when(bucket < SPLIT_VAL_MAX, "val").otherwise("test"))
        got = {r.doc_id: r.s for r in
               spark.createDataFrame([(i,) for i in ids], "doc_id long")
               .select("doc_id", split.alias("s")).collect()}
        for i in ids:
            b = int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)
            want = ("train" if b < SPLIT_TRAIN_MAX
                    else "val" if b < SPLIT_VAL_MAX else "test")
            assert got[i] == want

    def test_leak_audit_fires_on_cross_split_dup(self, spark):
        """Two docs with identical text whose ids hash into different
        splits must both count as leaky."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            SPLIT_TRAIN_MAX, SPLIT_VAL_MAX)
        # find two ids in different buckets
        a = next(i for i in range(1000)
                 if int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)
                 < SPLIT_TRAIN_MAX)
        b = next(i for i in range(1000)
                 if int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)
                 >= SPLIT_VAL_MAX)
        df = spark.createDataFrame(
            [(a, "web", "same text"), (b, "web", "same text"),
             (a + 10**6, "web", "unique text")],
            "doc_id long, source string, text string")
        bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                    1, 2), 16, 10).cast("long")
        split = (F.when(bucket < SPLIT_TRAIN_MAX, "train")
                 .when(bucket < SPLIT_VAL_MAX, "val").otherwise("test"))
        t = df.select("doc_id", split.alias("split"),
                      F.md5(F.coalesce("text", F.lit(""))).alias("h"))
        leaky = (t.groupBy("h")
                 .agg(F.count_distinct("split").alias("n"))
                 .where(F.col("n") > 1))
        assert leaky.count() == 1
        assert t.join(leaky.select("h"), "h", "left_semi").count() == 2


class TestStreamTopk:
    def test_stream_equals_batch(self, spark):
        from pyspark.sql import Window
        from otd_semantic_framework_spark.plans.queries._shared import (
            STREAM_TOPK_K)
        from otd_semantic_framework_spark.plans.queries.stream import (
            q_stream_topk)
        got = q_stream_topk(spark, SF).cache()
        ev = spark.read.parquet(f"{SF}/events.parquet")
        w = Window.partitionBy("win_us").orderBy(F.desc("n"),
                                                 F.asc("event_type"))
        want = (ev.groupBy(F.window("ts", "1 hour").alias("w"),
                           "event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.unix_micros(F.col("w.start").cast("timestamp"))
                        .alias("win_us"),
                        "event_type", F.col("n").cast("long").alias("n"))
                .withColumn("rnk", F.row_number().over(w).cast("long"))
                .where(F.col("rnk") <= STREAM_TOPK_K))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # every window carries ranks 1..min(K, types-in-window)
        per_w = (got.groupBy("win_us")
                 .agg(F.count(F.lit(1)).alias("c"),
                      F.min("rnk").alias("lo"), F.max("rnk").alias("hi"))
                 .where((F.col("lo") != 1) | (F.col("hi") != F.col("c"))
                        | (F.col("c") > STREAM_TOPK_K)))
        assert per_w.count() == 0
        got.unpersist()
