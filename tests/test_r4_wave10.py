"""Wave-10 operators: containment near-dup (best container per doc),
SPARQL DESCRIBE, and two-stage retrieval (IVF recall + exact integer
re-rank). All three oracle-paired (dedup_containment, kg_describe,
sim_two_stage); these tests pin the semantics the hash can't state —
containment catches the subset Jaccard misses, DESCRIBE's CBD extent,
and stage-2 only ever re-orders stage-1's shortlist."""
from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestContainment:
    def test_subset_found_where_jaccard_fails(self, spark):
        from tests.test_r4_wave8 import _mk_docs_dir
        from otd_semantic_framework_spark.operators.dedup import (
            containment_pairs)
        # doc 0 is a strict 4-token subset of the 16-token doc 1:
        # containment = 1.0 but jaccard = 4/16 = 0.25
        small = "alpha beta gamma delta"
        big = small + " " + " ".join(f"tok{i}" for i in range(12))
        d = _mk_docs_dir(spark, "/tmp/w10_cont", [small, big, "unrelated xx"])
        docs = spark.read.parquet(f"{d}/documents.parquet")
        got = {(r.doc_small, r.doc_big): r
               for r in containment_pairs(docs, 900_000).collect()}
        assert (0, 1) in got
        r = got[(0, 1)]
        assert r.containment_ppm == 1_000_000
        assert r.jaccard_ppm == 250_000  # would NOT pass a jaccard gate

    def test_one_best_container_per_doc(self, spark):
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_containment)
        out = q_dedup_containment(spark, SF).cache()
        assert out.count() > 0
        assert (out.select("doc_small").distinct().count() == out.count())
        assert out.filter("doc_small = doc_big").count() == 0
        assert out.filter("containment_ppm < jaccard_ppm").count() == 0
        assert out.filter("containment_ppm > 1000000").count() == 0
        out.unpersist()


class TestDescribe:
    def test_cbd_extent(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_describe, q_kg_triples)
        from otd_semantic_framework_spark.plans.queries._shared import (
            DESCRIBE_NODE)
        out = q_kg_describe(spark, SF).cache()
        tr = q_kg_triples(spark, SF).cache()
        # every 'incident' row touches the node; no 'neighbor' row does
        inc = out.filter("via = 'incident'")
        assert inc.count() > 0
        assert inc.filter((F.col("subj") != DESCRIBE_NODE)
                          & (F.col("obj") != DESCRIBE_NODE)).count() == 0
        nbr = out.filter("via = 'neighbor'")
        assert nbr.filter((F.col("subj") == DESCRIBE_NODE)
                          | (F.col("obj") == DESCRIBE_NODE)).count() == 0
        # neighbor rows are mentions-attributes of turns that mention
        # the described node
        turns = tr.filter((F.col("obj") == DESCRIBE_NODE)
                          & F.col("subj").startswith("turn:")) \
            .select("subj").distinct()
        assert nbr.join(turns, "subj", "left_anti").count() == 0
        assert nbr.filter("pred != 'mentions'").count() == 0
        # the description is a subset of the graph
        assert out.select("subj", "pred", "obj") \
            .join(tr, ["subj", "pred", "obj"], "left_anti").count() == 0
        tr.unpersist()
        out.unpersist()


class TestTwoStage:
    def test_rerank_stays_within_stage1_shortlist(self, spark):
        from otd_semantic_framework_spark.operators.simsearch import (
            ann_ivf_topk)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_two_stage)
        from otd_semantic_framework_spark.plans.queries._shared import (
            N_QUERY_VECS, SIM_TOP_K, TWO_STAGE_SHORTLIST, IVF_N_CELLS,
            IVF_N_PROBE)
        out = q_sim_two_stage(spark, SF).cache()
        assert out.count() == N_QUERY_VECS * SIM_TOP_K
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
             .select(F.col("vec_id").alias("qid"),
                     F.col("embedding").alias("qv")))
        c = (e.filter(F.col("vec_id") >= N_QUERY_VECS)
             .select(F.col("vec_id").alias("cid"),
                     F.col("embedding").alias("cv")))
        short = ann_ivf_topk(q, c, k=TWO_STAGE_SHORTLIST,
                             n_cells=IVF_N_CELLS, n_probe=IVF_N_PROBE) \
            .select("qid", "cid")
        assert out.join(short, ["qid", "cid"], "left_anti").count() == 0
        # integer re-rank: nonincreasing qdot within each query
        from pyspark.sql import Window
        w = Window.partitionBy("qid").orderBy("rk")
        lagged = out.withColumn("prev", F.lag("qdot").over(w))
        assert lagged.filter("prev IS NOT NULL AND qdot > prev").count() == 0
        out.unpersist()


class TestWalkPairs:
    def test_symmetry_and_window_reach(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_random_walks, q_kg_walk_pairs)
        from otd_semantic_framework_spark.plans.queries._shared import (
            WALK_PAIR_WINDOW)
        out = q_kg_walk_pairs(spark, SF).cache()
        got = {(r.center, r.context): r.n_pairs for r in out.collect()}
        assert got, "walk corpus produced no pairs"
        # symmetric by construction
        assert all(got[(y, x)] == n for (x, y), n in got.items())
        # every pair really co-occurs within the window in some walk
        walks = q_kg_random_walks(spark, SF).collect()
        by_start = {}
        for r in walks:
            by_start.setdefault(r.start, {})[r.step] = r.node
        want = {}
        for seq in by_start.values():
            for s, a in seq.items():
                for o in range(1, WALK_PAIR_WINDOW + 1):
                    b = seq.get(s + o)
                    if b is not None:
                        want[(a, b)] = want.get((a, b), 0) + 1
                        want[(b, a)] = want.get((b, a), 0) + 1
        assert got == want
        out.unpersist()
