"""Wave-19 operators: concept transition graph, KMV distinct sketch,
inclusion-dependency (FK) discovery. All three oracle-paired; these
tests pin semantics the hash can't state — transition counts against a
pandas recount, the KMV estimator's accuracy band and formula, and
FK discovery's accept/reject behavior on known TPC-H keys."""
from __future__ import annotations

import hashlib

import pandas as pd
import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestConceptTransitions:
    def test_matches_pandas_recount(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_concept_transitions)
        m = (_mentions_df(spark, SF)
             .select("conv_id", "turn_idx", "concept_id")
             .distinct().toPandas())
        nxt = m.rename(columns={"concept_id": "dst"})
        nxt["turn_idx"] = nxt.turn_idx - 1
        pairs = m.merge(nxt, on=["conv_id", "turn_idx"])
        expect = (pairs.groupby(["concept_id", "dst"]).size()
                  .rename("n").reset_index())
        got = q_kg_concept_transitions(spark, SF).toPandas()
        assert len(got) == len(expect)
        merged = got.merge(expect, left_on=["src", "dst"],
                           right_on=["concept_id", "dst"])
        assert (merged.n_x == merged.n_y).all()

    def test_probabilities_sum_to_one_per_source(self, spark):
        """Σ p over dst per src must be 10^6 up to DIV-floor loss
        (< out-degree ulps)."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_concept_transitions)
        got = q_kg_concept_transitions(spark, SF).toPandas()
        for src, g in got.groupby("src"):
            s = g.p_ppm.sum()
            assert 1_000_000 - len(g) < s <= 1_000_000, (src, s)


class TestKmvDistinct:
    def test_formula_and_accuracy(self, spark):
        """est == (K-1)*SPACE // v_K recomputed from raw md5 hashes in
        Python, and the estimate lands within the standard ~1/sqrt(K)
        relative-error band (3 sigma) of the exact count."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            KMV_K, KMV_PREFIX_HEX, KMV_SPACE)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_kmv_distinct)
        r = q_stats_kmv_distinct(spark, SF).collect()[0]
        orders = pd.read_parquet(f"{SF}/orders.parquet")
        hashes = sorted({hashlib.md5(str(v).encode()).hexdigest()
                         for v in orders.o_custkey})
        vk = int(hashes[KMV_K - 1][:KMV_PREFIX_HEX], 16)
        assert r.vk == vk
        assert r.est_distinct == (KMV_K - 1) * KMV_SPACE // vk
        assert r.exact_distinct == len(hashes)
        rel = abs(r.est_distinct - r.exact_distinct) / r.exact_distinct
        assert rel <= 3 / (KMV_K ** 0.5), rel
        assert r.ratio_ppm == r.est_distinct * 1_000_000 // r.exact_distinct


class TestFkDiscovery:
    def test_known_keys_accepted_control_rejected(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_fk_discovery)
        rows = {r.child_col: r for r in
                q_rel_fk_discovery(spark, SF).collect()}
        for child in ("lineitem.l_orderkey", "customer.c_nationkey",
                      "nation.n_regionkey", "lineitem.l_partkey"):
            assert rows[child].is_fk == 1, child
            assert rows[child].containment_ppm == 1_000_000
        # o_custkey -> supplier.s_suppkey is the negative control:
        # suppliers are ~1% of customers, containment must be partial
        neg = rows["orders.o_custkey"]
        ctl = [r for r in rows.values()
               if r.parent_col == "supplier.s_suppkey"][0]
        assert ctl.is_fk == 0
        assert 0 < ctl.containment_ppm < 1_000_000

    def test_containment_counts_are_distinct_based(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_fk_discovery)
        li = pd.read_parquet(f"{SF}/lineitem.parquet")
        orders = pd.read_parquet(f"{SF}/orders.parquet")
        r = [x for x in q_rel_fk_discovery(spark, SF).collect()
             if x.child_col == "lineitem.l_orderkey"][0]
        child = set(li.l_orderkey)
        assert r.n_child == len(child)
        assert r.n_contained == len(child & set(orders.o_orderkey))
