"""Wave-15 operators: robust median/MAD outliers, length-3 sequential
patterns, token-budgeted domain mixture, and closeness centrality over
the concept co-occurrence projection. All four oracle-paired; these
tests pin the semantics the hash can't state — the 3·1.4826·MAD rule
against an independent pandas recompute, the greedy longest-first
prefix property of the token budget, and closeness/harmonic values on
hand-built graphs including the hop bound."""
from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestRelOutliers:
    def test_matches_pandas_recompute_per_type(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_outliers)
        out = {r.event_type: r for r in q_rel_outliers(spark, SF).collect()}
        ev = pd.read_parquet(f"{SF}/events.parquet")
        assert set(out) == set(ev.event_type.unique())
        for et, g in ev.groupby("event_type"):
            v2 = (2 * (g.value * 1_000_000).apply(
                lambda x: int(x // 1))).astype("int64")
            med2 = int(v2.sort_values().reset_index(drop=True).pipe(
                lambda s: (s[(len(s) - 1) // 2] + s[len(s) // 2]) / 2))
            dev2 = (v2 - med2).abs()
            d2 = 2 * dev2
            mad4 = int(d2.sort_values().reset_index(drop=True).pipe(
                lambda s: (s[(len(s) - 1) // 2] + s[len(s) // 2]) / 2))
            n_out = int((dev2 * 10000 > 22239 * mad4).sum())
            r = out[et]
            assert (r.med2_micro, r.mad4_micro, r.n_outliers) == (
                med2, mad4, n_out), et
            assert r.outlier_ppm == n_out * 1_000_000 // len(g)

    def test_outliers_are_a_minority(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_outliers)
        for r in q_rel_outliers(spark, SF).collect():
            assert 0 <= r.n_outliers < r.n // 4


class TestRelSeqPatterns:
    def test_matches_pandas_trigrams_for_one_user(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_seq_patterns)
        from otd_semantic_framework_spark.plans.queries._shared import (
            SEQ_MIN_SUPPORT)
        out = q_rel_seq_patterns(spark, SF).collect()
        assert out and all(r.support >= SEQ_MIN_SUPPORT for r in out)
        # independent recompute: total support over ALL trigrams equals
        # sum of per-user (len - 2), restricted to patterns >= floor
        ev = (pd.read_parquet(f"{SF}/events.parquet")
              .sort_values(["user_id", "ts", "event_id"]))
        tri: dict[tuple, int] = {}
        for _, g in ev.groupby("user_id"):
            ts = list(g.event_type)
            for i in range(len(ts) - 2):
                tri[tuple(ts[i:i + 3])] = tri.get(tuple(ts[i:i + 3]), 0) + 1
        expect = {k: v for k, v in tri.items() if v >= SEQ_MIN_SUPPORT}
        got = {(r.e1, r.e2, r.e3): r.support for r in out}
        assert got == expect

    def test_n_users_bounded_by_support(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_seq_patterns)
        for r in q_rel_seq_patterns(spark, SF).collect():
            assert 1 <= r.n_users <= r.support


class TestCurationTokenBudget:
    def test_budget_is_a_hard_cap_and_partition_is_exact(self, spark):
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_token_budget)
        from otd_semantic_framework_spark.plans.queries._shared import (
            TOKEN_BUDGET)
        rows = q_curation_token_budget(spark, SF).collect()
        assert len(rows) == 20
        for r in rows:
            assert r.tokens_kept <= TOKEN_BUDGET
            assert r.n_kept + r.n_dropped == 25
            assert r.fill_ppm == r.tokens_kept * 1_000_000 // TOKEN_BUDGET

    def test_greedy_longest_first_prefix(self, spark):
        """Kept set == longest-first greedy prefix recomputed in pandas
        for every domain (ties broken by doc_id ascending)."""
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_token_budget)
        from otd_semantic_framework_spark.plans.queries._shared import (
            TOKEN_BUDGET)
        got = {r.domain: (r.n_kept, r.tokens_kept)
               for r in q_curation_token_budget(spark, SF).collect()}
        docs = pd.read_parquet(f"{SF}/documents.parquet")
        docs["n_toks"] = docs.text.str.strip().str.split().str.len()
        for dom, g in docs.groupby("source"):
            cum = kept = toks = 0
            for _, row in g.sort_values(
                    ["n_toks", "doc_id"],
                    ascending=[False, True]).iterrows():
                cum += row.n_toks
                if cum <= TOKEN_BUDGET:
                    kept += 1
                    toks += row.n_toks
            assert got[dom] == (kept, toks), dom


class TestKgCloseness:
    def _edges(self, spark, pairs):
        both = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
        return spark.createDataFrame(both, "src string, dst string")

    def test_path_graph_values(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            closeness_centrality)
        out = {r.node: r for r in closeness_centrality(
            self._edges(spark, [("a", "b"), ("b", "c")]),
            max_hops=4).collect()}
        # a: b@1, c@2 -> sum 3, closeness 2e6//3, harmonic 1e6 + 5e5
        assert out["a"].n_reach == 2 and out["a"].sum_dist == 3
        assert out["a"].closeness_ppm == 2_000_000 // 3
        assert out["a"].harmonic_ppm == 1_500_000
        # b is the center: two neighbors at distance 1
        assert out["b"].n_reach == 2 and out["b"].sum_dist == 2
        assert out["b"].closeness_ppm == 1_000_000

    def test_hop_bound_excludes_far_nodes(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            closeness_centrality)
        chain = [("n0", "n1"), ("n1", "n2"), ("n2", "n3"),
                 ("n3", "n4"), ("n4", "n5")]
        out = {r.node: r for r in closeness_centrality(
            self._edges(spark, chain), max_hops=4).collect()}
        # n0 reaches n1..n4 within 4 hops, never n5
        assert out["n0"].n_reach == 4
        assert out["n0"].sum_dist == 1 + 2 + 3 + 4

    def test_cooccurrence_edges_floor_and_symmetry(self, spark):
        from otd_semantic_framework_spark.operators.graph import (
            cooccurrence_edges)
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df, CLOSENESS_MIN_CONVS)
        edges = cooccurrence_edges(_mentions_df(spark, SF),
                                   min_convs=CLOSENESS_MIN_CONVS).cache()
        n = edges.count()
        assert n > 0 and n % 2 == 0
        rev = edges.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"))
        assert edges.exceptAll(rev).count() == 0
        edges.unpersist()
