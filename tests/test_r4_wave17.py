"""Wave-17 operators: per-source 2-D skyline (Pareto front) and the
predicate co-occurrence schema summary. Both oracle-paired; these
tests pin the semantics the hash can't state — skyline membership
against a brute-force quadratic dominance check (including the
co-skyline tie rule), and Jaccard arithmetic consistency against
per-predicate subject counts."""
from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestRelSkyline:
    def test_matches_bruteforce_dominance(self, spark):
        """Skyline == brute-force O(n²) per-source check: a doc is OUT
        iff some other doc is >= on both dims and > on at least one."""
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_skyline)
        got = {(r.source, r.doc_id)
               for r in q_rel_skyline(spark, SF).collect()}
        docs = pd.read_parquet(f"{SF}/documents.parquet")
        docs["dt"] = docs.text.str.strip().str.split().map(
            lambda t: len(set(t)))
        expect = set()
        for src, g in docs.groupby("source"):
            pts = list(zip(g.doc_id, g.n_chars, g.dt))
            for d, x, y in pts:
                dominated = any(
                    x2 >= x and y2 >= y and (x2 > x or y2 > y)
                    for d2, x2, y2 in pts if d2 != d)
                if not dominated:
                    expect.add((src, d))
        assert got == expect

    def test_frontier_is_strictly_decreasing_in_tokens(self, spark):
        """Within a source, sorting distinct skyline points by n_chars
        descending must give strictly increasing distinct_toks — the
        defining staircase shape of a 2-D Pareto front."""
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_skyline)
        rows = q_rel_skyline(spark, SF).collect()
        by_src: dict[str, list] = {}
        for r in rows:
            by_src.setdefault(r.source, []).append(
                (r.n_chars, r.distinct_toks))
        for src, pts in by_src.items():
            uniq = sorted(set(pts), key=lambda p: (-p[0], p[1]))
            for (x1, y1), (x2, y2) in zip(uniq, uniq[1:]):
                if x2 < x1:
                    assert y2 > y1, (src, (x1, y1), (x2, y2))


class TestKgPredCooccur:
    def test_jaccard_consistent_with_pair_counts(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_pred_cooccur)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        rows = q_kg_pred_cooccur(spark, SF).collect()
        assert rows
        per = (q_kg_triples(spark, SF).select("subj", "pred").distinct()
               .groupBy("pred").count().collect())
        n_subj = {r.pred: r["count"] for r in per}
        for r in rows:
            assert r.pred_a < r.pred_b
            assert r.n_a == n_subj[r.pred_a]
            assert r.n_b == n_subj[r.pred_b]
            assert 0 < r.n_both <= min(r.n_a, r.n_b)
            assert r.jaccard_ppm == (
                r.n_both * 1_000_000 // (r.n_a + r.n_b - r.n_both))

    def test_mentions_and_replies_cooccur(self, spark):
        """Turns that reply also mention things in this corpus — the
        pair (mentions, replies_to) must be present with n_both > 0."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_pred_cooccur)
        pairs = {(r.pred_a, r.pred_b)
                 for r in q_kg_pred_cooccur(spark, SF).collect()}
        assert ("mentions", "replies_to") in pairs
