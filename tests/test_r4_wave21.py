"""Wave-21 operators: chi-square independence profile and SNAP-style
graph summarization. Both oracle-paired; these tests pin semantics the
hash can't state — chi² arithmetic against a scipy-free recount, and
super-graph conservation (every edge lands in exactly one super-edge,
groups partition the node set)."""
from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestChisq:
    def test_cells_and_contributions_match_recount(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import q_rel_chisq
        ev = pd.read_parquet(f"{SF}/events.parquet")
        ns = ev.ts.astype("datetime64[ns]").dt.normalize().astype("int64")
        ev["dow"] = (ns // 86_400_000_000_000) % 7
        obs = ev.groupby(["event_type", "dow"]).size()
        r = obs.groupby("event_type").sum()
        c = obs.groupby("dow").sum()
        t = obs.sum()
        out = q_rel_chisq(spark, SF).collect()
        assert len(out) == len(obs)
        for row in out:
            o = obs.loc[(row.event_type, row.dow)]
            e = r.loc[row.event_type] * c.loc[row.dow] / t
            assert row.o == o
            assert abs(row.expected - e) < 1e-5
            assert abs(row.chi2_contrib - (o - e) ** 2 / e) < 1e-5

    def test_expected_sums_match_observed_total(self, spark):
        """Σ expected == Σ observed (the contingency identity)."""
        from otd_semantic_framework_spark.plans.queries.rel1 import q_rel_chisq
        out = q_rel_chisq(spark, SF).toPandas()
        assert abs(out.expected.sum() - out.o.sum()) < 1e-3


class TestGraphSummary:
    def test_edge_conservation_and_group_partition(self, spark):
        """Σ n_edges over super-edges == |distinct triples|, and the
        node grouping is a partition (each node in exactly one group
        — implied by recomputing groups from degrees in pandas and
        matching every super-edge count)."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_graph_summary)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        t = (q_kg_triples(spark, SF)
             .select("subj", "pred", "obj").distinct().toPandas())
        deg = (pd.concat([t.subj.rename("node"), t.obj.rename("node")])
               .value_counts())

        def bucket(d):
            if d <= 1:
                return 0
            for i in range(1, 8):
                if d <= (1 << (i + 1)) - 1:
                    return i
            return 8

        def grp(n):
            typ = ("turn" if n.startswith("turn:")
                   else "tool" if n.startswith("tool:") else "concept")
            return f"{typ}:d{bucket(deg[n])}"

        t["src_grp"] = t.subj.map(grp)
        t["dst_grp"] = t.obj.map(grp)
        expect = (t.groupby(["src_grp", "pred", "dst_grp"]).size()
                  .rename("n").reset_index())
        got = q_kg_graph_summary(spark, SF).toPandas()
        assert got.n_edges.sum() == len(t)
        assert len(got) == len(expect)
        m = got.merge(expect, on=["src_grp", "pred", "dst_grp"])
        assert (m.n_edges == m.n).all()
        # the fixture graph must actually spread across buckets or the
        # summary is degenerate
        assert got.src_grp.nunique() >= 3
        assert len(got) >= 10
