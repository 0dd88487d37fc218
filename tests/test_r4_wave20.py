"""Wave-20 operators: per-concept entity cards and contrastive
training triplets. Both oracle-paired; these tests pin the semantics
the hash can't state — card counters and top-neighbor choice against a
pandas recount, and the triplet construction rules (positives are
verified near-dups, negatives are deterministic bucket neighbors that
never equal anchor or positive's duplicate relation trivially)."""
from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestEntityCards:
    def test_counters_and_top_neighbor_match_recount(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_entity_cards)
        m = _mentions_df(spark, SF).toPandas()
        cards = {r.concept_id: r for r in
                 q_kg_entity_cards(spark, SF).collect()}
        assert set(cards) == set(m.concept_id.unique())
        cc = m[["conv_id", "concept_id"]].drop_duplicates()
        joined = cc.merge(cc, on="conv_id")
        joined = joined[joined.concept_id_x != joined.concept_id_y]
        co = (joined.groupby(["concept_id_x", "concept_id_y"]).size()
              .rename("n").reset_index())
        for cid, g in m.groupby("concept_id"):
            r = cards[cid]
            assert r.n_mentions == len(g)
            assert r.n_convs == g.conv_id.nunique()
            assert r.n_surfaces == g.surface.nunique()
            mine = co[co.concept_id_x == cid]
            if len(mine) == 0:
                assert r.top_co is None and r.top_co_n == 0
            else:
                best = mine.sort_values(
                    ["n", "concept_id_y"],
                    ascending=[False, True]).iloc[0]
                assert r.top_co == best.concept_id_y
                assert r.top_co_n == best.n

    def test_every_concept_has_a_neighbor_on_this_corpus(self, spark):
        """The fixture corpus is dense enough that every concept
        co-occurs with something — the left join's NULL branch is
        covered by the recount test's guard, this pins the corpus."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_entity_cards)
        out = q_kg_entity_cards(spark, SF)
        assert out.filter(F.col("top_co").isNull()).count() == 0


class TestContrastivePairs:
    def test_positive_is_neardup_negative_is_bucket_neighbor(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            JACCARD_MAX_DOC)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_contrastive_pairs)
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_jaccard)
        pos = {(r.doc_a, r.doc_b): r.jaccard
               for r in q_dedup_jaccard(spark, SF).collect()}
        out = q_curation_contrastive_pairs(spark, SF).collect()
        # deterministic neighbor map recomputed in Python
        buckets = {}
        for i in range(JACCARD_MAX_DOC):
            h = hashlib.md5(str(i).encode()).hexdigest()
            buckets.setdefault(h[0], []).append((h, i))
        neigh = {}
        for _, docs in buckets.items():
            docs.sort()
            for j, (_, i) in enumerate(docs):
                nxt = docs[(j + 1) % len(docs)][1]
                if nxt != i:
                    neigh[i] = nxt
        assert len(out) > 0
        for r in out:
            assert (r.anchor_id, r.pos_id) in pos
            assert r.jaccard == pos[(r.anchor_id, r.pos_id)]
            assert r.neg_id == neigh[r.anchor_id]
            assert r.neg_id != r.anchor_id

    def test_every_anchor_with_a_neighbor_keeps_its_positives(self, spark):
        """Row count == positives whose anchor has a distinct bucket
        neighbor (singleton buckets drop, everything else survives)."""
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_contrastive_pairs)
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_jaccard)
        n_pos = q_dedup_jaccard(spark, SF).count()
        n_out = q_curation_contrastive_pairs(spark, SF).count()
        # with 500 docs in 16 buckets singleton buckets are improbable;
        # allow equality or a tiny deficit, never growth
        assert n_out <= n_pos
        assert n_out >= n_pos - 2
