"""Wave-28 operators: reciprocal-rank fusion of the BM25 and
embedding-cosine rankings (hybrid retrieval) and U-shaped multi-touch
attribution over the events stream. Both oracle-paired; these tests
replay the fusion arithmetic and the attribution weighting in plain
Python and demand equality.
"""
from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestRRFFusion:
    def test_matches_python_fusion_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            BM25_TERMS, N_QUERY_VECS, RRF_C, RRF_N, RRF_TOP, _docs, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_rrf_fusion)
        from otd_semantic_framework_spark.operators.curation import (
            bm25_topk)
        lex_rows = sorted(
            ((r.score_ppm, r.doc_id) for r in
             bm25_topk(_docs(spark, SF), BM25_TERMS, k=RRF_N).collect()),
            key=lambda t: (-t[0], t[1]))
        lex_rk = {d: i + 1 for i, (_, d) in enumerate(lex_rows)}

        emb = {r.vec_id: [float(x) for x in r.embedding]
               for r in _tbl(spark, SF, "embeddings").collect()}
        qv = emb[0]

        def cos(v):
            dot = sum(x * y for x, y in zip(qv, v))
            nq = sum(x * x for x in qv) ** 0.5
            nv = sum(y * y for y in v) ** 0.5
            return round(dot / (nq * nv), 6)

        sem_rows = sorted(((cos(v), d) for d, v in emb.items()
                           if d >= N_QUERY_VECS),
                          key=lambda t: (-t[0], t[1]))[:RRF_N]
        sem_rk = {d: i + 1 for i, (_, d) in enumerate(sem_rows)}

        fused = []
        for d in set(lex_rk) | set(sem_rk):
            rrf = 0
            if d in lex_rk:
                rrf += 1_000_000 // (RRF_C + lex_rk[d])
            if d in sem_rk:
                rrf += 1_000_000 // (RRF_C + sem_rk[d])
            fused.append((d, lex_rk.get(d), sem_rk.get(d), rrf))
        fused.sort(key=lambda t: (-t[3], t[0]))
        expected = [t + (i + 1,) for i, t in enumerate(fused[:RRF_TOP])]
        got = sorted(((r.doc_id, r.lex_rk, r.sem_rk, r.rrf_ppm,
                       r.fused_rank)
                      for r in q_sim_rrf_fusion(spark, SF).collect()),
                     key=lambda t: t[4])
        assert got == expected
        # union semantics must actually be exercised: the fused head
        # holds at least one doc ranked by both legs and the full
        # candidate union holds single-leg docs
        assert any(t[1] is not None and t[2] is not None for t in got) \
            or len(set(lex_rk) & set(sem_rk)) == 0
        assert set(lex_rk) != set(sem_rk)

    def test_both_legs_influence_the_head(self, spark):
        """A doc present in BOTH legs outscores the same ranks taken
        alone — the fused top must not equal either leg's top-10 list
        order unless the legs agree (they don't on this fixture)."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_rrf_fusion)
        rows = q_sim_rrf_fusion(spark, SF).collect()
        assert len(rows) == 10
        for r in rows:
            assert r.rrf_ppm > 0
            assert (r.lex_rk is not None) or (r.sem_rk is not None)


class TestAttribution:
    def test_matches_python_weight_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            ATTR_CONV_TYPE, ATTR_U_END_PPM, _tbl)
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_attribution)
        events = _tbl(spark, SF, "events").collect()
        convs = [e for e in events if e.event_type == ATTR_CONV_TYPE]
        touches = defaultdict(list)
        for e in events:
            if e.event_type != ATTR_CONV_TYPE:
                touches[e.user_id].append(e)
        mid = 1_000_000 - 2 * ATTR_U_END_PPM
        agg = defaultdict(lambda: [0, set(), 0])
        exercised_n_gt2 = False
        for c in convs:
            cents = int(round(c.value * 100))
            tl = sorted((t for t in touches[c.user_id]
                         if (t.ts, t.event_id) < (c.ts, c.event_id)),
                        key=lambda t: (t.ts, t.event_id))
            n = len(tl)
            if n == 0:
                continue
            if n > 2:
                exercised_n_gt2 = True
            for pos, t in enumerate(tl, start=1):
                if n == 1:
                    w = 1_000_000
                elif n == 2:
                    w = 500_000
                elif pos == 1:
                    w = ATTR_U_END_PPM + mid % (n - 2)
                elif pos == n:
                    w = ATTR_U_END_PPM
                else:
                    w = mid // (n - 2)
                a = agg[t.event_type]
                a[0] += 1
                a[1].add(c.event_id)
                a[2] += cents * w
        expected = {k: (v[0], len(v[1]), v[2], v[2] // 1_000_000)
                    for k, v in agg.items()}
        got = {r.event_type: (r.touches, r.conversions, r.attr_micro,
                              r.attr_cents)
               for r in q_rel_attribution(spark, SF).collect()}
        assert got == expected
        assert exercised_n_gt2, "fixture must exercise the U-shape split"

    def test_weights_sum_to_unity_per_conversion(self, spark):
        """Attribution conserves value: summing w_ppm over each
        conversion's touches is exactly 1e6, so total attributed
        micro-cents equals 1e6 * the summed value of every converted
        purchase that has at least one touch."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            ATTR_CONV_TYPE, _tbl)
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_attribution)
        import pyspark.sql.functions as F
        ev = _tbl(spark, SF, "events")
        conv = (ev.filter(F.col("event_type") == ATTR_CONV_TYPE)
                .select(F.col("event_id").alias("conv_id"), "user_id",
                        F.col("ts").alias("conv_ts"),
                        F.round(F.col("value") * 100, 0).cast("long")
                        .alias("cents")))
        touch = (ev.filter(F.col("event_type") != ATTR_CONV_TYPE)
                 .select("user_id", F.col("event_id").alias("touch_id"),
                         F.col("ts").alias("touch_ts")))
        touched = (conv.join(touch, "user_id")
                   .filter((F.col("touch_ts") < F.col("conv_ts"))
                           | ((F.col("touch_ts") == F.col("conv_ts"))
                              & (F.col("touch_id") < F.col("conv_id"))))
                   .select("conv_id", "cents").distinct())
        total_cents = touched.agg(F.sum("cents")).collect()[0][0]
        out = q_rel_attribution(spark, SF)
        attributed = out.agg(F.sum("attr_micro")).collect()[0][0]
        assert attributed == total_cents * 1_000_000
