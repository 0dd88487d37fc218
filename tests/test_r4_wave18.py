"""Wave-18 operators: histogram-sketch quantiles, collective entity
linking, nearest-event temporal join. All three oracle-paired; these
tests pin the semantics the hash can't state — sketch readout vs the
exact quantile, vote arithmetic vs a per-conversation recount, and
nearest-in-absolute-time vs a brute-force per-user scan."""
from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


class TestBinnedQuantiles:
    def test_bin_brackets_exact_quantile(self, spark):
        """Each sketch bin must CONTAIN the exact (lower-interpolation)
        quantile of the raw data — the sketch's one-bin-width contract."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            BINQ_QUANTILES_PPM)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_binned_quantiles)
        out = {r.q_ppm: r for r in
               q_stats_binned_quantiles(spark, SF).collect()}
        assert set(out) == set(BINQ_QUANTILES_PPM)
        li = pd.read_parquet(f"{SF}/lineitem.parquet")
        cents = (li.l_extendedprice * 100).round().astype("int64").sort_values()
        n = len(cents)
        for q_ppm, r in out.items():
            # ceil(q*N)-th smallest value (1-indexed) == the readout rule
            k = -(-q_ppm * n // 1_000_000)
            exact = cents.iloc[k - 1]
            assert r.lo_cents <= exact <= r.hi_cents, (q_ppm, exact, r)
            assert r.total_n == n

    def test_cumulative_counts_consistent(self, spark):
        """cum_n must be monotone in q and == #values in bins <= bin."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            BINQ_WIDTH_CENTS)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_binned_quantiles)
        rows = sorted(q_stats_binned_quantiles(spark, SF).collect(),
                      key=lambda r: r.q_ppm)
        li = pd.read_parquet(f"{SF}/lineitem.parquet")
        bins = ((li.l_extendedprice * 100).round().astype("int64")
                // BINQ_WIDTH_CENTS)
        cums = [r.cum_n for r in rows]
        assert cums == sorted(cums)
        for r in rows:
            assert r.cum_n == int((bins <= r.bin).sum())


class TestCollectiveLinking:
    def test_score_is_blended_prior_plus_avg_coherence(self, spark):
        """score == W_PRIOR·sim_ppm + W_CTX·coh_ppm where coh_ppm is the
        mention's average wup (ppm, floor-div) to the conversation's
        OTHER independent picks — recounted from the mention table +
        the wup table directly, and the picked concept must maximize
        that blend over the self+4-neighbor candidate set."""
        from otd_semantic_framework_spark.plans.driver_ontology import (
            driver_wup)
        from otd_semantic_framework_spark.plans.queries._shared import (
            COLLECTIVE_TOP_K, COLLECTIVE_W_CTX, COLLECTIVE_W_PRIOR,
            _mentions_df)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_collective_linking)
        wup = {(r.concept_a, r.concept_b): round(r.wup * 1_000_000)
               for r in driver_wup().itertuples()}
        neighbors = {}
        for (a, b), p in wup.items():
            neighbors.setdefault(a, []).append((-p, b))
        for a in neighbors:
            neighbors[a] = [b for _, b in
                            sorted(neighbors[a])[:COLLECTIVE_TOP_K]]
        m = (_mentions_df(spark, SF)
             .select("conv_id", "turn_idx", "surface", "concept_id")
             .distinct().toPandas())
        conv_picks = m.groupby("conv_id").concept_id.apply(list).to_dict()
        base = m.set_index(["conv_id", "turn_idx", "surface"]).concept_id
        out = q_kg_collective_linking(spark, SF).collect()
        assert len(out) == len(m)
        for r in out[:400]:
            own = base.loc[(r.conv_id, r.turn_idx, r.surface)]
            picks = conv_picks[r.conv_id]

            def blend(c):
                coh = (sum(wup[(c, o)] for o in picks) - wup[(c, own)])
                coh_ppm = coh // (len(picks) - 1) if len(picks) > 1 else 0
                return (COLLECTIVE_W_PRIOR * wup[(c, own)]
                        + COLLECTIVE_W_CTX * coh_ppm, coh_ppm)

            scores = {c: blend(c) for c in neighbors[own]}
            # order: score DESC, sim DESC, concept_id ASC
            best = min(scores,
                       key=lambda c: (-scores[c][0], -wup[(c, own)], c))
            assert r.concept_id == best, (r, scores)
            assert r.score == scores[best][0]
            assert r.coh_ppm == scores[best][1]
            assert r.sim_ppm == wup[(best, own)]
            assert r.changed == (1 if best != own else 0)

    def test_one_pick_per_mention_and_context_can_flip(self, spark):
        """Exactly one row per mention; the corpus must exercise BOTH
        branches (some picks flipped by context, most confirmed) or
        the operator is inert."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            _mentions_df)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_collective_linking)
        out = q_kg_collective_linking(spark, SF).cache()
        n_mentions = (_mentions_df(spark, SF)
                      .select("conv_id", "turn_idx", "surface")
                      .distinct().count())
        assert out.count() == n_mentions
        flips = out.filter(F.col("changed") == 1).count()
        assert 0 < flips < n_mentions // 2


class TestNearestEvent:
    def test_matches_bruteforce_nearest(self, spark):
        """Every click maps to the per-user purchase minimizing |Δts|,
        tie to the earlier purchase — brute-forced in pandas."""
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_nearest_event)
        out = {r.event_id: (r.purchase_id, r.delta_us, r.direction)
               for r in q_rel_nearest_event(spark, SF).collect()}
        ev = pd.read_parquet(f"{SF}/events.parquet")
        ev["ts_us"] = ev.ts.astype("int64")
        clicks = ev[ev.event_type == "click"]
        purch = ev[ev.event_type == "purchase"]
        n_with_purchase = 0
        for c in clicks.itertuples():
            p = purch[purch.user_id == c.user_id]
            if len(p) == 0:
                assert c.event_id not in out
                continue
            n_with_purchase += 1
            d = (p.ts_us - c.ts_us).abs()
            best = d.min()
            cand = p[d == best].sort_values(["ts_us", "event_id"])
            got_pid, got_delta, _ = out[c.event_id]
            assert got_delta == best
            # tie rule: earlier purchase (backward) wins at equal delta
            assert got_pid in set(cand.event_id)
            if len(cand) > 1:
                assert got_pid == cand.event_id.iloc[0]
        assert len(out) == n_with_purchase > 0

    def test_directions_both_exercised(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_nearest_event)
        dirs = {r.direction for r in
                q_rel_nearest_event(spark, SF).collect()}
        assert dirs == {"backward", "forward"}
