"""Wave-57 operators: LSH-bucketed hard-example triplet mining and the
weekday-vs-weekend Mann-Whitney U rank test. Both oracle-paired; these
tests replay the mining and the rank math in plain Python/numpy.
"""
from __future__ import annotations

from collections import Counter, defaultdict

import numpy as np

SF = "/root/testdata/sf0.001"


class TestTripletMining:
    def _replay(self, spark):
        from otd_semantic_framework_spark.operators.simsearch import (
            hyperplanes)
        from otd_semantic_framework_spark.plans.queries._shared import (
            TRIPLET_MARGIN_PPM, TRIPLET_N_PLANES, _tbl)
        rows = _tbl(spark, SF, "embeddings").collect()
        P = np.asarray(hyperplanes(TRIPLET_N_PLANES, 64))
        buckets = defaultdict(list)
        for r in rows:
            v = np.asarray(r.embedding, dtype=np.float64)
            b = sum((1 << i) for i in range(P.shape[0])
                    if float(v @ P[i]) >= 0)
            buckets[b].append((r.vec_id, v, r.label))
        expected = {}
        for mates in buckets.values():
            for aid, av, albl in mates:
                pos, neg, np_c, nn_c = None, None, 0, 0
                for cid, cv, clbl in mates:
                    if cid == aid:
                        continue
                    cos = round(float(av @ cv)
                                / (float(np.linalg.norm(av))
                                   * float(np.linalg.norm(cv))), 6)
                    ppm = int(round(cos * 1e6))
                    if clbl == albl:
                        np_c += 1
                        if pos is None or (ppm, cid) < pos:
                            pos = (ppm, cid)
                    else:
                        nn_c += 1
                        if neg is None or (ppm, -cid) > neg:
                            neg = (ppm, -cid)
                if pos is not None and neg is not None:
                    expected[aid] = (albl, pos[1], pos[0], -neg[1],
                                     neg[0], np_c, nn_c,
                                     int(neg[0] + TRIPLET_MARGIN_PPM
                                         > pos[0]))
        return expected

    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_triplet_mining)
        got = {r.vec_id: (r.label, r.pos_id, r.pos_ppm, r.neg_id,
                          r.neg_ppm, r.n_pos_cand, r.n_neg_cand,
                          r.violation)
               for r in q_sim_triplet_mining(spark, SF).collect()}
        assert got == self._replay(spark)

    def test_hardness_semantics(self, spark):
        """The mined positive is SAME-label and the negative is
        DIFFERENT-label; the violation flag replays per row. (On the
        hash-derived fixture embeddings labels are uncorrelated with
        geometry, so essentially every triplet violates — both flag
        branches are exercised by the crafted corpus below.)"""
        from otd_semantic_framework_spark.plans.queries._shared import (
            TRIPLET_MARGIN_PPM, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_triplet_mining)
        labels = {r.vec_id: r.label
                  for r in _tbl(spark, SF, "embeddings").collect()}
        rows = q_sim_triplet_mining(spark, SF).collect()
        assert rows
        assert any(r.violation == 1 for r in rows)
        for r in rows:
            assert labels[r.pos_id] == r.label
            assert labels[r.neg_id] != r.label
            assert r.violation == int(
                r.neg_ppm + TRIPLET_MARGIN_PPM > r.pos_ppm)

    def test_both_flag_branches_on_crafted_corpus(self, spark):
        """A tight same-label pair with only orthogonal impostors is a
        clean triplet (violation 0); a loose same-label pair with a
        nearer impostor violates the margin (violation 1). One plane,
        with every vector built on that plane's positive axes, puts
        everything in one bucket so geometry alone decides."""
        from otd_semantic_framework_spark.operators.simsearch import (
            hyperplanes, triplet_mining)

        p = hyperplanes(1, 64)[0]
        ax = [i for i, x in enumerate(p) if x > 0][:5]

        def vec(*pairs):
            v = [0.0] * 64
            for i, x in pairs:
                v[ax[i]] = x
            return v

        rows = [
            (1, vec((0, 1.0)), 0),           # tight pair ...
            (2, vec((0, 1.0)), 0),
            (3, vec((0, 0.7071), (1, 0.7071)), 1),  # impostor at 0.707
            (4, vec((2, 1.0)), 3),           # loose pair, cos 0.6 ...
            (5, vec((2, 0.6), (3, 0.8)), 3),
            (6, vec((2, 0.8), (4, 0.6)), 4),  # impostor at cos 0.8
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        got = {r.vec_id: r
               for r in triplet_mining(df, n_planes=1).collect()}
        assert got[1].violation == 0
        assert got[1].pos_id == 2 and got[1].neg_id == 3
        assert got[4].violation == 1
        assert got[4].pos_id == 5 and got[4].neg_id == 6
        # anchor 3 and 6 have no same-label mate -> dropped
        assert 3 not in got and 6 not in got


class TestMannWhitney:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_mannwhitney)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        grp1 = sorted(x for d, x in days.items() if d.isoweekday() < 6)
        grp2 = sorted(x for d, x in days.items() if d.isoweekday() >= 6)
        n1, n2 = len(grp1), len(grp2)
        both = sorted(grp1 + grp2)
        # doubled average midrank per value + exact tie term
        first = {}
        for i, v in enumerate(both):
            first.setdefault(v, i)
        t = Counter(both)
        r1_x2 = sum(2 * first[v] + t[v] + 1 for v in grp1)
        tie = sum(c ** 3 - c for c in t.values())
        u1_x2 = r1_x2 - n1 * (n1 + 1)
        n = n1 + n2
        var_num = n1 * n2 * ((n + 1) * n * (n - 1) - tie)
        z = round((u1_x2 - n1 * n2)
                  / (2.0 * np.sqrt(var_num / (12.0 * n * (n - 1)))), 6)
        row = q_stats_mannwhitney(spark, SF).collect()[0]
        assert (row.n1, row.n2) == (n1, n2)
        assert row.u1_x2 == u1_x2
        assert row.u2_x2 == 2 * n1 * n2 - u1_x2
        assert row.tie_term == tie
        assert abs(row.z - z) < 1e-9

    def test_u_statistics_are_consistent(self, spark):
        """U1 + U2 == n1*n2 (the rank-sum identity) and the doubled
        encodings stay integral."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_mannwhitney)
        row = q_stats_mannwhitney(spark, SF).collect()[0]
        assert row.u1_x2 + row.u2_x2 == 2 * row.n1 * row.n2
        assert row.n1 > 0 and row.n2 > 0
        assert row.tie_term >= 0
        assert row.z is not None
