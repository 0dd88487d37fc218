"""Wave-39 operators: WuP-vs-branch reliability calibration and the
embedding centroid-drift monitor. Both oracle-paired; these tests
replay the binning and the fixed-point centroid cosine in plain
Python.
"""
from __future__ import annotations

import math
from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestWupCalibration:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            _branch_map_pdf)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_calibration)
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_wup_matrix)
        bmap = dict(_branch_map_pdf()[["concept_id",
                                       "branch"]].itertuples(index=False))
        bins = defaultdict(lambda: [0, 0, 0])  # n, same, wup_ppm_sum
        for r in q_kg_wup_matrix(spark, SF).collect():
            if r.concept_a not in bmap or r.concept_b not in bmap:
                continue
            b = min(4, math.floor(r.wup * 5))
            bins[b][0] += 1
            bins[b][1] += int(bmap[r.concept_a] == bmap[r.concept_b])
            bins[b][2] += math.floor(r.wup * 1_000_000)
        expected = {b: (n, s, s * 1_000_000 // n, w // n)
                    for b, (n, s, w) in bins.items()}
        got = {r.bin: (r.n_pairs, r.n_same_branch, r.same_rate_ppm,
                       r.mean_wup_ppm)
               for r in q_kg_calibration(spark, SF).collect()}
        assert got == expected
        assert len(got) >= 3, "fixture taxonomy must spread over bins"

    def test_wup_is_calibrated_on_fixture(self, spark):
        """The metric means something: the highest-WuP bin has a
        strictly higher same-branch rate than the lowest one."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_calibration)
        rows = sorted(q_kg_calibration(spark, SF).collect(),
                      key=lambda r: r.bin)
        assert rows[-1].same_rate_ppm > rows[0].same_rate_ppm


class TestCentroidDrift:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            DRIFT_SCALE, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_centroid_drift)
        sums = defaultdict(lambda: defaultdict(int))
        counts = defaultdict(int)
        for r in _tbl(spark, SF, "embeddings").collect():
            half = r.vec_id % 2
            counts[(r.label, half)] += 1
            for pos, x in enumerate(r.embedding):
                sums[(r.label, half)][pos] += math.floor(
                    float(x) * DRIFT_SCALE)
        expected = {}
        for label in {k[0] for k in counts}:
            sa, sb = sums[(label, 0)], sums[(label, 1)]
            dot = sum(sa[p] * sb[p] for p in sa if p in sb)
            na = sum(v * v for p, v in sa.items() if p in sb)
            nb = sum(v * v for p, v in sb.items() if p in sa)
            expected[label] = (counts[(label, 0)], counts[(label, 1)],
                               round(dot / (math.sqrt(na)
                                            * math.sqrt(nb)), 6))
        got = {r.label: (r.n_a, r.n_b, r.drift_cos)
               for r in q_sim_centroid_drift(spark, SF).collect()}
        assert got == expected

    def test_iid_halves_read_no_drift(self, spark):
        """Drift sanity on the synthetic fixture: the labels are iid
        (unclustered) vectors, so two random halves of a label must be
        near-orthogonal — the monitor reads ~0 where there is no
        signal (a clustered label would read ~1). Also pins range and
        non-degeneracy."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_centroid_drift)
        rows = q_sim_centroid_drift(spark, SF).collect()
        assert len(rows) == 10
        for r in rows:
            assert -1.0 <= r.drift_cos <= 1.0
            assert abs(r.drift_cos) < 0.5
            assert r.n_a > 0 and r.n_b > 0
        assert len({r.drift_cos for r in rows}) > 1
