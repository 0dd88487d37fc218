"""Wave-66 operators: Hamilton largest-remainder budget apportionment
and intra-day inter-arrival statistics. Both oracle-paired; these
tests replay the apportionment and the gap math in plain Python.
"""
from __future__ import annotations

import re
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestApportion:
    def _masses(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        m = Counter()
        for r in _docs(spark, SF).collect():
            m[r.source] += len(
                [x for x in re.split(r"\s+", r.text or "") if x])
        return m

    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            APPORTION_BUDGET)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_apportion)
        m = self._masses(spark)
        m_tot = sum(m.values())
        floor = {s: APPORTION_BUDGET * x // m_tot
                 for s, x in m.items()}
        rem = {s: (APPORTION_BUDGET * x) % m_tot for s, x in m.items()}
        leftover = APPORTION_BUDGET - sum(floor.values())
        order = sorted(m, key=lambda s: (-rem[s], s))
        bonus = set(order[:leftover])
        got = {r.source: r
               for r in q_curation_apportion(spark, SF).collect()}
        assert set(got) == set(m)
        for s, r in got.items():
            assert r.mass == m[s]
            assert r.floor_share == floor[s]
            assert r.rem == rem[s]
            assert r.bonus == int(s in bonus)
            assert r.alloc == floor[s] + int(s in bonus)

    def test_total_is_exactly_budget(self, spark):
        """The defining Hamilton property: allocations sum to the
        budget exactly, and every source gets at least its floor."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            APPORTION_BUDGET)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_apportion)
        rows = q_curation_apportion(spark, SF).collect()
        assert sum(r.alloc for r in rows) == APPORTION_BUDGET
        for r in rows:
            assert r.alloc in (r.floor_share, r.floor_share + 1)


class TestInterarrival:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_interarrival)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        import datetime as dt
        epoch = dt.datetime(1970, 1, 1)
        per = defaultdict(list)
        for r in _tbl(spark, SF, "events") \
                .select("event_type", "ts", "event_id").collect():
            d = r.ts - epoch
            us = (d.days * 86400000000 + d.seconds * 1000000
                  + d.microseconds)
            per[(r.event_type, r.ts.date())].append((us, r.event_id))
        gaps = defaultdict(list)
        for (et, _), evs in per.items():
            evs.sort()
            for a, b in zip(evs, evs[1:]):
                gaps[et].append(b[0] - a[0])
        expected = {}
        for et, g in gaps.items():
            g2 = sorted(x * 2 for x in g)
            n = len(g2)
            med2 = g2[n // 2] if n % 2 else (g2[n // 2 - 1]
                                             + g2[n // 2]) // 2
            mean = sum(g) // n
            expected[et] = (n, med2, mean, max(g),
                            mean * 2000000 // max(med2, 1))
        got = {r.event_type: (r.n_gaps, r.med2_us, r.mean_us,
                              r.max_us, r.burstiness_ppm)
               for r in q_stats_interarrival(spark, SF).collect()}
        assert got == expected

    def test_gap_sanity(self, spark):
        """Gaps are non-negative, median <= max, and the burstiness
        ratio replays from the emitted columns."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_interarrival)
        rows = q_stats_interarrival(spark, SF).collect()
        assert rows
        for r in rows:
            assert 0 <= r.med2_us <= 2 * r.max_us
            assert 0 <= r.mean_us <= r.max_us
            assert r.burstiness_ppm == (r.mean_us * 2000000
                                        // max(r.med2_us, 1))
