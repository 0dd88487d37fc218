"""Wave-62 operators: sliding-window velocity fence per user and the
one-row corpus dataset card. Both oracle-paired; these tests replay the
sliding count and the card aggregates in plain Python.
"""
from __future__ import annotations

import hashlib
import re
from bisect import bisect_left, bisect_right
from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestVelocity:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            VELOCITY_FENCE, VELOCITY_WINDOW_S, _tbl)
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_velocity)
        per = defaultdict(list)
        for r in _tbl(spark, SF, "events") \
                .select("user_id", "ts").collect():
            per[r.user_id].append(
                int(r.ts.replace(microsecond=0).timestamp()))
        expected = {}
        for u, ts in per.items():
            ts.sort()
            mx = 0
            for t in ts:
                lo = bisect_left(ts, t - (VELOCITY_WINDOW_S - 1))
                # RANGE frame includes PEERS of the current row
                hi = bisect_right(ts, t)
                mx = max(mx, hi - lo)
            expected[u] = (len(ts), mx, int(mx >= VELOCITY_FENCE))
        got = {r.user_id: (r.n_events, r.max_burst_10m,
                           r.is_velocity_suspect)
               for r in q_rel_velocity(spark, SF).collect()}
        assert got == expected

    def test_burst_bounds(self, spark):
        """1 <= max_burst <= n_events, and the fence flag replays."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            VELOCITY_FENCE)
        from otd_semantic_framework_spark.plans.queries.rel2 import (
            q_rel_velocity)
        rows = q_rel_velocity(spark, SF).collect()
        assert rows
        for r in rows:
            assert 1 <= r.max_burst_10m <= r.n_events
            assert r.is_velocity_suspect == int(
                r.max_burst_10m >= VELOCITY_FENCE)


class TestDatasetCard:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_dataset_card)
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        docs = [(r.text or "", r.source, r.lang)
                for r in _docs(spark, SF).collect()]
        n = len(docs)
        total_chars = sum(len(t) for t, _, _ in docs)
        total_tokens = sum(
            len([x for x in re.split(r"\s+", t) if x])
            for t, _, _ in docs)
        n_unique = len({hashlib.md5(t.encode()).hexdigest()
                        for t, _, _ in docs})
        n_empty = sum(1 for t, _, _ in docs if not t)
        row = q_curation_dataset_card(spark, SF).collect()[0]
        assert row.n_docs == n
        assert row.n_sources == len({s for _, s, _ in docs})
        assert row.n_langs == len({lg for _, _, lg in docs})
        assert row.n_unique_texts == n_unique
        assert row.total_chars == total_chars
        assert row.total_tokens == total_tokens
        assert row.max_chars == max(len(t) for t, _, _ in docs)
        assert row.n_empty == n_empty
        assert row.mean_chars_ppm == total_chars * 1000000 // n
        assert row.empty_ppm == n_empty * 1000000 // n
        assert row.exact_dup_ppm == (n - n_unique) * 1000000 // n

    def test_card_consistency(self, spark):
        """Unique texts never exceed docs; dup + unique shares account
        for the corpus; the mean is bracketed by 0 and max."""
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_dataset_card)
        r = q_curation_dataset_card(spark, SF).collect()[0]
        assert 1 <= r.n_unique_texts <= r.n_docs
        assert 0 <= r.exact_dup_ppm < 1000000
        assert 0 <= r.mean_chars_ppm <= r.max_chars * 1000000
