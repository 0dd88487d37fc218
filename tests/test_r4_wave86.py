"""Wave-86 operators: Page's CUSUM sequential monitor and
truncation-family detection. Both oracle-paired; these tests replay
the reset recurrence and the prefix families in plain Python.
"""
from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestCusum:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_cusum)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1

        def med(vals):
            v = sorted(vals)
            n = len(v)
            return v[n // 2] if n % 2 else (v[n // 2 - 1]
                                            + v[n // 2]) // 2

        med2 = med([x * 2 for x in days.values()])
        mad4 = med([2 * abs(2 * x - med2) for x in days.values()])
        su = sl = 0
        expected = {}
        for d in sorted(days):
            x = days[d]
            su = max(0, su + 8 * x - 4 * med2 - mad4)
            sl = max(0, sl - 8 * x + 4 * med2 - mad4)
            expected[str(d)] = (x, su, sl, int(su > 10 * mad4),
                                int(sl > 10 * mad4))
        got = {r.day: (r.x, r.cusum_up8, r.cusum_dn8, r.alarm_up,
                       r.alarm_dn)
               for r in q_stats_cusum(spark, SF).collect()}
        assert got == expected

    def test_reset_property(self, spark):
        """Both statistics are non-negative everywhere (the reset),
        and cannot both be large simultaneously on the same day
        unless variance is extreme."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_cusum)
        rows = q_stats_cusum(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.cusum_up8 >= 0 and r.cusum_dn8 >= 0
            assert r.alarm_up == 0 or r.alarm_dn == 0 \
                or r.cusum_up8 + r.cusum_dn8 > 0


class TestTruncation:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            TRUNC_PREFIX_CHARS, _docs)
        from otd_semantic_framework_spark.plans.queries.dedup import (
            q_dedup_truncation)
        fam = defaultdict(list)
        for r in _docs(spark, SF).collect():
            t = r.text or ""
            pk = hashlib.md5(
                t[:TRUNC_PREFIX_CHARS].encode()).hexdigest()
            fam[pk].append(
                (len(t), hashlib.md5(t.encode()).hexdigest()))
        expected = {}
        for pk, rows in fam.items():
            if len(rows) < 2:
                continue
            lens = [n for n, _ in rows]
            texts = {h for _, h in rows}
            expected[pk] = (len(rows), len(texts), min(lens),
                            max(lens),
                            int(len(texts) >= 2
                                and max(lens) > min(lens)))
        got = {r.pk: (r.n_docs, r.n_texts, r.min_chars, r.max_chars,
                      r.is_truncation_family)
               for r in q_dedup_truncation(spark, SF).collect()}
        assert got == expected

    def test_planted_truncation_family(self, spark):
        """A doc and its truncated twin share the prefix key and flag
        as a truncation family; two exact dups do not."""
        # patch the module that OWNS the query fn (post-split, a query
        # resolves _docs from its defining plans.queries.* module)
        import otd_semantic_framework_spark.plans.queries.dedup as dq
        base = "x" * 64 + " tail content that goes on for a while"
        rows = [(1, base, "a", "en", 0),
                (2, base[:80], "a", "en", 0),
                (3, "y" * 70, "a", "en", 0),
                (4, "y" * 70, "a", "en", 0)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string,"
                  " lang string, n_chars long")
        orig = dq._docs
        try:
            dq._docs = lambda _s, _d: df
            got = list(dq.q_dedup_truncation(spark, SF).collect())
        finally:
            dq._docs = orig
        assert len(got) == 2
        by_flag = {r.is_truncation_family: r for r in got}
        assert by_flag[1].n_docs == 2 and by_flag[1].n_texts == 2
        assert by_flag[0].n_docs == 2 and by_flag[0].n_texts == 1
