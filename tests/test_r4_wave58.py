"""Wave-58 operators: Mann-Kendall + Theil-Sen trend over the daily
series and per-document character-class entropy. Both oracle-paired;
these tests replay the trend math and the entropy closed form in plain
Python.
"""
from __future__ import annotations

import math
from collections import Counter

SF = "/root/testdata/sf0.001"

PUNCT = set("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~")


class TestTrend:
    def _daily(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        days = Counter()
        for r in _tbl(spark, SF, "orders").select("o_orderdate") \
                .collect():
            days[r.o_orderdate.date()] += 1
        return sorted((d.toordinal(), x) for d, x in days.items())

    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_trend)
        series = self._daily(spark)
        n = len(series)
        s, slopes = 0, []
        for i in range(n):
            for j in range(i + 1, n):
                dx = series[j][1] - series[i][1]
                dd = series[j][0] - series[i][0]
                s += (dx > 0) - (dx < 0)
                q = dx * 1000000.0 / dd
                # round-half-away-from-zero, as both engines' round()
                slopes.append(int(math.floor(abs(q) + 0.5))
                              * (1 if q >= 0 else -1))
        t = Counter(x for _, x in series)
        tie18 = sum(c * (c - 1) * (2 * c + 5) for c in t.values())
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        sl = sorted(v * 2 for v in slopes)
        m = len(sl)
        med2 = sl[m // 2] if m % 2 else (sl[m // 2 - 1]
                                         + sl[m // 2]) // 2
        if s > 0:
            z = round((s - 1) / math.sqrt(var18 / 18.0), 6)
        elif s < 0:
            z = round((s + 1) / math.sqrt(var18 / 18.0), 6)
        else:
            z = 0.0
        row = q_stats_trend(spark, SF).collect()[0]
        assert row.n_days == n
        assert row.n_pairs == m
        assert row.s == s
        assert row.var18 == var18
        assert row.slope_med2_ppm == med2
        assert abs(row.z - z) < 1e-9

    def test_invariants(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_trend)
        row = q_stats_trend(spark, SF).collect()[0]
        assert row.n_pairs == row.n_days * (row.n_days - 1) // 2
        assert abs(row.s) <= row.n_pairs
        assert row.var18 > 0 and row.n_values <= row.n_days


class TestClassEntropy:
    def _classify(self, ch: str) -> str:
        if "a" <= ch <= "z":
            return "n_lower"
        if "A" <= ch <= "Z":
            return "n_upper"
        if "0" <= ch <= "9":
            return "n_digit"
        if ch in " \t\n\r":
            return "n_space"
        if ch in PUNCT:
            return "n_punct"
        return "n_other"

    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_class_entropy)
        order = ["n_lower", "n_upper", "n_digit", "n_space", "n_punct",
                 "n_other"]
        expected = {}
        for r in _docs(spark, SF).collect():
            s = r.text or ""
            c = Counter(self._classify(ch) for ch in s)
            n = len(s)
            if n:
                # fixed-order left-to-right sum, as both engines
                ent = 0.0
                for k in order:
                    if c[k] > 0:
                        p = c[k] / n
                        ent = ent + (-p * math.log2(p))
                ent = round(ent, 6)
                dom = max(c[k] for k in order) * 1000000 // n
            else:
                ent, dom = None, None
            expected[r.doc_id] = (
                n, c["n_lower"], c["n_upper"], c["n_digit"],
                c["n_space"], c["n_punct"], c["n_other"], ent, dom,
                int(n >= 20 and ent is not None and ent < 0.6))
        got = {r.doc_id: (r.n_chars, r.n_lower, r.n_upper, r.n_digit,
                          r.n_space, r.n_punct, r.n_other, r.entropy,
                          r.dom_ppm, r.is_suspect)
               for r in q_text_class_entropy(spark, SF).collect()}
        assert got == expected

    def test_suspect_flag_on_crafted_docs(self, spark):
        """Prose clears the 0.6-bit fence; a digit blob and a
        repeated-char run collapse below it (both branches)."""
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_class_entropy)
        # patch the module that OWNS the query fn (post-split, a query
        # resolves _docs from its defining plans.queries.* module)
        import otd_semantic_framework_spark.plans.queries.text as dq
        rows = [(1, "The quick brown fox jumps over the lazy dog."),
                (2, "0123456789" * 5),
                (3, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
                (4, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        orig = dq._docs
        try:
            dq._docs = lambda _spark, _sf: df
            got = {r.doc_id: r
                   for r in q_text_class_entropy(spark, SF).collect()}
        finally:
            dq._docs = orig
        assert got[1].is_suspect == 0 and got[1].entropy > 0.6
        assert got[2].is_suspect == 1 and got[2].entropy == 0.0
        assert got[3].is_suspect == 1
        assert got[4].entropy is None and got[4].is_suspect == 0
