"""Wave-54 operators: code-vs-prose detection heuristics and the
exact-dyadic calendar-decayed load smoother. Both oracle-paired;
these tests replay the feature extraction and the integer-scaled
decay sum in plain Python.
"""
from __future__ import annotations

from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"

KEYWORDS = {"def", "class", "import", "return", "function", "var",
            "const", "if", "else", "for"}


class TestCodeDetect:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            CODE_SYMBOLS, _docs)
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_code_detect)
        expected = {}
        for r in _docs(spark, SF).collect():
            t = r.text or ""
            n_chars = len(t)
            n_sym = sum(t.count(c) for c in CODE_SYMBOLS)
            lines = t.split("\n")
            n_ind = sum(1 for x in lines if x.startswith(" "))
            kw = sum(1 for x in t.lower().split() if x in KEYWORDS)
            sym_ppm = n_sym * 1_000_000 // max(n_chars, 1)
            ind_ppm = n_ind * 1_000_000 // max(len(lines), 1)
            flag = int(sym_ppm > 30000 or (kw >= 2 and n_ind >= 1))
            expected[r.doc_id] = (n_chars, n_sym, len(lines), n_ind,
                                  kw, sym_ppm, ind_ppm, flag)
        got = {r.doc_id: (r.n_chars, r.n_symbols, r.n_lines,
                          r.n_indented, r.n_keywords, r.symbol_ppm,
                          r.indent_ppm, r.is_code)
               for r in q_text_code_detect(spark, SF).collect()}
        assert got == expected

    def test_planted_code_doc_flags(self, spark):
        """A real code snippet pushed through the same feature
        expressions flags, and typical prose from the fixture does
        not flag as code in the majority (the filter routes, it does
        not blanket)."""
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_code_detect)
        rows = q_text_code_detect(spark, SF).collect()
        share = sum(r.is_code for r in rows) / len(rows)
        assert share < 0.5, "prose fixture must not read mostly-code"
        code = "def f(x):\n    return [x * 2 for x in range(10)]\n" \
               "class A:\n    pass"
        n_sym = sum(code.count(c) for c in "{}();=<>[]")
        sym_ppm = n_sym * 1_000_000 // len(code)
        kw = sum(1 for x in code.lower().split() if x in KEYWORDS)
        ind = sum(1 for x in code.split("\n") if x.startswith(" "))
        assert sym_ppm > 30000 or (kw >= 2 and ind >= 1)


class TestDecayedLoad:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            EWMA_HORIZON, _tbl)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_ewma)
        daily = Counter()
        for r in _tbl(spark, SF, "events") \
                .select("event_type", "ts").collect():
            daily[(r.event_type, r.ts.date())] += 1
        per = defaultdict(dict)
        for (et, d), x in daily.items():
            per[et][d] = x
        expected = {}
        for et, days in per.items():
            dT = max(days)
            num = den = 0
            for d, x in days.items():
                age = (dT - d).days
                if age <= EWMA_HORIZON:
                    sc = 1 << (EWMA_HORIZON - age)
                    num += x * sc
                    den += sc
            expected[et] = (
                len(days), sum(days.values()), days[dT],
                round(sum(days.values()) / len(days), 6),
                round(num / float(1 << EWMA_HORIZON), 6),
                round(num / den, 6))
        got = {r.event_type: (r.n_days, r.total, r.last_day,
                              r.mean_daily, r.decayed_load,
                              r.decayed_rate)
               for r in q_stats_ewma(spark, SF).collect()}
        assert got == expected

    def test_decay_semantics(self, spark):
        """The decayed rate is dominated by recent days: it sits
        between the min and max of the last few days' loads, and the
        decayed load is < 2x the last day + small tail (geometric
        series bound)."""
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_ewma)
        rows = q_stats_ewma(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.decayed_rate > 0
            assert r.decayed_load <= 2.0 * max(r.last_day,
                                               r.decayed_rate) + 1e-6
