"""Wave-32 operators: entity property-table denormalization and
per-language Jensen-Shannon unigram drift. Both oracle-paired; these
tests replay the flattening and the JSD micro-nat arithmetic in plain
Python.
"""
from __future__ import annotations

import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestPropertyTable:
    def test_matches_python_flatten_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_property_table)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        rows = q_kg_triples(spark, SF).collect()
        per = defaultdict(lambda: {"mentions": 0, "uses_tool": 0,
                                   "replies_to": 0, "score": None,
                                   "concepts": set(), "tools": set()})
        for r in rows:
            a = per[r.subj]
            a[r.pred] += 1
            a["score"] = (r.score if a["score"] is None
                          else max(a["score"], r.score))
            if r.pred == "mentions":
                a["concepts"].add(r.obj)
            elif r.pred == "uses_tool":
                a["tools"].add(r.obj)
        expected = {
            s: (a["mentions"], a["uses_tool"], a["replies_to"],
                round(a["score"], 6),
                "|".join(sorted(a["concepts"])),
                "|".join(sorted(a["tools"])))
            for s, a in per.items()}
        got = {r.subj: (r.n_mentions, r.n_tools, r.n_replies,
                        r.max_score, r.concept_list, r.tool_list)
               for r in q_kg_property_table(spark, SF).collect()}
        assert got == expected
        # the flattening is lossless on subjects and exercises both
        # empty and non-empty list columns
        assert len(got) == len({r.subj for r in rows})
        assert any(v[4] == "" for v in got.values()) or \
            all(v[0] > 0 for v in got.values())
        assert any("|" in v[4] for v in got.values())


class TestJSDSources:
    def test_matches_python_micro_nat_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_jsd_sources)
        lt = Counter()
        for r in _docs(spark, SF).collect():
            for t in r.text.lower().split(" "):
                if t:
                    lt[(r.lang, t)] += 1
        n_l = Counter()
        vocab_l = Counter()
        c_t = Counter()
        for (lang, tok), c in lt.items():
            n_l[lang] += c
            vocab_l[lang] += 1
            c_t[tok] += c
        n_all = sum(n_l.values())
        expected = {}
        for lang in n_l:
            total = 0
            for tok, ct in c_t.items():
                clt = lt.get((lang, tok), 0)
                crest = ct - clt
                term = 0.0
                m = (0.5 * (clt / n_l[lang])
                     + 0.5 * (crest / (n_all - n_l[lang])))
                if clt > 0:
                    p = clt / n_l[lang]
                    term += 0.5 * p * math.log(p / m)
                if crest > 0:
                    q = crest / (n_all - n_l[lang])
                    term += 0.5 * q * math.log(q / m)
                total += int(round(term * 1_000_000, 0))
            expected[lang] = (n_l[lang], vocab_l[lang], total)
        got = {r.lang: (r.n_tokens, r.vocab, r.jsd_micro)
               for r in q_text_jsd_sources(spark, SF).collect()}
        assert got == expected
        # divergence is a real signal: non-negative everywhere and not
        # identically zero across slices
        assert all(v[2] >= 0 for v in got.values())
        assert any(v[2] > 0 for v in got.values())
        assert set(got) == {"en", "fr", "es", "zh", "de"}
