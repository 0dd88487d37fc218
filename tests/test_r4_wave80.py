"""Wave-80 operators: conversation thread-topology profile and
instruction-format detection. Both oracle-paired; these tests replay
the fan-in accounting and the scoring in plain Python.
"""
from __future__ import annotations

import re
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestThreadStats:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_thread_stats)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        edges = [(r.subj, r.obj)
                 for r in q_kg_triples(spark, SF).collect()
                 if r.pred == "replies_to"]
        conv_of = lambda t: t.split(":")[1]
        fanin = defaultdict(Counter)
        turns = defaultdict(set)
        for s, o in edges:
            cv = conv_of(s)
            fanin[cv][o] += 1
            turns[cv].add(s)
            turns[conv_of(o)].add(o)
        got = {r.conv: r for r in q_kg_thread_stats(spark, SF)
               .collect()}
        assert set(got) == set(fanin)
        for cv in fanin:
            nre = sum(fanin[cv].values())
            mx = max(fanin[cv].values())
            nbp = sum(1 for v in fanin[cv].values() if v >= 2)
            nt = len(turns[cv])
            r = got[cv]
            assert r.n_turns == nt
            assert r.n_reply_edges == nre
            assert r.max_fanin == mx
            assert r.n_branch_points == nbp
            assert r.is_linear == int(nbp == 0 and nre == nt - 1)

    def test_linear_chains_dominate_fixture(self, spark):
        """The synthetic transcripts are sequential chats: every
        conversation with replies should be a linear chain."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_thread_stats)
        rows = q_kg_thread_stats(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.max_fanin >= 1
            assert r.n_branch_points <= r.n_reply_edges


class TestInstructionDetect:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            IMPERATIVE_VERBS, _docs)
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_instruction_detect)
        expected = {}
        for r in _docs(spark, SF).collect():
            s = r.text or ""
            toks = [x for x in re.split(r"\s+", s.lower()) if x]
            imp = int(bool(toks) and toks[0] in IMPERATIVE_VERBS)
            nq = s.count("?")
            nlist = len(re.findall(r"(?m)^\s*(?:[-*]|\d+[.)])\s", s))
            nstep = len(re.findall(r"step [0-9]", s.lower()))
            score = (imp * 400000 + min(nq, 3) * 100000
                     + min(nlist, 5) * 60000 + min(nstep, 3) * 100000)
            expected[r.doc_id] = (imp, nq, nlist, nstep, score,
                                  int(score >= 400000))
        got = {r.doc_id: (r.imperative_open, r.n_questions,
                          r.n_list_markers, r.n_steps,
                          r.instruct_score, r.is_instruction)
               for r in q_text_instruction_detect(spark, SF)
               .collect()}
        assert got == expected

    def test_crafted_instructions_route(self, spark):
        """Planted instruction shapes fire; plain prose does not."""
        # patch the module that OWNS the query fn (post-split, a query
        # resolves _docs from its defining plans.queries.* module)
        import otd_semantic_framework_spark.plans.queries.text as dq
        rows = [
            (1, "Write a poem about autumn. Step 1: think."),
            (2, "Explain why the sky is blue?"),
            (3, "- first\n- second\n- third\n- fourth\n1. go"),
            (4, "the weather was mild and entirely unremarkable"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        orig = dq._docs
        try:
            dq._docs = lambda _s, _d: df
            got = {r.doc_id: r
                   for r in dq.q_text_instruction_detect(spark, SF)
                   .collect()}
        finally:
            dq._docs = orig
        assert got[1].is_instruction == 1
        assert got[1].imperative_open == 1 and got[1].n_steps == 1
        assert got[2].is_instruction == 1
        assert got[3].n_list_markers >= 4
        assert got[4].is_instruction == 0
        assert got[4].instruct_score == 0
