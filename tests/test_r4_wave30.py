"""Wave-30 operators: fixed-breakpoint RFM customer segmentation and
Matryoshka-style prefix-dimension recall@k. Both oracle-paired; these
tests replay the scoring/recall arithmetic in plain Python.
"""
from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"


def _score(v, breaks, asc):
    for i, b in enumerate(breaks):
        if (v <= b) if asc else (v >= b):
            return 5 - i
    return 1


class TestRFM:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            RFM_F_ORDERS, RFM_M_CENTS, RFM_R_DAYS, _tbl)
        from otd_semantic_framework_spark.plans.queries.rel2 import q_rel_rfm
        rows = _tbl(spark, SF, "orders").collect()
        corpus_max = max(r.o_orderdate for r in rows)
        per_c = defaultdict(lambda: [None, 0, 0])
        for r in rows:
            a = per_c[r.o_custkey]
            a[0] = r.o_orderdate if a[0] is None else max(a[0],
                                                          r.o_orderdate)
            a[1] += 1
            a[2] += int(round(r.o_totalprice * 100))
        expected = {}
        for ck, (last, f, m) in per_c.items():
            rd = (corpus_max.date() - last.date()).days
            rs = _score(rd, RFM_R_DAYS, True)
            fs = _score(f, RFM_F_ORDERS, False)
            ms = _score(m, RFM_M_CENTS, False)
            if rs >= 4 and fs >= 4:
                seg = "champion"
            elif rs >= 4:
                seg = "recent"
            elif rs <= 2 and fs >= 4:
                seg = "at_risk"
            elif rs <= 2 and fs <= 2:
                seg = "lost"
            else:
                seg = "regular"
            expected[ck] = (rd, f, m, rs, fs, ms, seg)
        got = {r.custkey: (r.recency_days, r.frequency, r.monetary_cents,
                           r.r_score, r.f_score, r.m_score, r.segment)
               for r in q_rel_rfm(spark, SF).collect()}
        assert got == expected
        # the fixture must exercise the full scorecard
        segs = {v[6] for v in got.values()}
        assert segs == {"champion", "recent", "at_risk", "lost",
                        "regular"}
        for axis in (3, 4, 5):
            assert {v[axis] for v in got.values()} == {1, 2, 3, 4, 5}


class TestPrefixRecall:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            N_QUERY_VECS, PREFIX_DIMS, PREFIX_RECALL_K, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_prefix_recall)
        emb = {r.vec_id: [float(x) for x in r.embedding]
               for r in _tbl(spark, SF, "embeddings").collect()}

        def topk(qv, dims):
            qd = qv[:dims]
            nq = sum(x * x for x in qd) ** 0.5
            scored = []
            for cid, cv in emb.items():
                if cid < N_QUERY_VECS:
                    continue
                cd = cv[:dims]
                nc = sum(x * x for x in cd) ** 0.5
                cos = round(sum(x * y for x, y in zip(qd, cd))
                            / (nq * nc), 6)
                scored.append((-cos, cid))
            scored.sort()
            return {cid for _, cid in scored[:PREFIX_RECALL_K]}

        expected = {}
        for qid in range(N_QUERY_VECS):
            full = topk(emb[qid], len(emb[qid]))
            pre = topk(emb[qid], PREFIX_DIMS)
            ov = len(full & pre)
            expected[qid] = (ov, ov * 1_000_000 // PREFIX_RECALL_K)
        got = {r.qid: (r.overlap, r.recall_ppm)
               for r in q_sim_prefix_recall(spark, SF).collect()}
        assert got == expected
        # recall must be a real measurement: neither total miss for
        # every query nor perfect agreement for every query
        assert any(v[0] > 0 for v in got.values())
        assert any(v[0] < PREFIX_RECALL_K for v in got.values())
