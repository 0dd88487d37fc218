"""Wave-31 operators: end-to-end curation keep-list with reason codes
and hierarchical conversation-level embedding pooling with a
sign-bucketed neighbor join. Both oracle-paired; these tests replay
the gate cascade and the pooling arithmetic in plain Python.
"""
from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"


class TestKeepList:
    def test_matches_python_cascade_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            KEEP_MIN_TOKENS, KEEP_TTR_PCT, SAMEAS_PREFIX, _docs)
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_keep_list)
        docs = {r.doc_id: r.text.lower()
                for r in _docs(spark, SF).collect()}
        canon = {}
        for did, text in docs.items():
            fp = text[:SAMEAS_PREFIX]
            canon[fp] = min(canon.get(fp, did), did)
        expected = {}
        for did, text in docs.items():
            toks = [t for t in text.split(" ") if t]
            n, d = len(toks), len(set(toks))
            if did != canon[text[:SAMEAS_PREFIX]]:
                reason = "near_dup"
            elif n < KEEP_MIN_TOKENS:
                reason = "too_short"
            elif d * 100 < n * KEEP_TTR_PCT:
                reason = "low_ttr"
            else:
                reason = "kept"
            expected[did] = (reason, 1 if reason == "kept" else 0)
        got = {r.doc_id: (r.reason, r.keep)
               for r in q_curation_keep_list(spark, SF).collect()}
        assert got == expected
        # every gate fires on the fixture, and most of the corpus keeps
        reasons = defaultdict(int)
        for reason, _ in got.values():
            reasons[reason] += 1
        assert set(reasons) == {"near_dup", "too_short", "low_ttr",
                                "kept"}
        assert reasons["kept"] > len(got) // 2

    def test_one_row_per_document(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import _docs
        from otd_semantic_framework_spark.plans.queries.curation import (
            q_curation_keep_list)
        out = q_curation_keep_list(spark, SF)
        n_docs = _docs(spark, SF).count()
        assert out.count() == n_docs
        assert out.select("doc_id").distinct().count() == n_docs


class TestConvPool:
    def test_matches_python_pool_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            KMEANS_DIM, N_CONVS, POOL_SIGN_BITS, POOL_TOP, _tbl)
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_conv_pool)
        from otd_semantic_framework_spark.operators.simsearch import (
            quantize_embeddings)
        qz = {r.vec_id: list(r.qvec) for r in
              quantize_embeddings(_tbl(spark, SF, "embeddings"))
              .collect()}
        sums = defaultdict(lambda: [[0, 0] for _ in range(KMEANS_DIM)])
        for vid, qv in qz.items():
            acc = sums[int(vid % N_CONVS)]
            for i, v in enumerate(qv):
                acc[i][0] += v
                acc[i][1] += 1
        pool = {c: [(s + 127 * n) // n - 127 for s, n in acc]
                for c, acc in sums.items()}
        bucket = {c: sum(2 ** i for i in range(POOL_SIGN_BITS)
                         if pv[i] >= 0)
                  for c, pv in pool.items()}
        by_bucket = defaultdict(list)
        for c, bk in bucket.items():
            by_bucket[bk].append(c)
        neigh = defaultdict(list)
        for cs in by_bucket.values():
            cs.sort()
            for i, a in enumerate(cs):
                for b in cs[i + 1:]:
                    dot = sum(x * y for x, y in zip(pool[a], pool[b]))
                    neigh[a].append((dot, b))
                    neigh[b].append((dot, a))
        expected = set()
        for c, cands in neigh.items():
            cands.sort(key=lambda t: (-t[0], t[1]))
            for rk, (dot, nb) in enumerate(cands[:POOL_TOP], start=1):
                expected.add((c, nb, dot, rk))
        got = {(r.conv, r.neighbor, r.dot, r.rk)
               for r in q_sim_conv_pool(spark, SF).collect()}
        assert got == expected
        assert got, "sign buckets must collide on the fixture"
        # symmetry of the pair graph: a neighbor edge seen from one
        # side exists from the other (possibly at a different rank)
        pairs = {(a, b) for a, b, _, _ in got}
        dots = {(a, b): d for a, b, d, _ in got}
        for a, b in pairs:
            if (b, a) in pairs:
                assert dots[(a, b)] == dots[(b, a)]
