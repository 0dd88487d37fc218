"""Wave-78 operators: skew-salt planner and cross-document n-gram
memorization audit. Both oracle-paired; these tests replay the salt
arithmetic and the 8-gram bands in plain Python.
"""
from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


class TestSaltPlanner:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            SALT_TARGET_PER_KEY)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_salt_planner)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        triples = [(r.subj, r.pred, r.obj)
                   for r in q_kg_triples(spark, SF).collect()]
        got = {(r.pred, r.direction): r
               for r in q_kg_salt_planner(spark, SF).collect()}
        for direction, idx in (("out", 0), ("in", 2)):
            fans = defaultdict(Counter)
            for s, p, o in triples:
                fans[p][(s, o)[0 if direction == "out" else 1]] += 1
            for p, c in fans.items():
                mx = max(c.values())
                need = -(-mx // SALT_TARGET_PER_KEY)
                salt = 1
                while salt < need:
                    salt <<= 1
                r = got[(p, direction)]
                assert r.n_keys == len(c)
                assert r.n_rows == sum(c.values())
                assert r.max_fan == mx
                assert r.salt == salt
                assert r.post_salt_max == -(-mx // salt)

    def test_salt_brings_fan_under_target(self, spark):
        """The defining property: post-salt worst case <= target, and
        salt is always a power of two (1 included)."""
        from otd_semantic_framework_spark.plans.queries._shared import (
            SALT_TARGET_PER_KEY)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_salt_planner)
        rows = q_kg_salt_planner(spark, SF).collect()
        assert rows
        for r in rows:
            assert r.salt & (r.salt - 1) == 0
            assert r.post_salt_max <= max(SALT_TARGET_PER_KEY,
                                          r.max_fan // r.salt + 1)
            if r.salt > 1:
                assert r.post_salt_max <= SALT_TARGET_PER_KEY


class TestMemorization:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            MEMO_NGRAM_N, _docs)
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_memorization)
        n = MEMO_NGRAM_N
        mass, docs = Counter(), defaultdict(set)
        for r in _docs(spark, SF).collect():
            tk = [x for x in re.split(r"\s+", (r.text or "").lower())
                  if x]
            for i in range(len(tk) - n + 1):
                g = hashlib.md5(
                    " ".join(tk[i:i + n]).encode()).hexdigest()
                mass[g] += 1
                docs[g].add(r.doc_id)
        bands = defaultdict(lambda: [0, 0])
        total = sum(mass.values())
        dup = sum(m for g, m in mass.items() if len(docs[g]) > 1)
        for g, m in mass.items():
            df = len(docs[g])
            b = ("1" if df == 1 else "2" if df == 2
                 else "3-4" if df <= 4 else "5-8" if df <= 8 else "9+")
            bands[b][0] += 1
            bands[b][1] += m
        got = {r.band: r for r in q_text_memorization(spark, SF)
               .collect()}
        assert set(got) == set(bands)
        for b, (nt, ms) in bands.items():
            assert got[b].n_types == nt
            assert got[b].mass == ms
            assert got[b].total_mass == total
            assert got[b].dup_mass_ppm == (dup * 1000000
                                           // max(total, 1))

    def test_masses_account_for_corpus(self, spark):
        """Band masses sum to the total, and duplicated mass is the
        complement of the df=1 band."""
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_memorization)
        rows = q_text_memorization(spark, SF).collect()
        total = rows[0].total_mass
        assert sum(r.mass for r in rows) == total
        solo = next((r.mass for r in rows if r.band == "1"), 0)
        assert rows[0].dup_mass_ppm == ((total - solo) * 1000000
                                        // max(total, 1))
