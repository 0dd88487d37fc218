"""Wave-82 operators: embedding anisotropy via the sum-vector
identity and the dictionary-encoding storage model. Both oracle-
paired; these tests replay the identity against a direct O(n^2)
computation and the size arithmetic in plain Python.
"""
from __future__ import annotations

import math
from collections import Counter

import numpy as np

SF = "/root/testdata/sf0.001"


class TestAnisotropy:
    def test_identity_matches_brute_force(self, spark):
        """The no-join identity equals the literal mean over all
        ordered pairs (on the quantized unit vectors)."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_anisotropy)
        from otd_semantic_framework_spark.plans.queries._shared import _tbl
        U = []
        for r in _tbl(spark, SF, "embeddings") \
                .select("embedding").collect():
            v = np.asarray(r.embedding, dtype=np.float64)
            u = v / math.sqrt(float((v * v).sum()))
            U.append(np.array([
                int(math.floor(abs(x * 1e9) + 0.5))
                * (1 if x >= 0 else -1) for x in u], dtype=object))
        n = len(U)
        S = sum(U)
        norm2 = 0.0
        for pos in range(64):
            norm2 = norm2 + (float(S[pos]) / 1e9) ** 2
        mean_cos = round((norm2 - n) / (n * (n - 1)), 6)
        row = q_sim_anisotropy(spark, SF).collect()[0]
        assert row.n == n
        assert abs(row.mean_pairwise_cos - mean_cos) < 1e-9
        # rogue dimension replay
        absS = [abs(int(x)) for x in S]
        bd = min(range(64), key=lambda i: (-absS[i], i))
        assert row.biased_dim == bd
        s = int(S[bd])
        den = n * 1000
        expect = s // den if s >= 0 else -((-s) // den)
        assert row.biased_dim_mean_ppm == expect

    def test_isotropic_fixture_reads_low(self, spark):
        """Hash-derived embeddings are nearly isotropic: the mean
        pairwise cosine must sit near 0 (|cos| < 0.1), unlike a
        contextual-encoder cone."""
        from otd_semantic_framework_spark.plans.queries.sim import (
            q_sim_anisotropy)
        r = q_sim_anisotropy(spark, SF).collect()[0]
        assert abs(r.mean_pairwise_cos) < 0.1
        assert 0 <= r.biased_dim <= 63


class TestStorageModel:
    def test_matches_python_replay(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_storage_model)
        from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_triples
        triples = [(r.subj, r.pred, r.obj)
                   for r in q_kg_triples(spark, SF).collect()]
        got = {r.column: r
               for r in q_kg_storage_model(spark, SF).collect()}
        for idx, col in ((0, "subj"), (1, "pred"), (2, "obj")):
            vals = [t[idx] for t in triples]
            distinct = set(vals)
            v = len(distinct)
            bits = 1 if v <= 1 else (v - 1).bit_length()
            raw = sum(len(x) for x in vals)
            dictb = sum(len(x) for x in distinct)
            enc = (len(vals) * bits + 7) // 8 + dictb
            r = got[col]
            assert r.n_rows == len(vals)
            assert r.n_distinct == v
            assert r.code_bits == bits
            assert r.raw_bytes == raw
            assert r.dict_bytes == dictb
            assert r.encoded_bytes == enc
            assert r.ratio_ppm == enc * 1000000 // max(raw, 1)

    def test_dictionary_encoding_wins(self, spark):
        """On a low-cardinality KG the model must show compression:
        every column's encoded size is below raw, and pred (3
        distinct values) compresses hardest."""
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_storage_model)
        rows = {r.column: r
                for r in q_kg_storage_model(spark, SF).collect()}
        for r in rows.values():
            assert r.encoded_bytes < r.raw_bytes
        assert rows["pred"].ratio_ppm == min(
            r.ratio_ppm for r in rows.values())
