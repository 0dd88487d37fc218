"""Late-r4 wave-5 operators: binned two-sample KS drift and RAKE-lite
keyphrase extraction. Both oracle-paired (rel_ks_drift,
text_keyphrase); these tests pin the semantics the hash can't state —
KS separates shifted distributions and vanishes on identical ones, and
phrases are exactly the maximal stopword-free runs."""
from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _mk_events_dir(spark, tmpdir: str, rows: list[tuple]) -> str:
    shutil.rmtree(tmpdir, ignore_errors=True)
    os.makedirs(tmpdir)
    (spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
              " value double, props string")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .write.parquet(f"{tmpdir}/events.parquet"))
    return tmpdir


class TestKsDrift:
    def test_shifted_vs_identical(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_ks_drift)
        rows = []
        eid = 0
        for i in range(200):
            # lo and lo2 draw the same values -> D == 0 between them;
            # hi sits in a disjoint range -> D == 1e6 against both
            for et, v in (("lo", float(i % 50)), ("lo2", float(i % 50)),
                          ("hi", 500.0 + i % 50)):
                rows.append((eid, "2024-01-01 00:00:00", 1, et, v, "{}"))
                eid += 1
        d = _mk_events_dir(spark, "/tmp/w5_ks", rows)
        got = {(r.type_a, r.type_b): r.ks_d_ppm
               for r in q_rel_ks_drift(spark, d).collect()}
        assert got[("lo", "lo2")] == 0
        assert got[("hi", "lo")] == 1_000_000
        assert got[("hi", "lo2")] == 1_000_000

    def test_bounds_and_canonical_pairs(self, spark):
        from otd_semantic_framework_spark.plans.queries.rel1 import (
            q_rel_ks_drift)
        out = q_rel_ks_drift(spark, SF).cache()
        # 5 event types -> C(5,2) = 10 canonical pairs
        assert out.count() == 10
        assert out.where(F.col("type_a") >= F.col("type_b")).count() == 0
        assert out.where((F.col("ks_d_ppm") < 0)
                         | (F.col("ks_d_ppm") > 1_000_000)).count() == 0
        out.unpersist()


class TestKeyphrase:
    def test_hand_built_phrases(self, spark):
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_keyphrase)
        from otd_semantic_framework_spark.plans.queries._shared import (
            _PY_STOPWORDS)
        from tests.test_r4_wave4 import _mk_docs_dir
        d = _mk_docs_dir(
            spark, "/tmp/w5_kp",
            [(1, "deep learning of neural networks. the deep learning",
              "en", "w", 0)])
        out = q_text_keyphrase(spark, d).collect()
        phrases = {r.phrase: r for r in out}
        # stopwords split candidates; punctuation is stripped
        assert "deep learning" in phrases
        assert "neural networks" in phrases
        assert phrases["deep learning"].n_occurrences == 2
        assert phrases["neural networks"].n_words == 2
        # no phrase contains a stopword token
        for p in phrases:
            assert not set(p.split()) & set(_PY_STOPWORDS)
        # RAKE: words co-occurring in longer runs outrank... here both
        # phrases have len 2; 'deep'/'learning' have freq 2 degree 4,
        # 'neural'/'networks' freq 1 degree 2 -> equal wscore 2e6 ->
        # equal phrase score; tie broken by phrase text
        assert phrases["deep learning"].score_ppm \
            == phrases["neural networks"].score_ppm == 4_000_000

    def test_topk_shape_on_corpus(self, spark):
        from otd_semantic_framework_spark.plans.queries._shared import (
            KEYPHRASE_TOP)
        from otd_semantic_framework_spark.plans.queries.text import (
            q_text_keyphrase)
        out = q_text_keyphrase(spark, SF).cache()
        n = out.count()
        assert 0 < n <= KEYPHRASE_TOP
        ranks = sorted(r.rnk for r in out.select("rnk").collect())
        assert ranks == list(range(1, n + 1))
        # scores non-increasing in rank
        rows = sorted(out.collect(), key=lambda r: r.rnk)
        assert all(rows[i].score_ppm >= rows[i + 1].score_ppm
                   for i in range(len(rows) - 1))
        out.unpersist()
