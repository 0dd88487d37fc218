"""Wave-16 operators: count-min sketch frequency estimation and
recency-decayed CDS. Both oracle-paired; these tests pin the
semantics the hash can't state — CMS never undercounts and its
estimate equals the true min over hand-recomputed bucket counters;
decay never raises a score, equals the raw score on the last turn,
and is monotone in recency."""
from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _bucket(i: int, key: str, width: int) -> int:
    h = hashlib.md5(f"cms{i}:{key}".encode()).hexdigest()
    return (int(h[0], 16) * 16 + int(h[1], 16)) % width


class TestCmsTokens:
    def test_never_undercounts_and_exact_total_preserved(self, spark):
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_cms_tokens)
        rows = q_stats_cms_tokens(spark, SF).collect()
        assert rows
        assert all(r.overestimate >= 0 for r in rows)
        assert all(r.est_n == r.exact_n + r.overestimate for r in rows)

    def test_estimate_is_min_over_recomputed_buckets(self, spark):
        """Rebuild the 4×64 counter table in Python from the exact
        per-token counts and check every estimate."""
        from otd_semantic_framework_spark.operators.sketch import (
            CMS_DEPTH, CMS_WIDTH)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_cms_tokens)
        rows = q_stats_cms_tokens(spark, SF).collect()
        counters: dict[tuple[int, int], int] = {}
        for r in rows:
            for i in range(CMS_DEPTH):
                b = _bucket(i, r.tok, CMS_WIDTH)
                counters[(i, b)] = counters.get((i, b), 0) + r.exact_n
        for r in rows:
            est = min(counters[(i, _bucket(i, r.tok, CMS_WIDTH))]
                      for i in range(CMS_DEPTH))
            assert r.est_n == est, r.tok

    def test_bucket_collisions_actually_occur(self, spark):
        """With a ~30-token vocabulary over 64 buckets at least one
        counter ROW must host a bucket collision (birthday bound), or
        the corpus isn't exercising the collision path. A collision
        surviving to the final estimate is NOT required — the min over
        4 independent rows exists precisely to suppress it."""
        from otd_semantic_framework_spark.operators.sketch import (
            CMS_DEPTH, CMS_WIDTH)
        from otd_semantic_framework_spark.plans.queries.stats import (
            q_stats_cms_tokens)
        toks = [r.tok for r in q_stats_cms_tokens(spark, SF).collect()]
        collided = False
        for i in range(CMS_DEPTH):
            buckets = [_bucket(i, t, CMS_WIDTH) for t in toks]
            collided = collided or len(set(buckets)) < len(buckets)
        assert collided


class TestDecayCds:
    def test_decay_bounded_by_raw_and_positive(self, spark):
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_decay_cds)
        rows = q_kg_decay_cds(spark, SF).collect()
        assert rows
        assert all(0 <= r.decayed_ppm <= r.raw_ppm for r in rows)

    def test_last_turn_mention_keeps_full_score(self, spark):
        """A concept whose best mention sits ON the conversation's last
        turn decays by 1e6 DIV 1 = identity: decayed == raw. Verified
        against the canonical table directly."""
        from otd_semantic_framework_spark.plans.queries.kg1 import (
            q_kg_canonical)
        from otd_semantic_framework_spark.plans.queries.kg2 import (
            q_kg_decay_cds)
        canon = q_kg_canonical(spark, SF)
        last = canon.groupBy("conv_id").agg(
            F.max("turn_idx").alias("last_turn"))
        on_last = (canon.join(last, "conv_id")
                   .filter(F.col("turn_idx") == F.col("last_turn"))
                   .groupBy("conv_id", "concept_id")
                   .agg(F.expr(
                       "max(CAST(floor(link_score * 1000000 + 0.5)"
                       " AS BIGINT))").alias("last_ppm")))
        out = q_kg_decay_cds(spark, SF).withColumn(
            "conv_id", F.expr("substring(subj_key, 6)"))
        j = out.join(on_last, ["conv_id", "concept_id"]).collect()
        assert j
        for r in j:
            assert r.decayed_ppm >= r.last_ppm, (r.conv_id, r.concept_id)

    def test_decay_weights_are_harmonic(self, spark):
        """Spot-check the weight table: age 0 → 1e6, age 1 → 5e5,
        age 3 → 25e4 — integer division, no floats."""
        for age, w in [(0, 1_000_000), (1, 500_000), (3, 250_000),
                       (6, 142_857)]:
            assert 1_000_000 // (1 + age) == w
