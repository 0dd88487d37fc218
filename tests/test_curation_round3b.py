"""Tests for assign_shards, source_filter, and the streaming stateful
dedup query (round 3, second wave)."""

from __future__ import annotations

from pyspark.sql import functions as F

from otd_semantic_framework_spark.operators.curation import (
    assign_shards, source_filter)


def _docs(spark):
    rows = [(i, f"text {i}", f"src{i % 3}", 100 + (i % 3) * 200)
            for i in range(60)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long")


def test_assign_shards_partition_invariant(spark):
    d = _docs(spark)
    a = {r.doc_id: (r.shard, r.order_key)
         for r in assign_shards(d).collect()}
    b = {r.doc_id: (r.shard, r.order_key)
         for r in assign_shards(d.repartition(7)).collect()}
    assert a == b
    assert len(a) == 60
    assert all(0 <= s < 16 for s, _ in a.values())
    # every doc assigned, order_key is an 8-hex-char string
    assert all(len(k) == 8 for _, k in a.values())


def test_assign_shards_covers_shards(spark):
    # with 600 docs all 16 shards should be populated (md5 is uniform)
    d = spark.createDataFrame([(i,) for i in range(600)], "doc_id long")
    shards = {r.shard for r in assign_shards(d).collect()}
    assert shards == set(range(16))


def test_source_filter_relative_gate(spark):
    # src0 mean=100, src1 mean=300, src2 mean=500; corpus mean=300 ->
    # keep src1 (== mean) and src2, drop src0
    out = source_filter(_docs(spark))
    kept = {r.source for r in out.collect()}
    assert kept == {"src1", "src2"}
    assert out.count() == 40


def test_source_filter_absolute_and_blocklist(spark):
    out = source_filter(_docs(spark), min_mean_chars=250.0,
                        blocklist=("src2",))
    kept = {r.source for r in out.collect()}
    assert kept == {"src1"}
    scores = {r.source_score for r in out.collect()}
    assert scores == {300.0}


def test_source_filter_annotations(spark):
    out = {r.doc_id: r for r in source_filter(_docs(spark)).collect()}
    for r in out.values():
        assert r.source_docs == 20
        assert r.source_score in (300.0, 500.0)


def test_stream_dedup_matches_batch(spark, tmp_path):
    # the paired query stages its own files; here assert the streaming
    # result equals batch DISTINCT on a corpus with real duplicates
    import pandas as pd
    pdf = pd.DataFrame({
        "doc_id": range(40),
        "text": [f"dup-{i % 10}" for i in range(40)],
        "lang": ["en"] * 40, "source": ["s"] * 40,
        "n_chars": [5] * 40,
    })
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    spark.createDataFrame(pdf).write.parquet(str(sf_dir / "documents.parquet"))
    from otd_semantic_framework_spark.plans.queries.stream import (
        q_stream_dedup)
    got = q_stream_dedup(spark, str(sf_dir))
    batch = (spark.read.parquet(str(sf_dir / "documents.parquet"))
             .select(F.md5(F.coalesce("text", F.lit(""))).alias("text_hash"))
             .distinct())
    assert got.count() == 10
    assert {r.text_hash for r in got.collect()} \
        == {r.text_hash for r in batch.collect()}


def test_interleave_domains_round_robin(spark):
    """With n_shards=1 the sharded implementation degenerates to the
    exact global round-robin spec — pin that property directly."""
    from otd_semantic_framework_spark.operators.curation import (
        interleave_domains)
    rows = [(i, f"t{i}", f"d{i % 3}") for i in range(12)]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = sorted(interleave_domains(d, "source", n_shards=1).collect(),
                 key=lambda r: r.global_pos)
    # global positions are a 1..N permutation
    assert [r.global_pos for r in out] == list(range(1, 13))
    # round-robin: within any window of |domains| consecutive rows at the
    # same pos_in_domain, all domains are distinct
    for i in range(0, 12, 3):
        block = out[i:i + 3]
        assert len({r.domain for r in block}) == 3
        assert len({r.pos_in_domain for r in block}) == 1
    # deterministic under repartition
    again = sorted(
        interleave_domains(d.repartition(5), "source", n_shards=1).collect(),
        key=lambda r: r.global_pos)
    assert [(r.doc_id, r.global_pos) for r in out] \
        == [(r.doc_id, r.global_pos) for r in again]


def test_interleave_sharded_order_matches_global_spec(spark):
    """VERDICT r3 item 3: the distributed shard-major order (per-shard
    windows + broadcast offsets — no global sort in the plan) must equal
    the declarative global spec 'sort by (shard, pos_in_domain, domain,
    doc_id)' computed single-threaded on the driver."""
    import hashlib

    from otd_semantic_framework_spark.operators.curation import (
        interleave_domains)
    rows = [(i, f"text-{i % 7}", f"d{i % 4}") for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = interleave_domains(d, "source", n_shards=8).collect()
    # dense total order
    assert sorted(r.global_pos for r in out) == list(range(1, 201))

    # driver-side replay of the spec
    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    recs = []
    for i, text, dom in rows:
        shard = int(md5(str(i))[:8], 16) % 8
        k = md5(f"{i}:{text}")
        recs.append((shard, dom, k, i))
    pos = {}
    by_sd = {}
    for shard, dom, k, i in sorted(recs, key=lambda r: (r[0], r[1], r[2], r[3])):
        by_sd.setdefault((shard, dom), 0)
        by_sd[(shard, dom)] += 1
        pos[i] = (shard, by_sd[(shard, dom)], dom)
    order = sorted(pos, key=lambda i: (pos[i][0], pos[i][1], pos[i][2], i))
    expect = {i: gp for gp, i in enumerate(order, start=1)}
    got = {r.doc_id: r.global_pos for r in out}
    assert got == expect
    # within every shard, consecutive rows rotate domains whenever the
    # remaining domains allow it (the schedule is shard-locally
    # round-robin)
    by_shard = {}
    for r in sorted(out, key=lambda r: r.global_pos):
        by_shard.setdefault(r.shard, []).append(r)
    for shard_rows in by_shard.values():
        for a, b in zip(shard_rows, shard_rows[1:]):
            assert (a.pos_in_domain, a.domain) < (b.pos_in_domain, b.domain)
