"""Unit tests for operators/agentstats.py (tool transitions/latency,
SCD2 history, triangle counting) and the hashed quality classifier."""

from __future__ import annotations

import datetime as dt

from otd_semantic_framework_spark.operators.agentstats import (
    scd2_history, tool_latency, tool_transitions, triangle_count)
from otd_semantic_framework_spark.operators.textstats import (
    hashed_quality_classifier)


def _transcripts(spark):
    rows = [
        # conv A: tool1 -> tool2 -> tool1 with assistant turns between
        ("A", 0, "user", None, 100),
        ("A", 1, "tool", "tool1", 107),
        ("A", 2, "assistant", None, 110),
        ("A", 3, "tool", "tool2", 125),
        ("A", 4, "tool", "tool1", 131),
        # conv B: tool1 -> tool2 (again) — n_convs for (1->2) becomes 2
        ("B", 0, "tool", "tool1", 200),
        ("B", 1, "tool", "tool2", 260),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, "
              "ts_s long")


def test_tool_transitions(spark):
    got = {(r.prev_tool, r.tool): (r.n_pairs, r.n_convs)
           for r in tool_transitions(_transcripts(spark)).collect()}
    assert got == {("tool1", "tool2"): (2, 2),
                   ("tool2", "tool1"): (1, 1)}


def test_tool_latency(spark):
    got = {r.tool: r for r in tool_latency(_transcripts(spark)).collect()}
    # tool1: conv A turn1 (107-100=7), conv A turn4 (131-125=6); conv B
    # turn0 has no predecessor -> excluded. tool2: A (125-110=15), B (60).
    assert got["tool1"].n_calls == 2
    assert got["tool1"].min_lat_s == 6
    assert got["tool1"].max_lat_s == 7
    assert got["tool1"].avg_lat_s == 6.5
    assert got["tool2"].n_calls == 2
    assert got["tool2"].avg_lat_s == 37.5


def test_scd2_history(spark):
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        # user 1: a a b a  -> versions a, b, a
        (10, t0, 1, "a"), (11, t0 + dt.timedelta(seconds=10), 1, "a"),
        (12, t0 + dt.timedelta(seconds=20), 1, "b"),
        (13, t0 + dt.timedelta(seconds=30), 1, "a"),
        # user 2: single row -> one current version
        (20, t0, 2, "x"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    out = scd2_history(ev, "user_id", "event_type", "ts", "event_id")
    rows = sorted(out.collect(), key=lambda r: (r.user_id, r.version))
    u1 = [r for r in rows if r.user_id == 1]
    assert [r.event_type for r in u1] == ["a", "b", "a"]
    # half-open contiguity: eff_to of version k == eff_from of k+1
    assert u1[0].eff_to_us == u1[1].eff_from_us
    assert u1[1].eff_to_us == u1[2].eff_from_us
    assert [r.is_current for r in u1] == [0, 0, 1]
    assert u1[2].eff_to_us is None
    u2 = [r for r in rows if r.user_id == 2]
    assert len(u2) == 1 and u2[0].is_current == 1 and u2[0].version == 1


def test_scd2_tiebreak_deterministic(spark):
    # two changes at the SAME timestamp: event_id must break the tie
    t0 = dt.datetime(2025, 1, 1)
    ev = spark.createDataFrame(
        [(1, t0, 1, "a"), (2, t0, 1, "b"), (3, t0, 1, "c")],
        "event_id long, ts timestamp, user_id long, event_type string")
    out = sorted(scd2_history(ev, "user_id", "event_type", "ts", "event_id")
                 .collect(), key=lambda r: r.version)
    assert [r.event_type for r in out] == ["a", "b", "c"]


def test_pit_join_exactly_one_version_per_event(spark):
    from otd_semantic_framework_spark.plans.queries.rel1 import q_rel_pit_join
    sf = "/root/testdata/sf0.001"
    out = q_rel_pit_join(spark, sf)
    n_events = spark.read.parquet(f"{sf}/events.parquet").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events
    # the version valid at an event's ts can never start after it
    assert out.filter(out.ts_us < out.eff_from_us).count() == 0


def test_triangle_count_k4(spark):
    # complete graph on 4 vertices: C(3,2)=3 triangles per vertex,
    # 4 triangles total -> 12 corner participations. Feed edges in mixed
    # orientation with duplicates to exercise canonicalization.
    vs = ["v1", "v2", "v3", "v4"]
    edges = [(a, b) for i, a in enumerate(vs) for b in vs[i + 1:]]
    edges += [(b, a) for a, b in edges[:3]]  # reversed dups
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.concept_id: r.n_triangles for r in triangle_count(df).collect()}
    assert got == {v: 3 for v in vs}


def test_triangle_count_no_triangle(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string")
    assert triangle_count(df).count() == 0


def test_hashed_quality_classifier(spark):
    docs = spark.createDataFrame(
        [(1, "hello world hello"), (2, ""), (3, None), (4, "one")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in hashed_quality_classifier(docs).collect()}
    assert got[1].n_tokens == 3
    # empty/NULL text: zero tokens, logit 0 -> prob 0.5 -> keep
    for d in (2, 3):
        assert got[d].n_tokens == 0
        assert got[d].quality_logit == 0.0
        assert got[d].quality_prob == 0.5
        assert got[d].keep == 1
    for r in got.values():
        assert 0.0 < r.quality_prob < 1.0 or r.quality_prob in (0.5,)
        assert r.keep == int(r.quality_prob >= 0.5)
        assert -1.0 <= r.quality_logit <= 1.0  # weights are in [-1, 1]


def test_hashed_quality_classifier_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma") for i in range(20)],
        "doc_id long, text string")
    a = {r.doc_id: r.quality_logit
         for r in hashed_quality_classifier(docs).collect()}
    b = {r.doc_id: r.quality_logit
         for r in hashed_quality_classifier(docs.repartition(7)).collect()}
    assert a == b
