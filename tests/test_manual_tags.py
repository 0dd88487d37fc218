"""Manual-tagging ingestion, merge provenance, and multi-configuration
tagging-graph isolation (VERDICT r1 items 4/5)."""

import pytest
from pyspark.sql import functions as F

from otd_semantic_framework_spark.operators.cds import (
    conv_tags, propagate_cds)
from otd_semantic_framework_spark.operators.manual import (
    ingest_manual_tags, invalid_manual_tags, merge_tag_sources, tag_graph,
    tagged_triples)


@pytest.fixture(scope="module")
def onto(spark):
    return spark.createDataFrame(
        [("c:a",), ("c:b",), ("c:c",)], "concept_id string")


@pytest.fixture(scope="module")
def manual(spark):
    rows = [
        ("conv:1", "c:a", 0.9),
        ("conv:1", "c:a", 0.4),      # dup → max wins
        ("conv:1", "c:zzz", 0.8),    # unknown concept → dropped
        ("conv:2", "c:b", 1.7),      # clipped to 1.0
        ("conv:3", "c:c", -0.2),     # clipped to 0.0
    ]
    return spark.createDataFrame(
        rows, "subj_key string, concept_id string, weight double")


def test_ingest_validates_and_clips(spark, onto, manual):
    got = {(r.subj_key, r.concept_id): r.tag_score
           for r in ingest_manual_tags(manual, onto).collect()}
    assert got == {("conv:1", "c:a"): 0.9,
                   ("conv:2", "c:b"): 1.0,
                   ("conv:3", "c:c"): 0.0}
    bad = invalid_manual_tags(manual, onto).collect()
    assert [(r.subj_key, r.concept_id) for r in bad] == [("conv:1", "c:zzz")]


def test_merge_set_semantics_and_provenance(spark, onto, manual):
    auto = spark.createDataFrame(
        [("conv:1", "c:a", 0.7),     # also manual (0.9) → both, max 0.9
         ("conv:2", "c:c", 0.85)],   # auto only
        "subj_key string, concept_id string, tag_score double")
    merged = {(r.subj_key, r.concept_id): (r.tag_score, r.sources)
              for r in merge_tag_sources(
                  auto, ingest_manual_tags(manual, onto)).collect()}
    assert merged[("conv:1", "c:a")] == (0.9, "auto+manual")
    assert merged[("conv:2", "c:c")] == (0.85, "auto")
    assert merged[("conv:2", "c:b")] == (1.0, "manual")
    assert merged[("conv:3", "c:c")] == (0.0, "manual")


def test_tagged_triples_shape(spark, onto, manual):
    auto = spark.createDataFrame(
        [("conv:1", "c:a", 0.7)],
        "subj_key string, concept_id string, tag_score double")
    t = tagged_triples(merge_tag_sources(
        auto, ingest_manual_tags(manual, onto)))
    row = t.filter(F.col("subj") == "conv:1").filter(
        F.col("obj") == "c:a").first()
    assert row.pred == "tagged"
    assert row.score == 0.9
    assert row.provenance.sources == "auto+manual"
    assert row.provenance.weight == 0.9


def test_manual_union_feeds_cds(spark, onto):
    """cds_scores(manual_tags=...) == propagation over the explicit
    manual∪auto union (the oracle formulation)."""
    from otd_semantic_framework_spark.operators.cds import cds_scores
    triples = spark.createDataFrame(
        [("turn:x:0", "mentions", "c:a", "x", 0, 0.9)],
        "subj string, pred string, obj string, conv_id string, "
        "turn_idx int, score double")
    manual = spark.createDataFrame(
        [("conv:x", "c:b", 1.0), ("conv:y", "c:c", 0.95)],
        "subj_key string, concept_id string, tag_score double")
    sim = spark.createDataFrame(
        [("c:a", "c:a", 1.0), ("c:b", "c:b", 1.0), ("c:c", "c:c", 1.0),
         ("c:b", "c:a", 0.9), ("c:c", "c:a", 0.85)],
        "concept_a string, concept_b string, wup double")
    got = {(r.subj_key, r.concept_id): r.score
           for r in cds_scores(triples, sim, threshold=0.8,
                               manual_tags=manual).collect()}
    # conv:x: auto c:a(0.9) → cds a=0.9; manual c:b(1.0) → b=1.0, a=0.9
    assert got[("conv:x", "c:a")] == 0.9
    assert got[("conv:x", "c:b")] == 1.0
    # conv:y exists only via manual tags
    assert got[("conv:y", "c:c")] == 0.95
    assert got[("conv:y", "c:a")] == pytest.approx(0.8075)


def test_config_graphs_do_not_bleed(spark):
    """CDS of a config inside a multi-config graph must equal the CDS of
    that config propagated standalone (anti-join empty both ways)."""
    a = spark.createDataFrame(
        [("conv:1", "c:a", 0.9), ("conv:2", "c:b", 0.95)],
        "subj_key string, concept_id string, tag_score double")
    b = spark.createDataFrame(
        [("conv:1", "c:b", 1.0)],
        "subj_key string, concept_id string, tag_score double")
    sim = spark.createDataFrame(
        [("c:a", "c:a", 1.0), ("c:b", "c:b", 1.0), ("c:a", "c:b", 0.9),
         ("c:b", "c:a", 0.9)],
        "concept_a string, concept_b string, wup double")
    graph = tag_graph({"alpha": a, "beta": b})
    combined = propagate_cds(graph, sim, threshold=0.5)
    assert combined.columns == ["config_id", "subj_key", "concept_id", "score"]
    for name, tags in (("alpha", a), ("beta", b)):
        solo = propagate_cds(tags, sim, threshold=0.5).withColumn(
            "config_id", F.lit(name)).select(
            "config_id", "subj_key", "concept_id", "score")
        part = combined.filter(F.col("config_id") == name)
        assert part.exceptAll(solo).count() == 0
        assert solo.exceptAll(part).count() == 0


def test_pipeline_accepts_manual_tags(spark, tiny_df, tmp_path):
    """run_pipeline(manual_tags=...) must feed CDS from the union: the
    manual-only subject appears in CDS, autotag CDS rows are preserved,
    and the manual stage keys its own checkpoint fingerprint."""
    from otd_semantic_framework_spark.plans.pipeline import run_pipeline
    base = run_pipeline(spark, tiny_df, str(tmp_path / "base"))
    manual = spark.createDataFrame(
        [("conv:manual-only", base.cds.first().concept_id, 1.0)],
        "subj_key string, concept_id string, tag_score double")
    merged = run_pipeline(spark, tiny_df, str(tmp_path / "merged"),
                          manual_tags=manual)
    assert merged.cds.filter(
        F.col("subj_key") == "conv:manual-only").count() > 0
    base_rows = {tuple(r) for r in base.cds.collect()}
    merged_auto = {tuple(r) for r in merged.cds.filter(
        F.col("subj_key") != "conv:manual-only").collect()}
    # autotag subjects keep at-least-their-auto scores (manual can only
    # raise a tag, never remove a CDS row)
    assert {(s, c) for s, c, _ in base_rows} <= {
        (s, c) for s, c, _ in merged_auto}


def test_pipeline_digests_a_large_manual_table(spark, tiny_df, tmp_path,
                                              ontology_pdf):
    """The checkpoint digest of the manual tags must not overflow: a
    long sum of 1,000 row hashes does under ANSI mode."""
    from otd_semantic_framework_spark.plans.pipeline import run_pipeline
    manual = spark.range(1000).select(
        F.concat(F.lit("conv:manual-"), F.col("id").cast("string"))
        .alias("subj_key"),
        F.lit(ontology_pdf["concept_id"][0]).alias("concept_id"),
        F.lit(1.0).alias("tag_score"))
    res = run_pipeline(spark, tiny_df, str(tmp_path / "run"),
                       fused_linking=True, manual_tags=manual)
    assert (res.cds.filter(F.col("subj_key").startswith("conv:manual-"))
            .select("subj_key").distinct().count()) == 1000


def test_manual_edge_cases(spark, onto):
    """Empty curated input → empty validated output (no crash); an
    empty tag_graph is an explicit error; merging with an empty side
    passes the other side through with its own provenance."""
    empty = spark.createDataFrame(
        [], "subj_key string, concept_id string, weight double")
    assert ingest_manual_tags(empty, onto).count() == 0
    with pytest.raises(ValueError, match="at least one configuration"):
        tag_graph({})
    auto = spark.createDataFrame(
        [("conv:1", "c:a", 0.7)],
        "subj_key string, concept_id string, tag_score double")
    merged = merge_tag_sources(
        auto, ingest_manual_tags(empty, onto)).collect()
    assert [(r.subj_key, r.concept_id, r.tag_score, r.sources)
            for r in merged] == [("conv:1", "c:a", 0.7, "auto")]


def test_conv_tags_matches_cds_first_stage(spark):
    triples = spark.createDataFrame(
        [("turn:x:0", "mentions", "c:a", "x", 0, 0.7),
         ("turn:x:1", "mentions", "c:a", "x", 1, 0.9),
         ("turn:x:1", "uses_tool", "tool:t", "x", 1, 1.0)],
        "subj string, pred string, obj string, conv_id string, "
        "turn_idx int, score double")
    got = {(r.subj_key, r.concept_id): r.tag_score
           for r in conv_tags(triples).collect()}
    assert got == {("conv:x", "c:a"): 0.9}
