"""P12b SKOS-subsumption inference (operators/triples.py:
infer_broader_triples) — semantics beyond the DuckDB pairing."""

from __future__ import annotations

from pyspark.sql import functions as F

from otd_semantic_framework_spark.operators.triples import (
    ancestor_expansion, infer_broader_triples)
from otd_semantic_framework_spark.plans.driver_ontology import driver_concepts
from otd_semantic_framework_spark.plans.queries.kg1 import (
    q_kg_inferred_triples)

SF = "/root/testdata/sf0.001"

_ONTO_SCHEMA = "concept_id string, depth int, path array<string>"


def _tiny_onto(spark):
    return spark.createDataFrame([
        ("o:root", 1, ["o:root"]),
        ("o:branch", 2, ["o:root", "o:branch"]),
        ("o:leaf", 3, ["o:root", "o:branch", "o:leaf"]),
    ], _ONTO_SCHEMA)


def _mention(spark, concept_id, score=1.0):
    return spark.createDataFrame(
        [("turn:c-0:0", "mentions", concept_id, "c-0", 0, score)],
        "subj string, pred string, obj string, conv_id string, "
        "turn_idx int, score double")


def test_leaf_mention_infers_both_ancestors_with_decay(spark):
    out = infer_broader_triples(_mention(spark, "o:leaf"), _tiny_onto(spark))
    rows = {r.obj: r for r in out.collect()}
    assert set(rows) == {"o:branch", "o:root"}
    assert rows["o:branch"].score == 0.8     # one level up
    assert rows["o:root"].score == 0.64      # two levels up
    assert all(r.pred == "mentions_broader" for r in rows.values())
    assert all(r.subj == "turn:c-0:0" for r in rows.values())


def test_root_mention_infers_nothing(spark):
    out = infer_broader_triples(_mention(spark, "o:root"), _tiny_onto(spark))
    assert out.count() == 0


def test_max_wins_when_leaf_and_branch_both_mentioned(spark):
    """branch asserted at 0.9 (root gets 0.9*0.8=0.72) and leaf at 1.0
    (root gets 1.0*0.64=0.64) → root inferred once at max 0.72."""
    m = _mention(spark, "o:leaf", 1.0).unionByName(
        _mention(spark, "o:branch", 0.9))
    out = infer_broader_triples(m, _tiny_onto(spark))
    rows = {r.obj: r.score for r in out.collect()}
    assert rows["o:root"] == 0.72
    assert rows["o:branch"] == 0.8  # from the leaf mention only
    assert out.groupBy("subj", "obj").count().filter("count > 1").count() == 0


def test_non_mention_preds_ignored(spark):
    m = _mention(spark, "o:leaf").withColumn("pred", F.lit("uses_tool"))
    assert infer_broader_triples(m, _tiny_onto(spark)).count() == 0


def test_ancestor_expansion_is_strict_and_broadcastable(spark):
    import pandas as pd
    cs = driver_concepts()
    onto = spark.createDataFrame(pd.DataFrame({
        "concept_id": [c.concept_id for c in cs],
        "depth": [c.depth for c in cs],
        "path": [list(c.path) for c in cs],
    }), _ONTO_SCHEMA)
    anc = ancestor_expansion(onto).collect()
    by_concept = {}
    for r in anc:
        assert r.anc_id != r.concept_id  # strict
        by_concept.setdefault(r.concept_id, []).append(r)
    paths = {c.concept_id: c.path for c in cs}
    for cid, rows in by_concept.items():
        assert {r.anc_id for r in rows} == set(paths[cid][:-1])
    # root has no ancestors
    assert "dq:R" not in by_concept


def test_driver_query_inference_is_broadcast_no_extra_shuffle(spark):
    """The inference join must be broadcast (ontology-sized side) —
    'Exchange hashpartitioning' on the mention side for the JOIN itself
    would shuffle 10^12 rows against a 100-row table."""
    plan = q_kg_inferred_triples(spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_inferred_objects_are_real_ancestors_on_corpus(spark):
    paths = {c.concept_id: set(c.path[:-1]) for c in driver_concepts()}
    out = q_kg_inferred_triples(spark, SF)
    for r in out.select("obj").distinct().collect():
        # every inferred object is SOME concept's strict ancestor
        assert any(r.obj in p for p in paths.values())
    # scores are valid decayed link scores
    bad = out.filter((F.col("score") <= 0) | (F.col("score") > 0.8)).count()
    assert bad == 0


def test_pipeline_infer_broader_stage(spark, tmp_path):
    """run_pipeline(infer_broader=True): output graph carries the
    mentions_broader closure of its own asserted mentions; CDS is
    computed from asserted triples only; the stage checkpoints and a
    second run resumes it."""
    from otd_semantic_framework_spark.plans.pipeline import run_pipeline
    from otd_semantic_framework_spark.sources.fixtures import (
        ontology_spark, transcripts_spark_df)
    t = transcripts_spark_df(spark, 20)
    run_dir = str(tmp_path / "run")
    res = run_pipeline(spark, t, run_dir, infer_broader=True)
    asserted = res.triples.filter(F.col("pred") == "mentions")
    inferred = res.triples.filter(F.col("pred") == "mentions_broader")
    assert inferred.count() > 0
    expected = infer_broader_triples(asserted, ontology_spark(spark))
    key = lambda r: (r.subj, r.obj, r.score)
    assert sorted(map(key, inferred.collect())) == \
        sorted(map(key, expected.collect()))
    assert "inferred_triples" in res.metrics
    res2 = run_pipeline(spark, t, run_dir, infer_broader=True)
    assert res2.metrics["inferred_triples"]["resumed"] is True
    assert res2.triples.count() == res.triples.count()


def test_inference_is_incremental_under_snapshot_merges(spark, tmp_path):
    """P12b is per-row monotone (each inferred edge depends on ONE
    asserted edge + the static ontology), so incremental maintenance is
    exact: inferring each batch and merging == inferring the merged
    graph. This is the IVM shape at 10^12 turns — never re-derive the
    closure of the whole corpus."""
    from otd_semantic_framework_spark.sources.storage import Storage
    onto = _tiny_onto(spark)
    b1 = _mention(spark, "o:leaf", 0.6)
    b2 = _mention(spark, "o:branch", 0.9).unionByName(
        _mention(spark, "o:leaf", 1.0))
    inc = Storage(str(tmp_path / "inc"))
    for b in (b1, b2):
        inc.merge_snapshot(spark, "inferred", infer_broader_triples(b, onto))
    incremental = inc.read_snapshot(spark, "inferred")
    full = infer_broader_triples(b1.unionByName(b2), onto)
    key = lambda r: (r.subj, r.pred, r.obj, r.score)
    assert sorted(map(key, incremental.collect())) == \
        sorted(map(key, full.collect()))


def test_inference_is_monotone_in_the_mention_set(spark):
    """Growing the asserted mention set can only GROW the inferred edge
    set, and per-(subj, obj) inferred scores are non-decreasing — the
    property that makes per-batch incremental maintenance sound."""
    import pandas as pd
    cs = [c for c in driver_concepts() if len(c.path) > 1]
    rows = [(f"turn:c-{i % 7}:{i}", "mentions", cs[(i * 5) % len(cs)]
             .concept_id, f"c-{i % 7}", i, round(0.3 + (i % 6) * 0.1, 6))
            for i in range(60)]
    schema = ("subj string, pred string, obj string, conv_id string, "
              "turn_idx int, score double")
    m_small = spark.createDataFrame(rows[:30], schema)
    m_big = spark.createDataFrame(rows, schema)
    onto = spark.createDataFrame(pd.DataFrame({
        "concept_id": [c.concept_id for c in driver_concepts()],
        "depth": [c.depth for c in driver_concepts()],
        "path": [list(c.path) for c in driver_concepts()],
    }), "concept_id string, depth int, path array<string>")
    small = {(r.subj, r.obj): r.score
             for r in infer_broader_triples(m_small, onto).collect()}
    big = {(r.subj, r.obj): r.score
           for r in infer_broader_triples(m_big, onto).collect()}
    assert small  # non-vacuous
    assert set(small) <= set(big)
    for k, v in small.items():
        assert big[k] >= v


def test_streaming_incremental_inference_equals_batch(spark, tmp_path):
    """Streaming growth path for the CLOSURE: conversation-atomic
    micro-batches each extract triples AND infer their broader edges,
    appending both. Because every turn lives in exactly one batch and
    inference is per-row, the drained append equals batch
    extract+infer row-for-row — no re-dedup, nothing recomputed."""
    from otd_semantic_framework_spark.plans.pipeline import (
        build_triples_fast)
    from otd_semantic_framework_spark.sources.fixtures import (
        ontology_spark, transcripts_spark_df)
    t = transcripts_spark_df(spark, 30).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    onto = ontology_spark(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t.repartition(3, "conv_id").write.parquet(src)
    stream = (spark.readStream.schema(t.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    def _extract(batch_df, _batch_id):
        tri = build_triples_fast(spark, batch_df)
        tri.unionByName(infer_broader_triples(tri, onto)) \
           .write.mode("append").parquet(out)

    q = (stream.writeStream.outputMode("append").foreachBatch(_extract)
         .trigger(availableNow=True)
         .option("checkpointLocation", ckpt).start())
    q.awaitTermination()
    spark.catalog.refreshByPath(out)
    streamed = spark.read.parquet(out)
    batch_tri = build_triples_fast(spark, t)
    expected = batch_tri.unionByName(infer_broader_triples(batch_tri, onto))
    key = lambda r: (r.subj, r.pred, r.obj, r.score)
    assert sorted(map(key, streamed.collect())) == \
        sorted(map(key, expected.collect()))
    assert streamed.filter(F.col("pred") == "mentions_broader").count() > 0


def test_search_closure_rank_window_is_bounded_and_results_sane(spark):
    """kg_search_closure keeps the limit-then-rank shape (no
    partitionless window over unbounded input — the repo plan gate also
    walks it) and returns a valid dense ranking whose scores are
    >= the asserted-only contribution for every returned conv."""
    from otd_semantic_framework_spark.plans.queries.kg1 import (
        q_kg_search_closure)
    rows = q_kg_search_closure(spark, SF).collect()
    assert 0 < len(rows) <= 20
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == \
        list(range(1, len(rows) + 1))
    scores = [r.search_score for r in sorted(rows, key=lambda r: r.rank)]
    assert scores == sorted(scores, reverse=True)
    assert all(r.subj_key.startswith("conv:") for r in rows)


def test_branch_rollup_conserves_tag_mass(spark):
    """Every (conv, concept) tag except root-level ones maps to exactly
    one branch, so per-branch ppm masses must sum to the total tag mass
    and n_convs is bounded by the corpus conv count."""
    from otd_semantic_framework_spark.plans.queries._shared import (
        N_CONVS, _branch_map_pdf)
    from otd_semantic_framework_spark.plans.queries.kg1 import (
        q_kg_branch_rollup, q_kg_canonical)
    rolled = q_kg_branch_rollup(spark, SF).collect()
    assert 0 < len(rolled) <= 8
    canon = q_kg_canonical(spark, SF)
    tags = (canon.groupBy("conv_id", "concept_id")
            .agg(F.max("link_score").alias("tag")))
    mapped = set(_branch_map_pdf().concept_id)
    total = (tags.filter(F.col("concept_id").isin(mapped))
             .select(F.sum(F.round(F.col("tag") * 1_000_000, 0)
                           .cast("bigint")).alias("s")).first().s)
    assert sum(r.tag_mass_ppm for r in rolled) == total
    assert all(0 < r.n_convs <= N_CONVS for r in rolled)
