"""Physical-plan audits (SURVEY.md §4): the optimizer must actually pick
the strategies the 100TB design assumes — broadcast hash joins for every
ontology-sized side, pushed filters/pruned columns at the scan, no
cartesian products outside the intended tiny cross joins, no per-row
Python in JVM-expressible stages.
"""

import re

from pyspark.sql import functions as F

from otd_semantic_framework_spark import semantics as S
from otd_semantic_framework_spark.operators.linking import (
    OntologySetup, canonicalize, canonicalize_broadcast,
    link_candidates_broadcast)
from otd_semantic_framework_spark.operators.mentions import (
    detect_mentions_exploded)
from otd_semantic_framework_spark.operators.normalize import normalize_turns
from otd_semantic_framework_spark.operators.triples import (
    dedup_triples, extract_triples)
from otd_semantic_framework_spark.operators.wup import concept_similarity
from otd_semantic_framework_spark.plans.pipeline import build_triples_fast
from otd_semantic_framework_spark.sources.fixtures import ontology_spark


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _opt(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_linking_is_broadcast_join(spark, tiny_df, ontology_pdf):
    gaz = S.build_gazetteer(S.build_ontology())
    mentions = detect_mentions_exploded(normalize_turns(tiny_df), gaz)
    cands = link_candidates_broadcast(mentions,
                                      OntologySetup(ontology_pdf).scores)
    plan = _plan(cands)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_canonicalize_wup_join_is_broadcast(spark, tiny_df, ontology_pdf):
    gaz = S.build_gazetteer(S.build_ontology())
    mentions = detect_mentions_exploded(normalize_turns(tiny_df), gaz)
    cands = link_candidates_broadcast(mentions,
                                      OntologySetup(ontology_pdf).scores)
    canon = canonicalize(cands, concept_similarity(ontology_spark(spark)))
    plan = _plan(canon)
    assert plan.count("BroadcastHashJoin") >= 2  # scores + wup sides
    assert "CartesianProduct" not in plan


def test_fast_path_plan_shape(spark, tiny_df):
    """The fused hot path: JOIN-FREE and AGGREGATION-FREE — canonical
    mapping and per-turn dedup happen inside the single mapInPandas
    stage, so the mention branch is scan → round-robin exchange →
    MapInPandas → project, with nothing wide after the UDF. No
    sort-merge joins, no cartesian, no global HashAggregate."""
    df = build_triples_fast(spark, tiny_df)
    plan = _plan(df)
    assert "Join" not in plan          # canonical map fused into the UDF
    assert "HashAggregate" not in plan  # per-turn dedup fused into the UDF
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan


def test_fast_path_exchange_and_scan_counts(spark, tiny_df, tmp_path):
    """build_triples_fast's docstring, pinned on the EXECUTED (AQE
    final) plan over a parquet source: exactly two Exchanges — the P11
    round-robin respread, sized to one task per core, and the
    replies_to window's conv_id hash — and three parquet scans, one per
    triple rule."""
    p = str(tmp_path / "t.parquet")
    tiny_df.write.parquet(p)
    df = build_triples_fast(spark, spark.read.parquet(p))
    assert len(df.collect()) > 0
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    exchanges = re.findall(r"\bExchange (\w+)", final)
    assert sorted(exchanges) == ["RoundRobinPartitioning", "hashpartitioning"]
    n = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({n})" in final
    assert final.count("FileScan parquet") == 3


def test_canonicalize_broadcast_plan_shape(spark, tiny_df, ontology_pdf):
    """The precomputed canonical link (run_pipeline's fused_linking
    stage): a broadcast join of the mention stream to the canonical
    table, no sort-merge join, codegen spans present (codegen explain
    mode — the AQE root string hides WholeStageCodegen until a plan is
    final)."""
    onto = OntologySetup(ontology_pdf)
    df = canonicalize_broadcast(
        detect_mentions_exploded(normalize_turns(tiny_df), onto.gazetteer),
        onto.canonical)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    assert "WholeStageCodegen" in df._jdf.queryExecution().explainString(mode)


def test_scan_pushdown_filter_and_pruning(spark, tmp_path):
    """Predicate pushdown + column pruning must reach the parquet scan."""
    p = str(tmp_path / "t.parquet")
    spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        F.lit("unused").alias("w"),
    ).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("k") > 3).select("id", "v", "k")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,3)]" in plan
    assert "w" not in plan.split("ReadSchema")[-1]  # column pruned


def test_dedup_is_hash_aggregate_with_partials(spark, tiny_df, ontology_pdf):
    """The P13 dedup (run_pipeline's triples stage) must be HashAggregate
    (NOT SortAggregate — caught live: min(string) aggregates degrade to
    sort-based) and must partial-aggregate map-side (two HashAggregate
    levels around one exchange) — what keeps the shuffle linear in
    distinct keys at 10^12-turn scale. (The fused build_triples_fast
    has no dedup aggregate at all, by design.)"""
    onto = OntologySetup(ontology_pdf)
    canon = canonicalize_broadcast(
        detect_mentions_exploded(normalize_turns(tiny_df), onto.gazetteer),
        onto.canonical)
    plan = _plan(dedup_triples(extract_triples(tiny_df, canon)))
    assert "SortAggregate" not in plan
    assert plan.count("HashAggregate") >= 2


def test_no_python_udf_outside_mention_stage(spark, tiny_df, tmp_path,
                                             ontology_pdf):
    """Everything after mention detection is JVM-side: the canonical link
    + triple rules + dedup must contain no Python evals. (Materialize the
    mention stage to cut lineage, then audit the downstream plan.)"""
    onto = OntologySetup(ontology_pdf)
    p = str(tmp_path / "mentions.parquet")
    detect_mentions_exploded(
        normalize_turns(tiny_df), onto.gazetteer).write.parquet(p)
    mentions = spark.read.parquet(p)
    canon = canonicalize_broadcast(mentions, onto.canonical)
    plan = _plan(canon)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, marker


def test_skew_respread_is_roundrobin(spark, tiny_df):
    """The P11 respread must be a RoundRobinPartitioning exchange (even
    spread), not hash-on-conv_id (which would preserve the hot key)."""
    plan = _plan(build_triples_fast(spark, tiny_df))
    assert "RoundRobinPartitioning" in plan


def test_embedding_near_dup_is_map_only(spark):
    """The broadcast-matmul near-dup must be scan → mapInPandas with no
    shuffle (Exchange) and no join — the pair generation happens inside
    the Arrow batches against the broadcast matrix."""
    from otd_semantic_framework_spark.operators.simsearch import (
        embedding_near_dup_pairs)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_near_dup_pairs(emb, threshold=0.3))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_range_join_is_hash_not_bnl(spark):
    """The interval self-join must plan as a HASH join on the epoch-hour
    equi-conjunct (range predicate as residual) — never a
    broadcast-nested-loop over the full table (VERDICT r1 #6)."""
    from otd_semantic_framework_spark.plans.queries.rel1 import (
        q_rel_range_join)
    plan = _plan(q_rel_range_join(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_near_dup_grid_is_equi_shuffle(spark):
    """The grid self-join scale path must be broadcast-fanout + one
    hash shuffle on pair_key + grouped-map — never a cartesian or
    broadcast-nested-loop, and no driver-side collect (the plan is
    lazy-built here, so any toPandas would have already run)."""
    from otd_semantic_framework_spark.operators.simsearch import (
        embedding_near_dup_pairs)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_near_dup_pairs(emb, threshold=0.3, n_blocks=4))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_ann_bucket_joins_are_equi(spark):
    """LSH and IVF candidate generation must be equi-joins on the
    bucket/cell key — never CartesianProduct / BroadcastNestedLoop."""
    from otd_semantic_framework_spark.operators.simsearch import (
        ann_ivf_topk, ann_lsh_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")))
    c = (emb.filter(F.col("vec_id") >= 3)
         .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")))
    for df in (ann_lsh_topk(q, c, k=5, n_planes=4),
               ann_ivf_topk(q, c, k=5, n_cells=8, n_probe=2)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketing demo (SURVEY §4: 'bucketing for co-located joins'): two
    tables bucketed+sorted on the join key into the same bucket count
    join WITHOUT a shuffle — the physical plan has no Exchange. This is
    the storage layout the production Iceberg tables use
    (bucket(1024, conv_id) / bucket(256, subj), sources/storage.py)."""
    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
    for name, df in (("bkt_a", a), ("bkt_b", b)):
        (df.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
         .option("path", str(tmp_path / name)).saveAsTable(name))
    try:
        # force the merge-join path (these toy tables would otherwise be
        # broadcast); on bucketed inputs it must need NO Exchange
        j = (spark.table("bkt_a").hint("merge")
             .join(spark.table("bkt_b"), "k"))
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert j.count() == 1000
    finally:
        for name in ("bkt_a", "bkt_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_profile_is_single_scan(spark, tmp_path):
    """The column profiler must touch the table ONCE: one parquet scan,
    count-distincts via Expand, no joins."""
    from otd_semantic_framework_spark.operators.profile import (
        profile_columns)
    p = str(tmp_path / "prof.parquet")
    spark.range(500).select(
        F.col("id").cast("double").alias("a"),
        (F.col("id") % 7).cast("double").alias("b")).write.parquet(p)
    df = spark.read.parquet(p)
    plan = _plan(profile_columns(df, ["a", "b"]))
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan
    assert "Join" not in plan


def test_bgp_constant_filter_reaches_scan(spark, tmp_path):
    """A constant in a BGP pattern must become a pushed-down parquet
    filter (obj = const at the scan), and the compiled join tree must
    be cartesian-free."""
    from otd_semantic_framework_spark.operators.graph import bgp_match
    p = str(tmp_path / "trip.parquet")
    spark.createDataFrame(
        [("t1", "mentions", "bus", "c", 0, 1.0),
         ("t1", "replies_to", "t0", "c", 0, 1.0),
         ("t0", "mentions", "rail", "c", 0, 1.0)],
        "subj string, pred string, obj string, conv_id string, "
        "turn_idx int, score double").write.parquet(p)
    t = spark.read.parquet(p)
    plan = _plan(bgp_match(t, [("?t", "mentions", "bus"),
                               ("?t", "replies_to", "?u")]))
    assert "CartesianProduct" not in plan
    assert "EqualTo(obj,bus)" in plan  # pushed to the scan
    assert "EqualTo(pred,mentions)" in plan


# ---------------------------------------------------------------------------
# Repo-wide ban on partitionless WindowExec over unbounded input
# (VERDICT r3 item 1). A Window with an empty partitionSpec serializes
# its whole input through ONE task — acceptable only when the plan
# PROVES the input bounded: a GlobalLimit below it (orderBy+limit =
# TakeOrdered), driver-literal leaves (LocalRelation/OneRowRelation),
# or a grouping-free Aggregate (exactly 1 row). Every queries() entry
# must satisfy this at the optimized-plan level.
# ---------------------------------------------------------------------------

_BOUNDED_LEAVES = {"LocalRelation", "OneRowRelation"}


def _provably_bounded(node) -> bool:
    name = node.nodeName()
    if name == "GlobalLimit" or name in _BOUNDED_LEAVES:
        return True
    if name == "Aggregate" and node.groupingExpressions().size() == 0:
        return True
    n = node.children().size()
    if n == 0:
        return False
    return all(_provably_bounded(node.children().apply(i)) for i in range(n))


def unbounded_partitionless_windows(df) -> list:
    """All partitionless logical Window nodes in df's optimized plan
    whose input is not provably bounded. Empty list == scale-safe."""
    bad = []

    def walk(node):
        if (node.nodeName() == "Window"
                and node.partitionSpec().size() == 0
                and not _provably_bounded(node)):
            bad.append(node.toString().splitlines()[0][:200])
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return bad


def test_no_unbounded_partitionless_window_in_any_query(spark):
    """Walk EVERY queries() plan at sf0.001 — ONE walk, two repo-wide
    scale gates. (1) No query may rank/run a window over the full data
    without a partition key (the three r3 offenders are rewritten;
    this pins the class shut). (2) No CartesianProduct anywhere — the
    non-broadcast cross that shuffles both sides at scale.
    BroadcastNestedLoopJoin is NOT blanket-banned: scalar subqueries
    (1-row broadcasts inside the derived-corpus CTE) and the
    deliberately broadcast-bounded ANN exact paths are legitimate; the
    targeted tests above pin the joins that must be equi/hash."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    failures = {}
    cross_failures = {}
    for name, fn in E.queries().items():
        df = fn(spark, sf)
        bad = unbounded_partitionless_windows(df)
        if bad:
            failures[name] = bad[0]
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            cross_failures[name] = "CartesianProduct"
    assert not failures, f"partitionless unbounded windows: {failures}"
    assert not cross_failures, f"cross-join shapes: {cross_failures}"
