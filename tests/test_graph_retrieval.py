"""Unit tests for the round-3 tail operators: exact-integer PageRank,
concept lift, BM25 retrieval, and the corpus-trained bigram LM — all
against hand-computed expectations on tiny inputs, plus the
partitioning-invariance property the exact-integer designs promise.
"""

import math

import pytest
from pyspark.sql import functions as F

from otd_semantic_framework_spark.operators.graph import (
    PPM, concept_lift, pagerank_exact)
from otd_semantic_framework_spark.operators.curation import (
    bigram_lm_cost, bm25_topk)


def _triples(spark, rows):
    return spark.createDataFrame(
        [(s, "mentions", o, "c", 0, 1.0) for s, o in rows],
        "subj string, pred string, obj string, conv_id string, "
        "turn_idx int, score double")


def _hand_pagerank(edges, iterations):
    nodes = sorted({n for e in edges for n in e})
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    rank = {n: PPM for n in nodes}
    for _ in range(iterations):
        inflow = {n: 0 for n in nodes}
        for s, o in edges:
            inflow[o] += rank[s] // out_deg[s]
        rank = {n: 150000 + (850 * inflow[n]) // 1000 for n in nodes}
    return rank


@pytest.mark.parametrize("iterations", [1, 4])
def test_pagerank_matches_hand_model(spark, iterations):
    # a cycle with a chord, a dangling sink, and a two-source hub
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
             ("c", "d"), ("e", "d"), ("e", "b")]
    got = {r.node: r["rank"] for r in
           pagerank_exact(_triples(spark, edges),
                          iterations=iterations).collect()}
    assert got == _hand_pagerank(edges, iterations)


def test_pagerank_partitioning_invariance(spark):
    edges = [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(40)]
    t = _triples(spark, edges)
    base = sorted((r.node, r["rank"])
                  for r in pagerank_exact(t, iterations=3).collect())
    re13 = sorted((r.node, r["rank"])
                  for r in pagerank_exact(t.repartition(13),
                                          iterations=3).collect())
    assert base == re13  # integer arithmetic: merge order can't matter


def test_concept_lift_hand_counts(spark):
    convs = {"c1": ["x", "y"], "c2": ["x", "y", "z"], "c3": ["x", "z"],
             "c4": ["y"]}
    rows = [(c, k) for c, ks in convs.items() for k in ks]
    df = spark.createDataFrame(rows, "conv_id string, concept_id string")
    got = {(r.concept_a, r.concept_b): (r.n_a, r.n_b, r.n_ab, r.lift_ppm)
           for r in concept_lift(df, min_pair=1).collect()}
    # n_convs=4; x:3 y:3 z:2; xy:2 xz:2 yz:1
    assert got[("x", "y")] == (3, 3, 2, (2 * 4 * PPM) // 9)
    assert got[("x", "z")] == (3, 2, 2, (2 * 4 * PPM) // 6)
    assert got[("y", "z")] == (3, 2, 1, (1 * 4 * PPM) // 6)
    # duplicate mentions inside one conv must not inflate support
    df2 = spark.createDataFrame(rows + [("c1", "x"), ("c1", "y")],
                                "conv_id string, concept_id string")
    got2 = {(r.concept_a, r.concept_b): r.n_ab
            for r in concept_lift(df2, min_pair=1).collect()}
    assert got2[("x", "y")] == 2


def test_bm25_hand_model(spark):
    docs = spark.createDataFrame(
        [(1, "join join scan"), (2, "join filter"), (3, "scan scan scan"),
         (4, "filter")],
        "doc_id long, text string")
    k1, b = 1.2, 0.75
    lens = {1: 3, 2: 2, 3: 3, 4: 1}
    avgdl = sum(lens.values()) / 4.0
    tf = {(1, "join"): 2, (2, "join"): 1, (2, "filter"): 1, (4, "filter"): 1}
    df_ = {"join": 2, "filter": 2}

    def term(doc, tok):
        idf = math.log(1.0 + (4.0 - df_[tok] + 0.5) / (df_[tok] + 0.5))
        t = tf[(doc, tok)]
        s = idf * (t * (k1 + 1.0)) / (
            t + k1 * (1.0 - b + b * lens[doc] / avgdl))
        return int(round(s * 1e6))

    want = {1: (term(1, "join"), 1), 2: (term(2, "join")
                                         + term(2, "filter"), 2),
            4: (term(4, "filter"), 1)}
    out = bm25_topk(docs, ["join", "filter"], k=10).collect()
    got = {r.doc_id: (r.score_ppm, r.n_terms) for r in out}
    assert got == want
    # result is sorted by score desc then doc_id
    scores = [(r.score_ppm, r.doc_id) for r in out]
    assert scores == sorted(scores, key=lambda p: (-p[0], p[1]))


def test_bigram_lm_cost_hand_model(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "c")],
        "doc_id long, text string")
    # bigrams: d1: ab ba ab ; d2: ab bc ; d3 none. V=3
    # c12: ab=3 ba=1 bc=1 ; c1: a=3 b=2 (wait: w1 counts from bigrams)
    c12 = {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    c1 = {"a": 3, "b": 2}
    V = 3.0

    def cost(w1, w2):
        return int(round(-math.log((c12[(w1, w2)] + 1.0)
                                   / (c1[w1] + V)) * 1e6))

    want = {
        1: (3, (cost("a", "b") * 2 + cost("b", "a")) // 3),
        2: (2, (cost("a", "b") + cost("b", "c")) // 2),
    }
    got = {r.doc_id: (r.n_bigrams, r.avg_cost_micro)
           for r in bigram_lm_cost(docs).collect()}
    assert got == want


def test_bigram_lm_partitioning_invariance(spark, tiny_pdf):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tiny_pdf["text"].head(60))],
        "doc_id long, text string")
    k = lambda df: sorted((r.doc_id, r.n_bigrams, r.avg_cost_micro)
                          for r in df.collect())
    assert k(bigram_lm_cost(docs)) == k(bigram_lm_cost(docs.repartition(7)))


def _kg(spark, rows):
    return spark.createDataFrame(
        [(s, p, o, "c", 0, 1.0) for s, p, o in rows],
        "subj string, pred string, obj string, conv_id string, "
        "turn_idx int, score double")


def test_bgp_match_hand_graph(spark):
    from otd_semantic_framework_spark.operators.graph import bgp_match
    t = _kg(spark, [
        ("t1", "mentions", "bus"), ("t1", "uses_tool", "tool:x"),
        ("t2", "mentions", "bus"), ("t2", "mentions", "rail"),
        ("t2", "replies_to", "t1"), ("t3", "replies_to", "t2"),
        ("t3", "mentions", "rail"),
    ])
    got = {(r.t, r.u) for r in bgp_match(t, [
        ("?t", "mentions", "rail"),
        ("?t", "replies_to", "?u"),
        ("?u", "mentions", "bus"),
    ]).collect()}
    assert got == {("t2", "t1"), ("t3", "t2")}
    # variable repeated within one pattern = self-equality filter
    loop = _kg(spark, [("a", "replies_to", "a"), ("a", "replies_to", "b")])
    from otd_semantic_framework_spark.operators.graph import bgp_match as bm
    assert [r.x for r in bm(loop, [("?x", "replies_to", "?x")]).collect()] \
        == ["a"]


def test_bgp_match_rejects_cartesian_and_empty(spark):
    import pytest as _pytest
    from otd_semantic_framework_spark.operators.graph import bgp_match
    t = _kg(spark, [("t1", "mentions", "bus")])
    with _pytest.raises(ValueError):
        bgp_match(t, [])
    with _pytest.raises(ValueError):
        bgp_match(t, [("?a", "mentions", "?b"), ("?c", "mentions", "?d")])


def test_bounded_path_min_depth_on_diamond(spark):
    from otd_semantic_framework_spark.operators.graph import bounded_path
    # diamond a->b->d, a->c->d plus direct a->d: min depth for (a,d) is 1
    t = _kg(spark, [(s, "replies_to", o) for s, o in
                    [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
                     ("a", "d"), ("d", "e")]])
    got = {(r.src, r.dst): r.depth
           for r in bounded_path(t, "replies_to", max_depth=3).collect()}
    assert got[("a", "d")] == 1
    assert got[("a", "e")] == 2
    assert got[("b", "e")] == 2
    assert got[("a", "b")] == 1
    # depth cap respected: chain of 4 hops absent at max_depth=3
    chain = _kg(spark, [(f"n{i}", "replies_to", f"n{i+1}")
                        for i in range(5)])
    got2 = {(r.src, r.dst) for r in
            bounded_path(chain, "replies_to", max_depth=3).collect()}
    assert ("n0", "n3") in got2 and ("n0", "n4") not in got2


def test_bgp_query_optional_and_not_exists(spark):
    from otd_semantic_framework_spark.operators.graph import bgp_query
    t = _kg(spark, [
        ("t1", "mentions", "bus"), ("t1", "uses_tool", "tool:x"),
        ("t2", "mentions", "bus"),
        ("t3", "mentions", "bus"), ("t3", "replies_to", "t2"),
    ])
    got = {(r.t, r.tool) for r in bgp_query(
        t, [("?t", "mentions", "bus")],
        optional=[[("?t", "uses_tool", "?tool")]],
        not_exists=[[("?t", "replies_to", "?u")]]).collect()}
    # t3 excluded by NOT EXISTS; t2 kept with NULL tool via OPTIONAL
    assert got == {("t1", "tool:x"), ("t2", None)}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bgp_query(t, [("?t", "mentions", "bus")],
                  optional=[[("?a", "uses_tool", "?b")]])


@pytest.mark.parametrize("n_batches", [2, 4])
def test_incremental_cds_equals_full(spark, tiny_df, n_batches):
    """IVM invariant: folding the canonical links in as n_batches
    arbitrary appends (split by a turn hash, so conversations span
    batches) yields byte-identical CDS to one full propagation."""
    from otd_semantic_framework_spark.operators.cds import (
        incremental_cds_update, propagate_cds)
    from otd_semantic_framework_spark.operators.linking import (
        OntologySetup, canonicalize_broadcast)
    from otd_semantic_framework_spark.operators.mentions import (
        detect_mentions_exploded)
    from otd_semantic_framework_spark.operators.normalize import (
        normalize_turns)
    from otd_semantic_framework_spark.operators.wup import concept_similarity
    from otd_semantic_framework_spark.sources.fixtures import (
        ontology_pandas, ontology_spark)

    onto = OntologySetup(ontology_pandas())
    canon = canonicalize_broadcast(
        detect_mentions_exploded(normalize_turns(tiny_df), onto.gazetteer),
        onto.canonical).cache()
    sim = concept_similarity(ontology_spark(spark))

    def tags_of(df):
        return (df.groupBy(
            F.concat(F.lit("conv:"), F.col("conv_id")).alias("subj_key"),
            F.col("concept_id"))
            .agg(F.max("link_score").alias("tag_score")))

    part = F.abs(F.xxhash64("conv_id", "turn_idx")) % n_batches
    state = tags_of(canon.filter(part == 0))
    cds = propagate_cds(state, sim)
    for b in range(1, n_batches):
        state, cds = incremental_cds_update(
            cds, state, tags_of(canon.filter(part == b)), sim)
    k = lambda df: sorted((r.subj_key, r.concept_id, round(r.score, 6))
                          for r in df.collect())
    assert k(cds) == k(propagate_cds(tags_of(canon), sim))


def test_negative_samples_properties(spark):
    from otd_semantic_framework_spark.operators.graph import (
        negative_samples)
    t = _kg(spark, [(f"t{i}", "mentions", f"c{i % 5}", ) + ()
                    for i in range(30)])
    out = negative_samples(t, n_neg=3).collect()
    # exactly n_neg rows per distinct edge, negatives never the positive
    assert len(out) == 30 * 3
    assert all(r.obj_neg != r.obj_pos for r in out)
    assert all(r.obj_neg.startswith("c") for r in out)
    # deterministic: second run identical (seedless md5 indexing)
    again = negative_samples(t, n_neg=3).collect()
    key = lambda rows: sorted((r.subj, r.obj_pos, r.neg_idx, r.obj_neg)
                              for r in rows)
    assert key(out) == key(again)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        negative_samples(_kg(spark, [("t", "mentions", "only")]), 1)


def test_quantile_buckets_hand_model(spark):
    from otd_semantic_framework_spark.operators.curation import (
        quantile_buckets)
    df = spark.createDataFrame([(i, float(i)) for i in range(1, 101)],
                               "doc_id long, s double")
    out = {r.doc_id: r.bucket
           for r in quantile_buckets(df, "s", n_buckets=10).collect()}
    # thresholds are interpolated percentiles of 1..100: q_i = 10i + 0.9i/...
    # spot-check the monotone staircase and the extremes
    assert out[1] == 1 and out[100] == 10
    assert all(out[i] <= out[i + 1] for i in range(1, 100))
    assert sorted(set(out.values())) == list(range(1, 11))
    # duplicate-heavy column: assignment is a pure function of the value
    dup = spark.createDataFrame([(i, 5.0) for i in range(50)]
                                + [(99, 9.0)], "doc_id long, s double")
    got = {r.doc_id: r.bucket
           for r in quantile_buckets(dup, "s", n_buckets=4).collect()}
    assert len({got[i] for i in range(50)}) == 1  # all 5.0s in ONE bucket


def test_weighted_sample_properties(spark):
    from otd_semantic_framework_spark.operators.curation import (
        weighted_sample)
    docs = spark.createDataFrame(
        [(i, 1 + (i % 10) * 100) for i in range(200)],
        "doc_id long, w long")
    out = weighted_sample(docs, "w", n=40).collect()
    assert len(out) == 40
    # deterministic re-run
    again = weighted_sample(docs, "w", n=40).collect()
    assert sorted(r.doc_id for r in out) == sorted(r.doc_id for r in again)
    # heavier rows must be overrepresented: mean selected weight well
    # above the population mean (weights 1..901, mean ~451)
    mean_sel = sum(r.weight for r in out) / len(out)
    assert mean_sel > 500, mean_sel
    # keys are sorted ascending in the output
    keys = [r.es_key for r in out]
    assert keys == sorted(keys)
    # non-positive weight rejected
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    bad = spark.createDataFrame([(1, 0)], "doc_id long, w long")
    with _pytest.raises(Exception):
        weighted_sample(bad, "w", n=1).collect()
