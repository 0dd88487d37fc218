"""Round-4 query additions: batch multi-query search and N-Triples
export — invariants beyond the DuckDB pairing."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from otd_semantic_framework_spark.plans.queries._shared import (
    BATCH_SEARCH_QUERIES, SEARCH_QUERY)
from otd_semantic_framework_spark.plans.queries.kg1 import (
    q_kg_batch_search, q_kg_nt_export, q_kg_search, q_kg_triples)

SF = "/root/testdata/sf0.001"


def test_batch_search_query0_matches_single_search(spark):
    """Query 0 of the batch IS the kg_search query string, so the
    batch's per-query top-10 must equal the single-query top-20's first
    ten rows — one pass over CDS serving N queries loses nothing."""
    assert BATCH_SEARCH_QUERIES[0] == SEARCH_QUERY
    batch = {(r.subj_key, r.rank, r.search_score)
             for r in q_kg_batch_search(spark, SF)
             .filter(F.col("query_id") == 0).collect()}
    single = {(r.subj_key, r.rank, r.search_score)
              for r in q_kg_search(spark, SF)
              .filter(F.col("rank") <= 10).collect()}
    assert batch == single


def test_batch_search_every_query_served(spark):
    rows = q_kg_batch_search(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    # every batch query matched concepts in the corpus and ranked 1..k
    assert set(by_q) == set(range(len(BATCH_SEARCH_QUERIES)))
    for qid, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= 10


_NT_LINE = re.compile(
    r'^<[^ >]+> <[^ >]+> (<[^ >]+>|"(\\.|[^"\\])*") \.$')


def test_nt_export_wellformed_and_complete(spark):
    """Every triple becomes exactly one syntactically valid N-Triples
    line; on this corpus every object is prefixed (concept/tool/turn)
    so all objects render as percent-encoded IRIs."""
    triples = q_kg_triples(spark, SF)
    lines = q_kg_nt_export(spark, SF).collect()
    assert len(lines) == triples.count()
    for r in lines[:2000]:
        assert _NT_LINE.match(r.line), r.line
        assert '"' not in r.line  # all-IRI corpus


def test_nt_export_literal_escaping(spark):
    """The literal branch (non-prefixed objects) quotes and escapes
    backslashes and double quotes."""
    from otd_semantic_framework_spark.sources.rdf import format_ntriples
    t = spark.createDataFrame(
        [("turn:c:1", "says", 'he said "hi" \\ bye'),
         ("turn:c:1", "mentions", "dq:L01")],
        "subj string, pred string, obj string")
    lines = sorted(r.line for r in format_ntriples(t).collect())
    assert lines[0] == (
        '<http://example.org/kg/turn%3Ac%3A1> '
        '<http://example.org/kg/mentions> '
        '<http://example.org/kg/dq%3AL01> .')
    assert lines[1] == (
        '<http://example.org/kg/turn%3Ac%3A1> '
        '<http://example.org/kg/says> '
        '"he said \\"hi\\" \\\\ bye" .')
    for li in lines:
        assert _NT_LINE.match(li), li


# ---------------------------------------------------------------------------
# Multi-vector late interaction (MaxSim)
# ---------------------------------------------------------------------------

def test_token_slices_reassemble(spark):
    """Concatenating the token slices reproduces the original vector —
    the split is lossless and ordered, so MaxSim sees every dimension
    exactly once."""
    from otd_semantic_framework_spark.operators.simsearch import (
        quantize_embeddings, token_slices)
    e = spark.read.parquet(SF + "/embeddings.parquet").limit(50)
    qz = quantize_embeddings(e)
    sliced = token_slices(qz, n_tokens=4)
    bad = (sliced.join(quantize_embeddings(e), "vec_id")
           .filter(F.flatten("toks") != F.col("qvec")).count())
    assert bad == 0


def test_maxsim_matches_numpy_bruteforce(spark):
    """MaxSim scores are exact integers: the JVM HOF expression must
    equal a numpy sum-of-max-of-dots replay bit for bit."""
    import numpy as np
    from otd_semantic_framework_spark.operators.simsearch import (
        maxsim_topk, quantize_embeddings, token_slices)
    e = spark.read.parquet(SF + "/embeddings.parquet").limit(40)
    qz = token_slices(quantize_embeddings(e), n_tokens=4)
    q = (qz.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("qid"), "toks"))
    c = (qz.filter(F.col("vec_id") >= 3)
         .select(F.col("vec_id").alias("cid"), "toks"))
    got = {(r.qid, r.cid): r.maxsim
           for r in maxsim_topk(q, c, k=1000).collect()}
    toks = {r.vec_id: np.array(r.toks, dtype=np.int64)
            for r in qz.collect()}
    for (qid, cid), score in got.items():
        dots = toks[qid] @ toks[cid].T          # (Tq, Tc) token dots
        assert score == int(dots.max(axis=1).sum()), (qid, cid)


def test_maxsim_plan_is_jvm_only(spark):
    """The scoring expression is higher-order functions, not Python:
    the physical plan must contain no Python evaluation node and must
    broadcast the candidate side."""
    from otd_semantic_framework_spark.plans.queries.sim import (
        q_sim_maxsim_topk)
    plan = (q_sim_maxsim_topk(spark, SF)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# round-4 continuation: clustering coefficient, semantic dedup, funnel,
# concept drift — invariants beyond the DuckDB pairing.
# ---------------------------------------------------------------------------

def test_clustering_coefficient_bounds_and_triangle_consistency(spark):
    """cc is a ratio: 0 <= cc_ppm <= 1e6; degree-1 vertices pin to 0;
    a vertex with triangles must have degree >= 2; and the triangle
    column must agree with q_kg_triangles on every shared vertex."""
    from otd_semantic_framework_spark.plans.queries.kg1 import (
        q_kg_clustering, q_kg_triangles)
    cc = {r.concept_id: r for r in q_kg_clustering(spark, SF).collect()}
    assert cc, "empty clustering output"
    for r in cc.values():
        assert 0 <= r.cc_ppm <= 1_000_000, r
        if r.degree < 2:
            assert r.cc_ppm == 0 and r.n_triangles == 0
        if r.n_triangles > 0:
            assert r.degree >= 2
            expect = (2 * r.n_triangles * 1_000_000) // (
                r.degree * (r.degree - 1))
            assert r.cc_ppm == expect
    tri = {r.concept_id: r.n_triangles
           for r in q_kg_triangles(spark, SF).collect()}
    for v, n in tri.items():
        assert cc[v].n_triangles == n
    # the corpus must exercise both branches: some closed triangles and
    # some open (cc strictly between 0 and 1e6 somewhere, or a 0 AND a
    # nonzero cc) — otherwise the metric is inert on this fixture
    vals = {r.cc_ppm for r in cc.values()}
    assert any(v > 0 for v in vals) and any(v < 1_000_000 for v in vals)


def test_clustering_complete_graph_is_all_ones(spark):
    """K4 has cc = 1 for every vertex (3 triangles each, degree 3)."""
    from otd_semantic_framework_spark.operators.graph import (
        clustering_coefficient)
    edges = spark.createDataFrame(
        [(a, b) for a in "abcd" for b in "abcd" if a < b],
        "src string, dst string")
    out = {r.concept_id: r for r in clustering_coefficient(edges).collect()}
    assert set(out) == set("abcd")
    for r in out.values():
        assert (r.degree, r.n_triangles, r.cc_ppm) == (3, 3, 1_000_000)


def test_semantic_dedup_partitions_the_tagged_turns(spark):
    """Cluster sizes sum to the number of tagged turns; keepers are
    member units; every member of a cluster shares the exact concept
    set (spot-check the largest cluster)."""
    from otd_semantic_framework_spark.plans.queries._shared import _mentions_df
    from otd_semantic_framework_spark.plans.queries.dedup import (
        q_dedup_semantic)
    tags = (_mentions_df(spark, SF)
            .select("conv_id", "turn_idx", "concept_id").distinct())
    n_units = tags.select("conv_id", "turn_idx").distinct().count()
    clusters = q_dedup_semantic(spark, SF).collect()
    assert sum(r.n_units for r in clusters) == n_units
    big = max(clusters, key=lambda r: r.n_units)
    member_sets = (
        tags.groupBy("conv_id", "turn_idx")
        .agg(F.concat_ws(",", F.sort_array(F.collect_set("concept_id")))
             .alias("fp"))
        .filter(F.col("fp") == big.fingerprint))
    assert member_sets.count() == big.n_units
    assert big.set_size == len(big.fingerprint.split(","))


def test_funnel_is_ordered_and_monotone(spark):
    """Counts must be monotone non-increasing down the funnel, and the
    strict-ordering semantics must bind: a user whose only purchase
    precedes their first click must NOT count as a purchase
    conversion (checked on a hand-built corpus)."""
    from otd_semantic_framework_spark.plans.queries.rel1 import q_rel_funnel
    row = q_rel_funnel(spark, SF).collect()[0]
    assert row.n_view >= row.n_click >= row.n_purchase
    assert row.n_view > 0 and row.n_click > 0, "fixture funnel inert"
    assert row.click_conv_ppm == (row.n_click * 1_000_000) // row.n_view
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, typ, minutes):
        return (i, t0 + dt.timedelta(minutes=minutes), user, typ, 0.0, "{}")

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    # user 1: view -> click -> purchase (converts)
    # user 2: purchase BEFORE click (must not convert); view -> click ok
    rows = [ev(1, 1, "view", 0), ev(2, 1, "click", 5),
            ev(3, 1, "purchase", 9),
            ev(4, 2, "view", 0), ev(5, 2, "purchase", 3),
            ev(6, 2, "click", 6)]
    events = spark.createDataFrame(rows, schema)
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        events.write.parquet(os.path.join(d, "events.parquet"))
        out = q_rel_funnel(spark, d).collect()[0]
    assert (out.n_view, out.n_click, out.n_purchase) == (2, 2, 1)
    assert out.purchase_conv_ppm == 500_000
    assert out.overall_conv_ppm == 500_000


def test_concept_drift_shares_sum_and_lag_alignment(spark):
    """Within every stage the concept shares must sum to ~1e6 ppm
    (floor division loses < n_concepts ppm), and prev_share_ppm must
    equal the same concept's share at its previous observed stage."""
    from otd_semantic_framework_spark.plans.queries.kg1 import (
        q_kg_concept_drift)
    rows = q_kg_concept_drift(spark, SF).collect()
    assert rows
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r.stage, []).append(r)
    assert len(by_stage) >= 2, "fixture has a single stage — drift inert"
    for stage, rs in by_stage.items():
        tot = sum(r.share_ppm for r in rs)
        assert 1_000_000 - len(rs) <= tot <= 1_000_000, (stage, tot)
    share = {(r.concept_id, r.stage): r.share_ppm for r in rows}
    for r in rows:
        prior = [s for (c, s) in share if c == r.concept_id
                 and s < r.stage]
        if prior:
            assert r.prev_share_ppm == share[(r.concept_id, max(prior))]
            assert r.drift_ppm == abs(r.share_ppm - r.prev_share_ppm)
        else:
            assert r.prev_share_ppm is None and r.drift_ppm is None


def test_concept_jaccard_hand_corpus(spark):
    """3 units: {a,b}, {a,b}, {a} -> n_a=3, n_b=2, n_ab=2,
    jaccard = 2/3 -> 666666 ppm (floor)."""
    from otd_semantic_framework_spark.operators.graph import concept_jaccard
    tags = spark.createDataFrame(
        [("c1", 0, "a"), ("c1", 0, "b"),
         ("c1", 1, "a"), ("c1", 1, "b"),
         ("c2", 0, "a")],
        "conv_id string, turn_idx int, concept_id string")
    rows = concept_jaccard(tags).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.concept_a, r.concept_b, r.n_a, r.n_b, r.n_ab) == (
        "a", "b", 3, 2, 2)
    assert r.jaccard_ppm == 666_666


def test_kg_related_counts_and_bounds(spark):
    """Pair intersection counts bounded by per-concept counts; the
    per-concept counts agree with a direct aggregation; jaccard in
    (0, 1e6]."""
    from otd_semantic_framework_spark.plans.queries._shared import _mentions_df
    from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_related
    tags = (_mentions_df(spark, SF)
            .select("conv_id", "turn_idx", "concept_id").distinct())
    direct = {r.concept_id: r.n for r in
              tags.groupBy("concept_id").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    rows = q_kg_related(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.concept_a < r.concept_b
        assert direct[r.concept_a] == r.n_a
        assert direct[r.concept_b] == r.n_b
        assert 1 <= r.n_ab <= min(r.n_a, r.n_b)
        assert 0 < r.jaccard_ppm <= 1_000_000
        assert r.jaccard_ppm == (r.n_ab * 1_000_000) // (
            r.n_a + r.n_b - r.n_ab)


def test_kg_resnik_brute_force_replay(spark):
    """Full pure-Python replay of the MICS selection on the fixture:
    for every emitted pair the mics must be the min-mass (tie: min id)
    common ancestor-or-self, with the exact mass and ppm."""
    from otd_semantic_framework_spark.plans.queries._shared import _mentions_df
    from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_resnik
    from otd_semantic_framework_spark.plans.driver_ontology import (
        driver_concepts)
    path = {c.concept_id: set(c.path) for c in driver_concepts()}
    tags = [(f"{r.conv_id}:{r.turn_idx}", r.concept_id)
            for r in (_mentions_df(spark, SF)
                      .select("conv_id", "turn_idx", "concept_id")
                      .distinct().collect())]
    total = len(tags)
    mass = {}
    for _u, c in tags:
        for anc in path[c]:
            mass[anc] = mass.get(anc, 0) + 1
    by_unit = {}
    for u, c in tags:
        by_unit.setdefault(u, set()).add(c)
    expect_pairs = set()
    for cs in by_unit.values():
        ss = sorted(cs)
        for i, a in enumerate(ss):
            for b in ss[i + 1:]:
                expect_pairs.add((a, b))
    rows = q_kg_resnik(spark, SF).collect()
    assert {(r.concept_a, r.concept_b) for r in rows} == expect_pairs
    for r in rows:
        common = path[r.concept_a] & path[r.concept_b]
        assert r.mics_id in common
        best = min(common, key=lambda x: (mass[x], x))
        assert (r.mics_id, r.mics_mass) == (best, mass[best])
        assert r.p_mics_ppm == (mass[best] * 1_000_000) // total


def test_resnik_sibling_pairs_more_similar_than_cross_branch(spark):
    """Semantic sanity: two leaves under the same branch must have a
    MICS at least as informative (<= mass) as a cross-branch pair's
    (whose only common subsumer is the root)."""
    from otd_semantic_framework_spark.plans.queries.kg1 import q_kg_resnik
    from otd_semantic_framework_spark.plans.driver_ontology import (
        driver_concepts)
    parent = {c.concept_id: c.parent_id for c in driver_concepts()}
    rows = q_kg_resnik(spark, SF).collect()
    same, cross = [], []
    for r in rows:
        pa, pb = parent.get(r.concept_a), parent.get(r.concept_b)
        if pa is not None and pa == pb:
            same.append(r)
        elif r.mics_id == "dq:R":
            cross.append(r)
    assert same and cross, "fixture must exercise both pair classes"
    assert min(c.mics_mass for c in cross) >= max(
        s.mics_mass for s in same if s.mics_id != "dq:R")


def test_window_dist_invariants(spark):
    """Per-nation: rnk is 1..n dense over unique custkeys; quartiles
    are 1..4 and non-decreasing along rnk; pct/cume ppm are exact rank
    arithmetic and monotone."""
    from otd_semantic_framework_spark.plans.queries.rel1 import (
        q_rel_window_dist)
    rows = q_rel_window_dist(spark, SF).collect()
    assert rows
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.c_nationkey, []).append(r)
    for nk, rs in by_nation.items():
        rs.sort(key=lambda r: r.rnk)
        n = len(rs)
        assert [r.rnk for r in rs] == list(range(1, n + 1))
        assert all(1 <= r.quartile <= 4 for r in rs)
        assert all(a.quartile <= b.quartile
                   for a, b in zip(rs, rs[1:]))
        assert all(a.c_acctbal >= b.c_acctbal or
                   (a.c_acctbal == b.c_acctbal and
                    a.c_custkey < b.c_custkey)
                   for a, b in zip(rs, rs[1:]))
        for r in rs:
            assert r.cume_ppm == r.rnk * 1_000_000 // n
            expect = 0 if n == 1 else (r.rnk - 1) * 1_000_000 // (n - 1)
            assert r.pct_rank_ppm == expect


def test_funnel_latency_histogram_consistency(spark):
    """Band counts sum to the funnel's purchase count; cum_users is a
    strictly increasing prefix sum ending at the total; the last
    cum_share_ppm is exactly 1e6."""
    from otd_semantic_framework_spark.plans.queries.rel1 import (
        q_rel_funnel, q_rel_funnel_latency)
    n_purchase = q_rel_funnel(spark, SF).collect()[0].n_purchase
    rows = sorted(q_rel_funnel_latency(spark, SF).collect(),
                  key=lambda r: r.band)
    assert rows, "fixture funnel produced no purchases"
    assert sum(r.n_users for r in rows) == n_purchase
    cum = 0
    for r in rows:
        assert 0 <= r.band <= 48
        cum += r.n_users
        assert r.cum_users == cum
        assert r.cum_share_ppm == cum * 1_000_000 // n_purchase
    assert rows[-1].cum_share_ppm == 1_000_000


def test_retention_cohort_triangle(spark):
    """offset-0 row of every cohort has n_active == cohort_size
    (everyone is active in their first week) => retained_ppm == 1e6;
    n_active never exceeds cohort_size; cohort sizes sum to the
    number of distinct users."""
    from otd_semantic_framework_spark.plans.queries._shared import _tbl
    from otd_semantic_framework_spark.plans.queries.rel1 import q_rel_retention
    rows = q_rel_retention(spark, SF).collect()
    assert rows
    n_users = (_tbl(spark, SF, "events")
               .select("user_id").distinct().count())
    zero = [r for r in rows if r.week_offset == 0]
    assert sum(r.cohort_size for r in zero) == n_users
    for r in rows:
        assert r.week_offset >= 0
        assert 1 <= r.n_active <= r.cohort_size
        assert r.retained_ppm == r.n_active * 1_000_000 // r.cohort_size
        if r.week_offset == 0:
            assert r.retained_ppm == 1_000_000


def test_dsir_separates_target_like_documents(spark):
    """Hand corpus: target docs say 'alpha beta', raw-only docs say
    'gamma delta'. A held-out doc with target vocabulary must outscore
    one with raw-only vocabulary, and per-feature smoothing keeps every
    score strictly positive."""
    from otd_semantic_framework_spark.operators.curation import (
        dsir_importance)
    rows = ([(i, "alpha beta alpha beta", 1) for i in range(10)]
            + [(100 + i, "gamma delta gamma delta", 0) for i in range(10)]
            + [(200, "alpha beta", 0), (201, "gamma delta", 0)])
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, is_tgt int")
    out = {r.doc_id: r for r in dsir_importance(docs, "is_tgt").collect()}
    assert len(out) == 22
    assert all(r.dsir_score_ppm > 0 for r in out.values())
    assert out[200].dsir_score_ppm > out[201].dsir_score_ppm
    # members of the target slice score like the held-out target twin
    assert out[0].dsir_score_ppm == out[200].dsir_score_ppm


def test_dsir_fixture_target_mean_exceeds_raw_mean(spark):
    """On the driver fixture with lang='en' as target, the mean score
    of target docs must exceed the mean of non-target docs — the
    importance weights must actually tilt toward the target."""
    from otd_semantic_framework_spark.plans.queries.curation import (
        q_curation_dsir)
    rows = q_curation_dsir(spark, SF).collect()
    tgt = [r.dsir_score_ppm for r in rows if r.is_target]
    raw = [r.dsir_score_ppm for r in rows if not r.is_target]
    assert tgt and raw, "fixture must contain both slices"
    assert sum(tgt) / len(tgt) > sum(raw) / len(raw)


def test_lexical_diversity_hand_and_fixture(spark):
    """All-unique doc -> ttr = hapax = 1e6; constant doc of n tokens ->
    ttr = 1e6/n floor, hapax = 0; empty doc survives with zeros. On the
    fixture: bounds and exact ratio arithmetic for every row."""
    from otd_semantic_framework_spark.operators.textstats import (
        lexical_diversity)
    from otd_semantic_framework_spark.plans.queries.text import q_text_ttr
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x x x x x"), (3, ""), (4, None),
         (5, "w w y")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in lexical_diversity(docs).collect()}
    assert (out[1].n_tokens, out[1].n_types, out[1].n_hapax) == (4, 4, 4)
    assert out[1].ttr_ppm == out[1].hapax_ppm == 1_000_000
    assert (out[2].n_types, out[2].n_hapax) == (1, 0)
    assert out[2].ttr_ppm == 200_000 and out[2].hapax_ppm == 0
    for d in (3, 4):
        assert (out[d].n_tokens, out[d].ttr_ppm) == (0, 0)
    assert (out[5].n_tokens, out[5].n_types, out[5].n_hapax) == (3, 2, 1)
    fix = q_text_ttr(spark, SF).collect()
    assert len(fix) == 500
    for r in fix:
        assert 0 <= r.n_hapax <= r.n_types <= max(r.n_tokens, 1)
        if r.n_tokens:
            assert r.ttr_ppm == r.n_types * 1_000_000 // r.n_tokens
            assert r.hapax_ppm == r.n_hapax * 1_000_000 // r.n_tokens
