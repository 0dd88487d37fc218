"""P6/P7/P9/P10 — linking: candidates respect threshold/top-k;
canonicalization is deterministic; the precomputed canonical table
equals the Spark compute path and rounds like SQL."""

import pandas as pd
from pyspark.sql import functions as F

from otd_semantic_framework_spark import semantics as S
from otd_semantic_framework_spark.operators.linking import (
    OntologySetup, canonicalize, link_candidates_broadcast,
    surface_canonical_table)
from otd_semantic_framework_spark.operators.mentions import (
    detect_mentions_exploded)
from otd_semantic_framework_spark.operators.normalize import normalize_turns
from otd_semantic_framework_spark.operators.wup import concept_similarity
from otd_semantic_framework_spark.sources.fixtures import ontology_spark


def _mentions(tiny_df):
    gaz = S.build_gazetteer(S.build_ontology())
    return detect_mentions_exploded(normalize_turns(tiny_df), gaz), gaz


def test_candidates_threshold_topk(spark, tiny_df, ontology_pdf):
    mentions, _ = _mentions(tiny_df)
    cands = link_candidates_broadcast(mentions, OntologySetup(ontology_pdf).scores)
    rows = cands.collect()
    assert all(r.cos_sim >= S.COS_THRESHOLD for r in rows)
    counts = cands.groupBy("mention_id").count().collect()
    assert all(r["count"] <= S.TOP_K for r in counts)
    # every gazetteer mention must self-match its own concept label (cos≈1)
    self_hits = cands.filter(F.col("cos_sim") >= 0.999999).count()
    assert self_hits > 0


def test_canonicalize_one_per_mention(spark, tiny_df, ontology_pdf):
    mentions, _ = _mentions(tiny_df)
    cands = link_candidates_broadcast(mentions, OntologySetup(ontology_pdf).scores)
    sim = concept_similarity(ontology_spark(spark))
    canon = canonicalize(cands, sim)
    n_mentions = mentions.select("mention_id").distinct().count()
    n_linked = cands.select("mention_id").distinct().count()
    assert canon.count() == n_linked <= n_mentions
    assert canon.select("mention_id").distinct().count() == n_linked
    # deterministic across partitionings
    canon2 = canonicalize(
        link_candidates_broadcast(mentions.repartition(13),
                                  OntologySetup(ontology_pdf).scores), sim)
    k1 = sorted((r.mention_id, r.concept_id, r.link_score) for r in canon.collect())
    k2 = sorted((r.mention_id, r.concept_id, r.link_score) for r in canon2.collect())
    assert k1 == k2


def test_precomputed_canonical_equals_compute_path(spark, tiny_df, ontology_pdf):
    """The zero-shuffle broadcast canonical table (P7→P9 precomputed)
    must equal the full compute path (broadcast candidates → windows →
    wup join) mention for mention."""
    from otd_semantic_framework_spark.operators.linking import (
        canonicalize_broadcast, surface_canonical_table)
    from tests.oracle_tagger import oracle_concept_similarity

    mentions, gaz = _mentions(tiny_df)
    sim = concept_similarity(ontology_spark(spark))
    compute = canonicalize(link_candidates_broadcast(
        mentions, OntologySetup(ontology_pdf).scores), sim)
    table = surface_canonical_table(
        ontology_pdf, gaz, oracle_concept_similarity(S.build_ontology()))
    fast = canonicalize_broadcast(mentions, table)
    k1 = sorted((r.mention_id, r.concept_id, round(r.link_score, 6))
                for r in compute.collect())
    k2 = sorted((r.mention_id, r.concept_id, round(r.link_score, 6))
                for r in fast.collect())
    assert k1 == k2


def _counting_canonical_table(monkeypatch):
    """Fresh canonical-table memo plus a counter of
    surface_canonical_table calls."""
    from otd_semantic_framework_spark.operators import linking
    monkeypatch.setattr(linking, "_MEMO", {})
    calls = []
    real = linking.surface_canonical_table

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(linking, "surface_canonical_table", counting)
    return calls


def test_canonical_table_computed_once_per_content(monkeypatch, ontology_pdf):
    calls = _counting_canonical_table(monkeypatch)
    first = OntologySetup(ontology_pdf).canonical
    # equal content in a different frame (rows reversed) hits the memo
    again = OntologySetup(
        ontology_pdf.iloc[::-1].reset_index(drop=True)).canonical
    assert len(calls) == 1
    assert again.equals(first)


def test_embedding_edit_recomputes_canonical_table(monkeypatch, ontology_pdf,
                                                  retrained_ontology_pdf):
    calls = _counting_canonical_table(monkeypatch)
    base = OntologySetup(ontology_pdf)
    assert not base.canonical.empty
    edited = OntologySetup(retrained_ontology_pdf)
    assert edited.digest != base.digest
    table = edited.canonical
    assert len(calls) == 2
    wup = pd.DataFrame(
        [(a.concept_id, b.concept_id, S.wup_similarity(a, b))
         for a in edited.concepts for b in edited.concepts],
        columns=["concept_a", "concept_b", "wup"])
    assert table.equals(surface_canonical_table(
        retrained_ontology_pdf, edited.gazetteer, wup))


def test_mutating_canonical_table_does_not_leak(monkeypatch, ontology_pdf):
    _counting_canonical_table(monkeypatch)
    onto = OntologySetup(ontology_pdf)
    table = onto.canonical
    pristine = table.copy()
    table.loc[:, "link_score"] = -1.0
    table.drop(table.index[:3], inplace=True)
    assert onto.canonical.equals(pristine)
    assert OntologySetup(ontology_pdf).canonical.equals(pristine)


def test_canonical_link_score_rounds_like_sql(monkeypatch, ontology_pdf):
    """One candidate at cos 0.800001 (self-wup 1.0) blends to 0.9000005:
    SQL ROUND (Spark F.round, DuckDB round) gives 0.900001, half away
    from zero, where builtin round gives 0.9."""
    from otd_semantic_framework_spark.operators import linking
    from tests.oracle_tagger import oracle_concept_similarity
    cid = ontology_pdf["concept_id"][0]
    monkeypatch.setattr(linking, "score_surfaces", lambda *a, **k: pd.DataFrame(
        [("x", cid, 0.800001)], columns=["surface", "concept_id", "cos_sim"]))
    table = surface_canonical_table(
        ontology_pdf, {"x": cid},
        oracle_concept_similarity(S.build_ontology()))
    assert table[["concept_id", "link_score"]].values.tolist() == [
        [cid, 0.900001]]
