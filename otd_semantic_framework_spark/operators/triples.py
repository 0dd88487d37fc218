"""P12/P13 — triple extraction and idempotent dedup.

The reference emits dataset→`otd:hasTag`→concept edges into its autotag
graph [K]; grafted onto transcripts (BASELINE.json "payload:
transcripts"), each turn becomes an RDF-style subject
``turn:<conv_id>:<turn_idx>`` and three rules emit edges:

- ``mentions``  : turn → canonical concept   (score = link_score)
- ``uses_tool`` : turn → ``tool:<name>``     (score = 1.0)
- ``replies_to``: turn → previous turn       (score = 1.0, via P2 lag)

Dedup (P13) restores rdflib-graph set semantics: one row per (s,p,o),
max score wins. It runs in ``run_pipeline``'s triples stage as one
shuffle that partial-aggregates map-side (hash agg) first, and the
subject key inherits the conv_id salt when P11 salting is active. The
``build_triples_fast`` hot path has no dedup shuffle: its fused detector
dedups per turn, so its two wide boundaries are the P11 respread and the
``replies_to`` lag window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import semantics as S
from .turns import conv_window


def _subj(conv_col, turn_col):
    return F.concat(F.lit("turn:"), conv_col, F.lit(":"), turn_col.cast("string"))


def mention_triples(canonical: DataFrame) -> DataFrame:
    return canonical.select(
        _subj(F.col("conv_id"), F.col("turn_idx")).alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("concept_id").alias("obj"),
        "conv_id", "turn_idx",
        F.col("link_score").alias("score"),
    )


def canonical_mention_triples(canon_concepts: DataFrame) -> DataFrame:
    """Mention rule over the fully-fused detector output
    (``detect_canonical_concepts_exploded``): rows arrive already
    max-deduped per (turn, concept), so these triples are unique by
    construction and skip P13's global shuffle. Score rounding matches
    ``dedup_triples`` exactly (round(max(score), SCORE_DECIMALS))."""
    return canon_concepts.select(
        _subj(F.col("conv_id"), F.col("turn_idx")).alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("concept_id").alias("obj"),
        "conv_id", "turn_idx",
        F.round(F.col("link_score"), S.SCORE_DECIMALS).alias("score"),
    )


def tool_triples(transcripts: DataFrame) -> DataFrame:
    return transcripts.filter(F.col("tool").isNotNull()).select(
        _subj(F.col("conv_id"), F.col("turn_idx")).alias("subj"),
        F.lit("uses_tool").alias("pred"),
        F.concat(F.lit("tool:"), F.col("tool")).alias("obj"),
        "conv_id", "turn_idx",
        F.lit(1.0).alias("score"),
    )


def reply_triples(transcripts: DataFrame) -> DataFrame:
    w = conv_window()
    return (
        transcripts
        .withColumn("prev_turn_idx", F.lag("turn_idx", 1).over(w))
        .filter(F.col("prev_turn_idx").isNotNull())
        .select(
            _subj(F.col("conv_id"), F.col("turn_idx")).alias("subj"),
            F.lit("replies_to").alias("pred"),
            _subj(F.col("conv_id"), F.col("prev_turn_idx")).alias("obj"),
            "conv_id", "turn_idx",
            F.lit(1.0).alias("score"),
        )
    )


def extract_triples(transcripts: DataFrame, canonical: DataFrame) -> DataFrame:
    """Union of the three extraction rules (P12)."""
    return (
        mention_triples(canonical)
        .unionByName(tool_triples(transcripts))
        .unionByName(reply_triples(transcripts))
    )


def dedup_triples(triples: DataFrame) -> DataFrame:
    """P13: set semantics — one (s,p,o), max score. Idempotent:
    dedup(dedup(x)) == dedup(x) (property-tested).

    conv_id/turn_idx are functionally determined by subj
    (``turn:<conv>:<idx>``) so they join the GROUP BY keys instead of
    being min()-aggregated: string min/max forces SortAggregate, while
    keys+max(double) stays HashAggregate with map-side partial
    aggregation — the property that keeps this shuffle linear in
    distinct triples at 10^12-turn scale (asserted by tests/test_plans.py)."""
    return (
        triples
        .groupBy("subj", "pred", "obj", "conv_id", "turn_idx")
        .agg(F.round(F.max("score"), S.SCORE_DECIMALS).alias("score"))
        .select("subj", "pred", "obj", "conv_id", "turn_idx", "score")
    )


def ancestor_expansion(onto: DataFrame,
                       decay: float = S.INFER_DECAY) -> DataFrame:
    """Strict-ancestor table from an ontology_concepts frame
    (``concept_id``, ``depth``, ``path`` root→self — the shape built by
    sources/rdf.py:skos_concepts and sources/fixtures.py).

    Output (concept_id, anc_id, decay): one row per (concept, strict
    ancestor), ``decay = INFER_DECAY ** levels_up`` rounded to
    SCORE_DECIMALS so the factor is a stable 6-dp decimal on every
    engine. Pure posexplode over the already-materialized path — no
    iterative closure is recomputed here, and the result is ontology-
    sized (|V| × depth ≤ a few thousand rows), always broadcastable."""
    return (
        onto.select(
            "concept_id", "depth",
            F.posexplode("path").alias("anc_pos", "anc_id"))
        .filter(F.col("anc_id") != F.col("concept_id"))
        .select(
            "concept_id", "anc_id",
            F.round(
                F.pow(F.lit(float(decay)),
                      (F.col("depth") - F.col("anc_pos") - 1).cast("double")),
                S.SCORE_DECIMALS).alias("decay"))
    )


def infer_broader_triples(triples: DataFrame, onto: DataFrame,
                          decay: float = S.INFER_DECAY) -> DataFrame:
    """P12b — SKOS-subsumption materialization: for every asserted
    ``mentions`` triple (turn → concept) emit
    (turn, ``mentions_broader``, ancestor) for each STRICT ancestor on
    the concept's root→self path (the transitive closure of
    ``skos:broader``, which the reference's rdflib graph answers via
    ``transitive_objects`` at query time [K] — materialized here so the
    output graph is closed under subsumption without per-query
    traversal).

    Score: ``round(max(score * decay**levels_up), SCORE_DECIMALS)`` over
    all contributing descendants — a deeper mention contributes less to
    its far ancestors. Scale shape: the ancestor table is ontology-sized
    and BROADCAST, so inference is map-side; the only shuffle is the
    final (subj, anc) max-dedup, which partial-aggregates map-side like
    dedup_triples."""
    anc = ancestor_expansion(onto, decay)
    m = triples.filter(F.col("pred") == "mentions")
    return (
        m.join(F.broadcast(anc), m.obj == anc.concept_id, "inner")
        .groupBy("subj", "conv_id", "turn_idx",
                 F.col("anc_id").alias("obj"))
        .agg(F.round(F.max(F.col("score") * F.col("decay")),
                     S.SCORE_DECIMALS).alias("score"))
        .select("subj", F.lit("mentions_broader").alias("pred"), "obj",
                "conv_id", "turn_idx", "score")
    )
