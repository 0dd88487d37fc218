"""P6/P7/P9/P10 — embedding lookup, cosine concept linking, entity
canonicalization.

North star: "word2vec-embedding autotagging with cosine-similarity
concept linking against the broadcast OTD transport ontology, Wu-Palmer
taxonomy-distance scoring for entity canonicalization. Entity linking is
a broadcast-join of candidate mentions against the precomputed ontology
concept-similarity matrix."

Two physical strategies for the candidate stage, identical results
(asserted by tests/test_linking.py):

1. :func:`link_candidates_arrow` — the GENERAL path. ``mapInPandas``
   over Arrow batches; per batch: gather token vectors for the batch's
   unique surfaces (embedding lookup, P6 — mean-pool + renormalize),
   one ``M @ C.T`` numpy matmul against the broadcast concept matrix,
   ``argsort`` top-k ≥ θ. No per-row Python in the math. Handles
   unbounded mention vocabularies.

2. :func:`link_candidates_broadcast` — the SCALE path (P10) when the
   mention vocabulary is bounded (gazetteer mentions always are): score
   every DISTINCT surface once driver-side into a tiny
   (surface, concept_id, cos_sim) table and broadcast-hash-join it to the
   mention stream. At 10^12 turns this turns a per-row vector compute
   into a map-side join against a few-thousand-row table — the same
   precompute-then-join trick the reference uses with its cached CDS
   matrix [K].

Canonicalization (P9): top-cos concept per mention defines the anchor
c_top; link_score(c) = α·cos(c) + (1−α)·wup(c, c_top); best link_score
wins (ties → smallest concept_id). The wup lookup is a broadcast join of
candidates against `concept_similarity` (P10).
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator
from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import semantics as S

_CAND_SCHEMA = (
    "conv_id string, turn_idx int, mention_id long, surface string, "
    "concept_id string, cos_sim double"
)


def concept_matrix(ontology_pdf: pd.DataFrame) -> tuple[list[str], np.ndarray]:
    """(concept_ids, C×dim unit matrix, float64) from the ontology table."""
    ids = ontology_pdf["concept_id"].tolist()
    mat = np.stack([np.asarray(e, dtype=np.float64) for e in ontology_pdf["embedding"]])
    return ids, mat


def score_surfaces(surfaces: list[str], concept_ids: list[str],
                   cmat: np.ndarray, top_k: int = S.TOP_K,
                   threshold: float = S.COS_THRESHOLD) -> pd.DataFrame:
    """Pure scoring core: unique surfaces → (surface, concept_id, cos_sim).

    cos rounded to SCORE_DECIMALS; top-k by (-cos, concept_id).
    Shared by both physical strategies AND by the search path (P17).
    """
    if not surfaces:
        return pd.DataFrame(columns=["surface", "concept_id", "cos_sim"])
    M = np.stack([S.phrase_vector(s).astype(np.float64) for s in surfaces])
    sims = np.round(M @ cmat.T, S.SCORE_DECIMALS)  # unit vectors → cosine
    cid_arr = np.asarray(concept_ids)
    rows = []
    for i, surf in enumerate(surfaces):
        row = sims[i]
        keep = np.where(row >= threshold)[0]
        if keep.size == 0:
            continue
        ranked = sorted(keep, key=lambda j: (-row[j], cid_arr[j]))[:top_k]
        rows.extend((surf, cid_arr[j], float(row[j])) for j in ranked)
    return pd.DataFrame(rows, columns=["surface", "concept_id", "cos_sim"])


def link_candidates_arrow(mentions: DataFrame, ontology_pdf: pd.DataFrame,
                          top_k: int = S.TOP_K,
                          threshold: float = S.COS_THRESHOLD) -> DataFrame:
    """General path: Arrow-batched embedding + matmul inside executors."""
    concept_ids, cmat = concept_matrix(ontology_pdf)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            uniq = pdf["surface"].drop_duplicates().tolist()
            scores = score_surfaces(uniq, concept_ids, cmat, top_k, threshold)
            out = pdf.merge(scores, on="surface", how="inner")
            yield out[["conv_id", "turn_idx", "mention_id", "surface",
                       "concept_id", "cos_sim"]]

    return mentions.mapInPandas(run, schema=_CAND_SCHEMA)


def link_candidates_broadcast(mentions: DataFrame, ontology_pdf: pd.DataFrame,
                              gazetteer: dict[str, str],
                              top_k: int = S.TOP_K,
                              threshold: float = S.COS_THRESHOLD) -> DataFrame:
    """Scale path (P10): precompute scores for the closed surface
    vocabulary, broadcast-join to the mention stream (map-side only)."""
    spark = mentions.sparkSession
    concept_ids, cmat = concept_matrix(ontology_pdf)
    surfaces = sorted(gazetteer)
    scores = score_surfaces(surfaces, concept_ids, cmat, top_k, threshold)
    score_df = spark.createDataFrame(
        scores, schema="surface string, concept_id string, cos_sim double")
    return (
        mentions.join(F.broadcast(score_df), "surface", "inner")
        .select("conv_id", "turn_idx", "mention_id", "surface",
                "concept_id", "cos_sim")
    )


def surface_canonical_table(ontology_pdf: pd.DataFrame,
                            gazetteer: dict[str, str],
                            wup_pdf: pd.DataFrame,
                            alpha: float = S.LINK_ALPHA,
                            top_k: int = S.TOP_K,
                            threshold: float = S.COS_THRESHOLD) -> pd.DataFrame:
    """Fully-precomputed (surface → canonical concept, link_score).

    Candidate sets, the cos-top anchor, and the Wu-Palmer-blended winner
    are all pure functions of the surface string, so for a closed
    mention vocabulary the ENTIRE P7→P9 chain collapses into one tiny
    table computed driver-side once — the same precompute-the-scores
    move the reference makes with its cached CDS matrix [K]. At corpus
    scale canonicalization then costs one broadcast hash join: zero
    shuffles, zero Python. Equivalence with the compute path is pinned
    by tests/test_linking.py."""
    concept_ids, cmat = concept_matrix(ontology_pdf)
    scores = score_surfaces(sorted(gazetteer), concept_ids, cmat,
                            top_k, threshold)
    wup = {(r.concept_a, r.concept_b): r.wup for r in wup_pdf.itertuples()}
    rows = []
    for surface, grp in scores.groupby("surface"):
        g = grp.sort_values(["cos_sim", "concept_id"],
                            ascending=[False, True])
        top_cid = g.iloc[0]["concept_id"]
        best = None
        for r in g.itertuples():
            link = round(alpha * r.cos_sim
                         + (1 - alpha) * wup.get((r.concept_id, top_cid), 0.0),
                         S.SCORE_DECIMALS)
            key = (-link, r.concept_id)
            if best is None or key < best[0]:
                best = (key, r.concept_id, r.cos_sim, link)
        _, cid, cos, link = best
        rows.append((surface, cid, float(cos), float(link)))
    return pd.DataFrame(
        rows, columns=["surface", "concept_id", "cos_sim", "link_score"])


# OntologySetup.digest -> surface canonical table, one small frame per
# distinct ontology content seen by the process. The table is a pure
# function of that content, so setups over equal content share one
# computation (two threads missing at once both compute the same table);
# callers get copies, never the memoised frame.
_CANONICAL_MEMO: dict[str, pd.DataFrame] = {}


class OntologySetup:
    """The one driver-side ontology setup of KG construction: concepts →
    gazetteer, then (on use of :attr:`canonical`) Wu-Palmer pairs →
    :func:`surface_canonical_table`. Built per call by
    ``build_triples_fast``, ``run_pipeline`` and the query oracles; the
    canonical table is computed once per ontology CONTENT
    (:attr:`digest`) per process and handed out as a copy. It is lazy
    because ``run_pipeline``'s fine-grained stages never read it."""

    def __init__(self, ontology_pdf: pd.DataFrame):
        self.ontology_pdf = ontology_pdf
        self.concepts = [
            S.Concept(r.concept_id, r.pref_label, list(r.alt_labels),
                      r.parent_id, int(r.depth), list(r.path))
            for r in ontology_pdf.itertuples()]
        self.gazetteer = S.build_gazetteer(self.concepts)

    @cached_property
    def digest(self) -> str:
        """Order-free sha256 over every column the setup reads, the
        embeddings included (:func:`concept_matrix` scores against
        them): the memo key of :attr:`canonical` and the ontology part
        of ``run_pipeline``'s checkpoint fingerprint."""
        rows = sorted(
            json.dumps([c.concept_id, c.pref_label, sorted(c.alt_labels),
                        c.parent_id, c.depth, c.path,
                        np.asarray(e, dtype=np.float64).tobytes().hex()])
            for c, e in zip(self.concepts, self.ontology_pdf["embedding"]))
        return hashlib.sha256("\n".join(rows).encode()).hexdigest()

    @property
    def canonical(self) -> pd.DataFrame:
        table = _CANONICAL_MEMO.get(self.digest)
        if table is None:
            wup_pdf = pd.DataFrame(
                [(a.concept_id, b.concept_id, S.wup_similarity(a, b))
                 for a in self.concepts for b in self.concepts],
                columns=["concept_a", "concept_b", "wup"])
            table = _CANONICAL_MEMO[self.digest] = surface_canonical_table(
                self.ontology_pdf, self.gazetteer, wup_pdf)
        return table.copy()


def canonicalize_broadcast(mentions: DataFrame,
                           canonical_pdf: pd.DataFrame) -> DataFrame:
    """Scale path for P7→P9: broadcast-join mentions to the precomputed
    canonical table (map-side only; unmatched surfaces drop out exactly
    like sub-threshold candidates)."""
    spark = mentions.sparkSession
    canon_df = spark.createDataFrame(
        canonical_pdf,
        schema="surface string, concept_id string, cos_sim double, link_score double")
    return mentions.join(F.broadcast(canon_df), "surface", "inner")


def canonicalize(candidates: DataFrame, concept_sim: DataFrame,
                 alpha: float = S.LINK_ALPHA) -> DataFrame:
    """P9: one canonical concept per mention via Wu-Palmer-blended score.

    concept_sim is tiny → broadcast join (P10). The two windows partition
    by mention_id, which is already the natural key of the candidate
    stream — with AQE the rank windows reuse one hash-partitioning.
    """
    w_top = Window.partitionBy("mention_id").orderBy(
        F.desc("cos_sim"), F.asc("concept_id"))
    top = (
        candidates
        .withColumn("_rn", F.row_number().over(w_top))
        .filter(F.col("_rn") == 1)
        .select(F.col("mention_id").alias("m_id"),
                F.col("concept_id").alias("top_concept_id"))
    )
    scored = (
        candidates
        .join(top, candidates.mention_id == top.m_id, "inner").drop("m_id")
        .join(
            F.broadcast(concept_sim),
            (F.col("concept_id") == concept_sim.concept_a)
            & (F.col("top_concept_id") == concept_sim.concept_b),
            "left",
        )
        .withColumn("wup_score", F.coalesce(F.col("wup"), F.lit(0.0)))
        .withColumn(
            "link_score",
            F.round(alpha * F.col("cos_sim") + (1.0 - alpha) * F.col("wup_score"),
                    S.SCORE_DECIMALS),
        )
        .drop("concept_a", "concept_b", "wup")
    )
    w_best = Window.partitionBy("mention_id").orderBy(
        F.desc("link_score"), F.asc("concept_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w_best))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
