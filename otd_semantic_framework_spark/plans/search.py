"""P17 — the reference's read path: free-text query → ranked subjects.

Reference lifecycle [K] (`ontosearch search "<query>"`): tokenize the
query, score it against concept labels by word-vector cosine AND a
taxonomy path measure, then rank datasets by the cached CDS matrix.

The read path has two halves:

* the QUERY side, :class:`QueryScorer` / :func:`query_scores`: reuse
  P3/P4/P7 on the single query string driver-side (numpy — one row, no
  cluster work) into a (concept_id, q_score) vector — plain lists and
  dicts, since the server runs it once per request;
* the RANKING side, two implementations of one contract — per subject
  ``search_score = round(Σ score·q_score, 6)`` over the CDS rows of the
  query's concepts, ordered by (−search_score, subj_key), top-n, plus
  the sorted matched concepts:

  - :func:`search`, the Spark plan: one broadcast semi-join +
    aggregation over the distributed ``cds_scores`` table, orderBy+limit
    then a rank window over at most ``top_n`` rows (never a global sort
    window). It is the batch/CLI path and the oracle of the other;
  - :class:`CdsIndex`, the serving path (``serve.py``): the same
    ranking over an immutable in-memory CSR copy of the table — the
    reference's "dot the query vector with the cached CDS matrix" —
    with no Spark job per request.

``wup_pdf`` enables the reference's lexical+taxonomic blend on the
QUERY side (VERDICT r1 "What's missing" #3): each surface's candidate
concepts are rescored by ``operators.linking.link_scores`` — the P9
canonicalization blend, α·cos + (1−α)·wup(c, cos-top anchor) — before
the per-concept max. Without it the scoring is pure cosine (round-1
behavior).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import semantics as S
from ..operators.linking import (concept_matrix, link_scores, surface_rows,
                                 wup_lookup)


class QueryScorer:
    """The query side of P17 with its per-ontology invariants — the
    pref-label gazetteer, the concept embedding matrix and the Wu-Palmer
    lookup of ``wup_pdf`` — built once, so a server pays only the
    per-query work on each request."""

    def __init__(self, ontology_pdf: pd.DataFrame,
                 wup_pdf: pd.DataFrame | None = None):
        self.gazetteer = {S.normalize_text(c): c
                          for c in ontology_pdf["pref_label"]}
        self.concept_ids, self.cmat = concept_matrix(ontology_pdf)
        self.wup = None if wup_pdf is None else wup_lookup(wup_pdf)

    def scores(self, query: str, taxonomic: bool = False,
               alpha: float = S.LINK_ALPHA) -> dict[str, float]:
        """{concept_id: q_score}: the query's per-concept max cosine, or
        with ``taxonomic`` its max blended link_score; empty when no
        query surface clears the cosine threshold. Plain lists and
        dicts, no pandas: this runs once per served request."""
        if taxonomic and self.wup is None:
            raise ValueError("taxonomic scoring needs a wup_pdf")
        norm = S.normalize_text(query)
        surfaces = ([m[0] for m in S.find_mentions(norm, self.gazetteer)]
                    or norm.split())
        rows = surface_rows(sorted(set(surfaces)), self.concept_ids,
                            self.cmat)
        if not rows:
            return {}
        surface, concept, cos = zip(*rows)
        # rows come in (surface, −cos, concept_id) order, the blend's
        vals = (link_scores(surface, concept, cos, self.wup, alpha).tolist()
                if taxonomic else cos)
        q: dict[str, float] = {}
        for c, v in zip(concept, vals):
            if v > q.get(c, -np.inf):
                q[c] = v
        return q


def query_scores(query: str, ontology_pdf: pd.DataFrame,
                 wup_pdf: pd.DataFrame | None = None,
                 alpha: float = S.LINK_ALPHA) -> pd.DataFrame:
    """(concept_id, q_score) of one free-text query, by concept_id;
    ``wup_pdf`` turns on the taxonomic blend."""
    q = QueryScorer(ontology_pdf, wup_pdf).scores(
        query, taxonomic=wup_pdf is not None, alpha=alpha)
    return pd.DataFrame(sorted(q.items()), columns=["concept_id", "q_score"])


def search(query: str, cds: DataFrame, ontology_pdf: pd.DataFrame,
           top_n: int = 10, wup_pdf: pd.DataFrame | None = None,
           alpha: float = S.LINK_ALPHA) -> DataFrame:
    """Rank conversation subjects for a free-text query.

    Returns (subj_key, rank, search_score, matched_concepts).
    """
    spark = cds.sparkSession
    qvec = query_scores(query, ontology_pdf, wup_pdf, alpha)
    if qvec.empty:
        return spark.createDataFrame(
            [], "subj_key string, rank int, search_score double, matched_concepts array<string>")
    q_df = spark.createDataFrame(qvec, schema="concept_id string, q_score double")
    ranked = (
        cds.join(F.broadcast(q_df), "concept_id", "inner")
        .groupBy("subj_key")
        .agg(
            F.round(F.sum(F.col("score") * F.col("q_score")), S.SCORE_DECIMALS)
            .alias("search_score"),
            F.array_sort(F.collect_set("concept_id")).alias("matched_concepts"),
        )
        .orderBy(F.desc("search_score"), F.asc("subj_key"))
        .limit(top_n)
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.desc("search_score"), F.asc("subj_key"))))
        .select("subj_key", "rank", "search_score", "matched_concepts")
    )
    return ranked


class CdsIndex:
    """Immutable driver-side index of a (subj_key, concept_id, score)
    CDS table, answering :func:`search`'s ranking without Spark.

    Layout (CSR by concept): the rows sorted by concept, each holding
    an int32 subject code and a float64 score, plus per-concept row
    offsets. Subject codes follow ``subj_key`` order, so ordering by
    code is ordering by key. Memory: 12 bytes per CDS row, one string
    per subject and one per concept."""

    def __init__(self, cds_pdf: pd.DataFrame):
        subj, subjects = pd.factorize(cds_pdf["subj_key"], sort=True)
        concept, concepts = pd.factorize(cds_pdf["concept_id"], sort=True)
        order = np.argsort(concept, kind="stable")
        self._subj = subj[order].astype(np.int32)
        self._score = cds_pdf["score"].to_numpy(np.float64)[order]
        self._offsets = np.concatenate(
            [[0], np.cumsum(np.bincount(concept, minlength=len(concepts)))])
        self._subjects = subjects.tolist()
        self._concepts = concepts.tolist()
        self._code = {c: k for k, c in enumerate(self._concepts)}
        self.rows = len(cds_pdf)

    def rank(self, q: dict[str, float], top_n: int) -> list[dict]:
        """The rows ``search(...).collect()`` returns for the query
        vector ``q`` (:meth:`QueryScorer.scores`), as dicts: per subject
        with a row for a query concept, the half-away-rounded
        Σ score·q_score, ordered by (−search_score, subj_key); the first
        ``top_n`` ranked 1..n with their sorted matched concepts."""
        if top_n < 0:
            raise ValueError(f"top_n must be >= 0, got {top_n}")
        hits = sorted((self._code[c], w) for c, w in q.items()
                      if c in self._code)
        if not hits or top_n == 0:
            return []
        spans = [(self._offsets[k], self._offsets[k + 1]) for k, _ in hits]
        rows = np.concatenate([np.arange(a, b) for a, b in spans])
        weight = np.concatenate([np.full(b - a, w)
                                 for (a, b), (_, w) in zip(spans, hits)])
        subj = self._subj[rows]
        total = np.bincount(subj, weights=self._score[rows] * weight,
                            minlength=len(self._subjects))
        matched = np.unique(subj)
        score = S.round_half_away(total[matched], S.SCORE_DECIMALS)
        order = np.lexsort((matched, -score))[:top_n]
        top = matched[order]
        slot = np.full(len(self._subjects), -1)
        slot[top] = np.arange(len(top))
        # hits are in concept order, so each subject's list comes sorted
        concepts = [[] for _ in top]
        for (k, _), (a, b) in zip(hits, spans):
            s = slot[self._subj[a:b]]
            for i in np.unique(s[s >= 0]):
                concepts[i].append(self._concepts[k])
        return [{"subj_key": self._subjects[t], "rank": i + 1,
                 "search_score": float(v), "matched_concepts": concepts[i]}
                for i, (t, v) in enumerate(zip(top, score[order]))]
