"""Ontology over the driver-testdata vocabulary, for the
``queries()``/``oracle_sql()`` contract.

``/root/testdata`` ``documents.text`` is token soup over a closed
31-token vocabulary (verified 2026-08-16: join hash row batch scan
column customer filter small slow ...). The KG queries the driver
checks therefore run over a deterministic "data-engine" taxonomy built
from that vocabulary, exactly like the transport ontology is built over
the transcript vocabulary.

The tiny derived artifacts — the gazetteer, its surface scores (cosine
of the shared hash embeddings, SURVEY.md P7), all-pairs Wu-Palmer and
the canonical table — come from one ``OntologySetup`` over these
concepts (:func:`driver_setup`), computed once in pure Python and
consumed BOTH by the Spark query (broadcast join, P10) and by the DuckDB
oracle (rendered as literal ``VALUES``), so the driver's value-hash
compares the *relational logic* (windows, joins, aggregations, dedup) on
identical inputs.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd

from .. import semantics as S
from ..operators.linking import OntologySetup, ontology_table

_BRANCHES = ["scan", "join", "agg", "sort", "stream", "vector", "table", "query"]
_LEAVES = [
    # (label, branch_idx)
    ("hash join", 1), ("merge join", 1), ("sort merge", 3), ("row scan", 0),
    ("fast scan", 0), ("slow scan", 0), ("batch agg", 2), ("group agg", 2),
    ("window agg", 2), ("data column", 6), ("key value", 6), ("big table", 6),
    ("small table", 6), ("filter", 7), ("merge", 3), ("window", 2),
    ("group", 2), ("batch", 4), ("row", 0), ("hash", 1), ("key", 6),
    ("value", 6), ("line", 5), ("customer", 7), ("spark", 4), ("order", 3),
    ("part", 6), ("data", 5), ("column", 6), ("big", 7), ("small", 7),
    ("fast", 4), ("slow", 4),
]


@lru_cache(maxsize=1)
def driver_concepts() -> tuple[S.Concept, ...]:
    concepts = [S.Concept("dq:R", "engine", [], None, 1, ["dq:R"])]
    for i, b in enumerate(_BRANCHES):
        cid = f"dq:B{i}"
        concepts.append(S.Concept(cid, b, [], "dq:R", 2, ["dq:R", cid]))
    for i, (label, bi) in enumerate(_LEAVES):
        cid = f"dq:L{i:02d}"
        bid = f"dq:B{bi}"
        concepts.append(S.Concept(cid, label, [], bid, 3, ["dq:R", bid, cid]))
    return tuple(concepts)


@lru_cache(maxsize=1)
def driver_setup() -> OntologySetup:
    """The ontology setup over :func:`driver_concepts` (label embeddings
    by the one table builder), shared by the Spark queries and their
    oracles."""
    return OntologySetup(ontology_table(driver_concepts()))


def driver_gazetteer() -> dict[str, str]:
    return driver_setup().gazetteer


def driver_scores() -> pd.DataFrame:
    """(surface, concept_id, cos_sim) — real hash-embedding cosine,
    thresholded/top-k exactly like the main pipeline (P7)."""
    return driver_setup().scores


@lru_cache(maxsize=1)
def driver_wup() -> pd.DataFrame:
    """All-pairs Wu-Palmer rounded to SCORE_DECIMALS: the oracle-paired
    queries inline these values as DuckDB ``VALUES``, so both engines
    read the same rounded doubles."""
    wup = driver_setup().wup
    wup["wup"] = [round(w, S.SCORE_DECIMALS) for w in wup["wup"].tolist()]
    return wup


@lru_cache(maxsize=1)
def driver_ancestors() -> pd.DataFrame:
    """(concept_id, anc_id, decay) — strict ancestors from each driver
    concept's root→self path, decay = INFER_DECAY**levels_up rounded to
    SCORE_DECIMALS via round_half_away (the SQL ROUND both engines
    apply). The Python twin of operators/triples.py:ancestor_expansion,
    inlined as VALUES in the kg_inferred_triples oracle."""
    rows = []
    for c in driver_concepts():
        for pos, anc in enumerate(c.path[:-1]):
            levels_up = len(c.path) - 1 - pos
            rows.append((c.concept_id, anc,
                         float(S.round_half_away(S.INFER_DECAY ** levels_up,
                                                 S.SCORE_DECIMALS))))
    return pd.DataFrame(rows, columns=["concept_id", "anc_id", "decay"])


@lru_cache(maxsize=1)
def driver_manual_tags() -> pd.DataFrame:
    """Deterministic curated manual-tag table (conv_id, concept_id,
    weight) for the kg_manual_* queries — the reference's second
    first-class tagging input, synthesized at small scale (no external
    data). Includes deliberately-invalid concept ids (``bogus:…``) that
    ontology validation must drop, and convs with no manual tags."""
    concepts = [c.concept_id for c in driver_concepts()]
    rows = []
    for n in range(50):  # matches queries._shared.N_CONVS
        if n % 3 == 2:
            continue  # every third conv is un-curated
        for k in range(2):
            if n % 10 == 0 and k == 0:
                cid = "bogus:unknown"  # must be rejected by validation
            else:
                cid = concepts[(n * 7 + 3 * k) % len(concepts)]
            rows.append((f"conv-{n:04d}", cid,
                         round(0.5 + ((n + k) % 5) * 0.1, 6)))
    return pd.DataFrame(rows, columns=["conv_id", "concept_id", "weight"])


def _sql_lit(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        return repr(round(v, S.SCORE_DECIMALS))
    return str(v)


def values_sql(pdf: pd.DataFrame, alias: str) -> str:
    """Render a small pandas frame as `(VALUES ...) alias(col1, col2)`."""
    rows = ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")"
        for row in pdf.itertuples(index=False)
    )
    cols = ", ".join(pdf.columns)
    return f"(VALUES {rows}) {alias}({cols})"
