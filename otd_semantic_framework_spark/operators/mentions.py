"""P4/P5 — vectorized mention detection, emitted one row per mention.

North star: "vectorized pandas/Arrow-UDF mention detection". The
reference extracts spaCy noun-chunk terms per document [K]; spaCy is
absent in this sandbox (SURVEY.md §0 [L]) so mention detection is a
gazetteer n-gram matcher: greedy longest-match left-to-right over
normalized tokens against the broadcast ontology label set, compiled to
one trie-shaped leftmost-longest regex (``semantics.gazetteer_pattern``;
the pure ``semantics.find_mentions`` / ``find_mentions_regex`` are the
test oracle).

Both detectors are ``mapInPandas`` stages that run ONE regex pass per
Arrow batch over the batch's texts joined into a mega-string and emit
exploded rows directly: :func:`detect_mentions_exploded` (one row per
mention, the checkpointed ``mentions`` stage) and
:func:`detect_canonical_concepts_exploded` (one row per canonical
(turn, concept), the ``build_triples_fast`` hot path). The gazetteer (a
few hundred strings) ships inside the UDF closure — one copy per
executor python worker, not per row. mention_id is
``xxhash64(conv_id, turn_idx, tok_start)`` — deterministic, so re-runs /
resumed runs emit identical ids (SURVEY.md §4 risk 3; never
``monotonically_increasing_id`` in persisted output).

Worker set-up is paid once per Python worker, not once per task. Before
every task pyspark's worker calls ``importlib.invalidate_caches()``,
which makes each ``zipimporter`` on the worker path re-read its
archive's central directory (pyspark.zip: 1,328 entries, with one
importer per imported subpackage). The first batch a worker sees marks
the zip importers it already holds as static (:func:`_set_up_worker`),
so later tasks in the reused worker skip those re-reads.
"""

from __future__ import annotations

import sys
import zipimport

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import semantics as S


_worker_set_up = False


def _set_up_worker() -> None:
    """Once per Python worker process: make ``invalidate_caches`` a
    no-op on every zip importer the worker already holds. Those are the
    archives Spark put on the worker path before its first task
    (pyspark.zip, py4j, the spark-core jar, ``--py-files``), and they do not
    change while the worker lives. Importers created later, such as
    those for ``sc.addPyFile`` zips, keep the normal behaviour."""
    global _worker_set_up
    if _worker_set_up:
        return
    _worker_set_up = True
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches = _archive_is_static


def _archive_is_static() -> None:
    """``invalidate_caches`` of a zip importer marked static."""


def _mega_batches(batches, norm_col: str, caller: str):
    """Batch prologue shared by the detectors. Per non-empty Arrow
    batch, yields ``(pdf, mega, locate)``:

    - ``mega`` is the batch's ``norm_col`` texts joined by ``\\x00``
      (normalized text is strictly ``[a-z0-9 ]``, so the separator can
      never match or merge across rows);
    - ``locate(starts)`` maps match offsets in ``mega`` to
      ``(starts, row index, row start offset)`` int64 arrays.

    HARD PRECONDITION: ``norm_col`` is normalized to the ``[a-z0-9 ]``
    single-space alphabet (what both normalizers in
    operators/normalize.py emit). Non-ASCII text, the sign that
    normalization was skipped, raises a ValueError naming ``caller`` and
    the offending row rather than an opaque error deep in an executor.

    The first call in a worker process also sets the worker up
    (:func:`_set_up_worker`).
    """
    _set_up_worker()
    for pdf in batches:
        if len(pdf) == 0:
            continue
        texts = pdf[norm_col].fillna("").tolist()
        mega = "\x00".join(texts)
        if not mega.isascii():
            bad = next(t for t in texts if not t.isascii())
            raise ValueError(
                f"{caller} requires [a-z0-9 ]-normalized text (run "
                f"normalize_turns first); offending row text: {bad[:80]!r}")

        def locate(starts, texts=texts):
            lens = np.fromiter(map(len, texts), dtype=np.int64,
                               count=len(texts))
            offsets = np.zeros(len(texts), dtype=np.int64)
            np.cumsum(lens[:-1] + 1, out=offsets[1:])
            st = np.asarray(starts, dtype=np.int64)
            rows = np.searchsorted(offsets, st, side="right") - 1
            return st, rows, offsets[rows]

        yield pdf, mega, locate


def detect_mentions_exploded(df: DataFrame, gazetteer: dict[str, str],
                             max_ngram: int = S.MAX_NGRAM,
                             norm_col: str = "norm_text") -> DataFrame:
    """P4+P5: one row per gazetteer mention, with the deterministic
    xxhash64 mention_id. Token offsets come from numpy cumulative space
    counts over the batch mega-string — O(1) per match rather than
    O(prefix) ``str.count``. Rows equal ``semantics.find_mentions`` on
    each normalized text (pinned by tests/test_mentions.py).
    """
    pattern = S.gazetteer_pattern(gazetteer, max_ngram)
    out_schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("surface", T.StringType()),
        T.StructField("tok_start", T.IntegerType()),
        T.StructField("tok_end", T.IntegerType()),
    ])

    def gen(batches):
        for pdf, mega, locate in _mega_batches(
                batches, norm_col, "detect_mentions_exploded"):
            starts: list[int] = []
            surfaces: list[str] = []
            for m in pattern.finditer(mega):
                starts.append(m.start())
                surfaces.append(m.group(0))
            if not starts:
                continue
            st, rows, row_start = locate(starts)
            arr = np.frombuffer(mega.encode("ascii"), dtype=np.uint8)
            cumspace = np.concatenate(
                ([0], np.cumsum(arr == 32, dtype=np.int64)))
            tok_start = (cumspace[st] - cumspace[row_start]).astype("int32")
            n_toks = np.fromiter((s.count(" ") + 1 for s in surfaces),
                                 dtype=np.int32, count=len(surfaces))
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"].to_numpy()[rows],
                "turn_idx": pdf["turn_idx"].to_numpy()[rows],
                "surface": surfaces,
                "tok_start": tok_start,
                "tok_end": tok_start + n_toks,
            })

    exploded = df.select("conv_id", "turn_idx", norm_col).mapInPandas(
        gen, schema=out_schema)
    return exploded.select(
        "conv_id", "turn_idx",
        F.xxhash64("conv_id", "turn_idx", F.col("tok_start")).alias("mention_id"),
        "surface", "tok_start", "tok_end")


def detect_canonical_concepts_exploded(
        df: DataFrame, gazetteer: dict[str, str],
        canonical_pdf: pd.DataFrame,
        max_ngram: int = S.MAX_NGRAM,
        norm_col: str = "norm_text") -> DataFrame:
    """Fully-fused P4+P5+P7–P9 hot path: ONE mapInPandas stage that
    regex-detects mentions (the same batch prologue as
    ``detect_mentions_exploded``), maps each surface to its precomputed
    canonical (concept_id, link_score) in-batch, and max-dedups per
    (turn, concept) — so every emitted row is already unique within its
    turn.  Output rows equal
    ``canonicalize_broadcast(detect_mentions_exploded(df), canonical_pdf)``
    reduced to one max-score row per (conv_id, turn_idx, concept_id)
    (pinned by tests/test_mentions.py).

    Scale rationale: the per-turn dedup is the ONLY source of duplicate
    (subj, pred, obj) mention triples — a turn's mentions always live in
    one Arrow batch, so collapsing them here makes the downstream triple
    stream globally unique by construction and deletes the full-corpus
    dedup shuffle from ``build_triples_fast``, leaving it the P11
    respread and the ``replies_to`` window as its only wide boundaries
    (plan-pinned by tests/test_plans.py). At 10^12 turns that shuffle
    moves ~the whole triple table through shared disk/network; this
    trades it for a vectorized in-batch lexsort. The broadcast-join
    stage disappears with it: the canonical table (a few hundred rows)
    ships once per python worker in the UDF closure, exactly like the
    gazetteer.
    """
    pattern = S.gazetteer_pattern(gazetteer, max_ngram)
    # surface -> (dense concept code, link_score); unmatched surfaces
    # (sub-threshold, absent from the canonical table) drop out exactly
    # like the inner broadcast join they replace.
    concept_ids = canonical_pdf["concept_id"].astype(str).unique().tolist()
    code_of = {c: i for i, c in enumerate(concept_ids)}
    canon_map = {
        r.surface: (code_of[r.concept_id], float(r.link_score))
        for r in canonical_pdf.itertuples(index=False)
    }
    concept_arr = np.asarray(concept_ids, dtype=object)

    out_schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("concept_id", T.StringType()),
        T.StructField("link_score", T.DoubleType()),
    ])

    def gen(batches):
        for pdf, mega, locate in _mega_batches(
                batches, norm_col, "detect_canonical_concepts_exploded"):
            starts: list[int] = []
            codes: list[int] = []
            scores: list[float] = []
            get = canon_map.get
            for m in pattern.finditer(mega):
                hit = get(m.group(0))
                if hit is None:
                    continue
                starts.append(m.start())
                codes.append(hit[0])
                scores.append(hit[1])
            if not starts:
                continue
            _, rows, _ = locate(starts)
            cid = np.asarray(codes, dtype=np.int64)
            sc = np.asarray(scores, dtype=np.float64)
            # per-(row, concept) max: lexsort (primary row, then concept,
            # then score descending) and keep each group's first entry
            order = np.lexsort((-sc, cid, rows))
            r_s, c_s, s_s = rows[order], cid[order], sc[order]
            first = np.ones(len(r_s), dtype=bool)
            first[1:] = (r_s[1:] != r_s[:-1]) | (c_s[1:] != c_s[:-1])
            r_f, c_f, s_f = r_s[first], c_s[first], s_s[first]
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"].to_numpy()[r_f],
                "turn_idx": pdf["turn_idx"].to_numpy()[r_f],
                "concept_id": concept_arr[c_f],
                "link_score": s_f,
            })

    return df.select("conv_id", "turn_idx", norm_col).mapInPandas(
        gen, schema=out_schema)
