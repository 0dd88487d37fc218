"""Driver queries: `dedup` domain."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ... import semantics as S


from ._shared import *  # noqa: F401,F403


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_copies,
       min(doc_id) AS canonical_doc
FROM documents GROUP BY md5(text)
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (d.groupBy(F.md5("text").alias("text_hash"))
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.min("doc_id").alias("canonical_doc")))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup pairs (SURVEY: n-gram Jaccard dedup,
    operators/dedup.py:jaccard_near_dup_pairs). Inverted-index join on
    shared sub-cap tokens (hot-token hygiene), exact verify on
    candidates — never a full cross join."""
    from ...operators.dedup import jaccard_near_dup_pairs
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < JACCARD_MAX_DOC)
    return jaccard_near_dup_pairs(d, JACCARD_THRESHOLD,
                                  df_cap=JACCARD_DF_CAP)


SQL_DEDUP_JACCARD = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND doc_id < {JACCARD_MAX_DOC}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
rare AS (
  SELECT tok FROM toks GROUP BY tok HAVING count(*) <= {JACCARD_DF_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (SELECT t.* FROM toks t JOIN rare r ON r.tok = t.tok) a
  JOIN (SELECT t.* FROM toks t JOIN rare r ON r.tok = t.tok) b
    ON a.tok = b.tok AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.doc_id = c.doc_a
  JOIN toks b ON b.doc_id = c.doc_b AND b.tok = a.tok
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(cast(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE round(cast(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) >= {JACCARD_THRESHOLD}
"""

def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (task addendum): exact all-pairs
    cosine >= threshold via the distributed grid self-join (n_blocks
    forced so the scale path — not the small-N broadcast shortcut — is
    what the oracle verifies). See operators/simsearch.py."""
    from ...operators.simsearch import embedding_near_dup_pairs
    e = _tbl(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, threshold=EMB_DEDUP_THRESHOLD,
                                    n_blocks=8)


SQL_DEDUP_EMBEDDING = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
                                    cast(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(cast(a.embedding AS DOUBLE[]),
                                   cast(b.embedding AS DOUBLE[])), 6)
      >= {EMB_DEDUP_THRESHOLD}
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup (shingle → 64 min-hashes → 16 bands →
    bucket join → exact Jaccard verify). Uses the engine-portable md5
    hash flavor so DuckDB replays the identical signature math; the
    production default is the faster xxhash64 flavor (same layout,
    covered by pytest)."""
    from ...operators.dedup import minhash_dedup_pairs
    return minhash_dedup_pairs(_docs(spark, sf_dir),
                               threshold=MINHASH_THRESHOLD, portable=True)


def _sql_minhash_prefix(k: int = 3, n_hashes: int = 64, n_bands: int = 16,
                        max_doc: int | None = None) -> str:
    """Shared CTE body: documents → shingles → portable md5 signature →
    LSH bands → candidate pairs (``cand``) + shingle table (``sh``).
    Replays operators/dedup.py minhash_signatures(portable=True) /
    lsh_candidate_pairs digit-by-digit. ``max_doc`` bounds the corpus
    (the audit sample); None = all documents (the LSH pair query)."""
    from ... import semantics as S
    rpb = n_hashes // n_bands
    mersenne = (1 << 31) - 1
    where = f"WHERE doc_id < {max_doc}" if max_doc is not None else ""
    digits = ", ".join(
        f"strpos('0123456789abcdef', substr(h, {p + 1}, 1)) - 1 AS d{p}"
        for p in range(16))
    x1 = " + ".join(f"d{p} * {16 ** (7 - p)}" for p in range(8))
    x2 = " + ".join(f"d{p} * {16 ** (15 - p)}" for p in range(8, 16))
    mins = []
    for i in range(n_hashes):
        a = S.stable_hash("minhash-a", i, mod=1 << 16) | 1
        b = S.stable_hash("minhash-b", i, mod=1 << 16) | 1
        c = S.stable_hash("minhash-c", i, mod=mersenne)
        mins.append(f"min((x1 * {a} + x2 * {b} + {c}) % {mersenne}) AS h{i}")
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ',' || ".join(f"CAST(h{b * rpb + j} AS VARCHAR)"
                             for j in range(rpb))
        + ") AS band_hash FROM sig"
        for b in range(n_bands))
    return f"""tokd AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents {where}
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i + 1:i + {k}], ' ') AS shingle
  FROM tokd, unnest(range(0, greatest(len(toks) - {k}, 0) + 1)) AS r(i)
),
hd AS (SELECT doc_id, {digits} FROM (SELECT doc_id, md5(shingle) AS h FROM sh)),
hx AS (SELECT doc_id, {x1} AS x1, {x2} AS x2 FROM hd),
sig AS (SELECT doc_id, {', '.join(mins)} FROM hx GROUP BY doc_id),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)"""


def _sql_dedup_minhash(threshold: float = MINHASH_THRESHOLD, k: int = 3,
                       n_hashes: int = 64, n_bands: int = 16) -> str:
    prefix = _sql_minhash_prefix(k=k, n_hashes=n_hashes, n_bands=n_bands)
    return f"""
WITH {prefix},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(cast(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE round(cast(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) >= {threshold}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup via the engine-portable md5-bit flavor (four
    16-bit chunks; candidates share a chunk, hamming <= threshold). The
    xxhash64 packed-long flavor is the prod default (pytest-covered)."""
    from ...operators.dedup import (simhash_chunks_portable,
                                   simhash_near_pairs_chunks)
    return simhash_near_pairs_chunks(
        simhash_chunks_portable(_docs(spark, sf_dir)),
        max_hamming=SIMHASH_MAX_HAMMING)


def _sql_dedup_simhash(max_hamming: int = SIMHASH_MAX_HAMMING) -> str:
    digits = ", ".join(
        f"strpos('0123456789abcdef', substr(h, {p + 1}, 1)) - 1 AS d{p}"
        for p in range(16))
    votes = ",\n    ".join(
        f"sum(CASE WHEN (d{b // 4} >> {b % 4}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64))
    chunk_exprs = ", ".join(
        "(" + " + ".join(f"CASE WHEN b{i * 16 + j} > 0 THEN {1 << j} ELSE 0 END"
                         for j in range(16)) + f")::INT AS c{i}"
        for i in range(4))
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {i} AS chunk_idx, c{i} AS chunk, c0, c1, c2, c3 FROM chunks"
        for i in range(4))
    ham = " + ".join(f"bit_count(xor(a{i}, b{i}))" for i in range(4))
    return f"""
WITH tokd AS (
  SELECT doc_id, t.tok
  FROM documents,
       unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t(tok)
),
hx AS (SELECT doc_id, md5(tok) AS h FROM tokd),
hd AS (SELECT doc_id, {digits} FROM hx),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hd GROUP BY doc_id
),
chunks AS (SELECT doc_id, {chunk_exprs} FROM votes),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.c0 AS a0, a.c1 AS a1, a.c2 AS a2, a.c3 AS a3,
         b.c0 AS b0, b.c1 AS b1, b.c2 AS b2, b.c3 AS b3
  FROM bands a JOIN bands b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ({ham})::INT AS hamming
FROM cand WHERE ({ham}) <= {max_hamming}
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup pair graph (iterative
    min-label propagation, operators/dedup.py) — the cluster view that
    turns pairwise dedup verdicts into canonical groups. Oracle:
    DuckDB recursive-CTE transitive closure + min label."""
    from ...operators.dedup import connected_components
    pairs = q_dedup_jaccard(spark, sf_dir)
    nodes = (_docs(spark, sf_dir)
             .filter(F.col("doc_id") < JACCARD_MAX_DOC).select("doc_id"))
    return connected_components(pairs, nodes)


def _sql_dedup_components() -> str:
    return f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_JACCARD}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT doc_id FROM documents WHERE doc_id < {JACCARD_MAX_DOC}),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
)
SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
"""


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-lite repeated-span coverage
    (operators/dedup.repeated_span_coverage): per-doc fraction of token
    positions covered by an 8-gram occurring >= 2 times in the
    corpus."""
    from ...operators.dedup import repeated_span_coverage
    return repeated_span_coverage(_docs(spark, sf_dir), n=SPAN_N)


SQL_DEDUP_SPANS = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     t -> t <> '') AS tk
  FROM documents),
grams AS (
  SELECT doc_id, len(tk) AS n_tokens, i,
         md5(array_to_string(tk[i:i + {SPAN_N} - 1], ' ')) AS gram
  FROM (SELECT doc_id, tk,
               unnest(range(1, greatest(len(tk) - {SPAN_N} + 2, 1))) AS i
        FROM toks)),
shared AS (
  SELECT doc_id, n_tokens, i
  FROM grams
  QUALIFY count(*) OVER (PARTITION BY gram) >= 2),
spans AS (
  SELECT doc_id, n_tokens,
         least({SPAN_N},
               coalesce(lead(i) OVER (PARTITION BY doc_id ORDER BY i),
                        i + {SPAN_N}) - i) AS cov
  FROM shared)
SELECT doc_id, n_tokens, count(*) AS n_repeated_spans,
       CAST(sum(cov) AS BIGINT) AS covered_tokens,
       round(CAST(sum(cov) AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0.0
           AS coverage_frac
FROM spans GROUP BY doc_id, n_tokens
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-corpus near-dup flagging
    (operators/dedup.py:incremental_near_dup): docs with
    doc_id % 10 == 0 play the incoming batch, the rest the existing
    corpus; capped to the dedup_jaccard doc range so posting lists stay
    bounded on the synthetic vocabulary."""
    from ...operators.dedup import incremental_near_dup
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < JACCARD_MAX_DOC)
    new = d.filter(F.col("doc_id") % INCR_DEDUP_MOD == 0)
    old = d.filter(F.col("doc_id") % INCR_DEDUP_MOD != 0)
    return incremental_near_dup(new, old, threshold=JACCARD_THRESHOLD)


SQL_DEDUP_INCREMENTAL = f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < {JACCARD_MAX_DOC}),
toks AS (
  SELECT DISTINCT doc_id, t.tok
  FROM d, unnest(string_split(coalesce(text, ''), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
nt AS (SELECT * FROM toks WHERE doc_id % {INCR_DEDUP_MOD} = 0),
ot AS (SELECT * FROM toks WHERE doc_id % {INCR_DEDUP_MOD} <> 0),
n_sizes AS (SELECT doc_id, count(*) AS sz_n FROM nt GROUP BY doc_id),
o_sizes AS (SELECT doc_id, count(*) AS sz_o FROM ot GROUP BY doc_id),
inter AS (
  SELECT n.doc_id AS new_id, o.doc_id AS old_id, count(*) AS inter
  FROM nt n JOIN ot o ON n.tok = o.tok
  GROUP BY n.doc_id, o.doc_id
),
scored AS (
  SELECT i.new_id, i.old_id,
         round(cast(i.inter AS DOUBLE) / (ns.sz_n + os.sz_o - i.inter), 6)
           AS jaccard
  FROM inter i
  JOIN n_sizes ns ON i.new_id = ns.doc_id
  JOIN o_sizes os ON i.old_id = os.doc_id
),
best AS (
  SELECT new_id, old_id AS best_match, jaccard AS best_jaccard
  FROM (SELECT *, row_number() OVER (PARTITION BY new_id
                                     ORDER BY jaccard DESC, old_id ASC) AS rnk
        FROM scored)
  WHERE rnk = 1
)
SELECT d.doc_id, b.best_match,
       coalesce(b.best_jaccard, 0.0) AS best_jaccard,
       CAST(coalesce(b.best_jaccard, 0.0) >= {JACCARD_THRESHOLD} AS INT)
         AS is_dup
FROM (SELECT doc_id FROM d WHERE doc_id % {INCR_DEDUP_MOD} = 0) d
LEFT JOIN best b ON d.doc_id = b.new_id
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology-aware semantic dedup: cluster turns by their exact
    linked-concept set (operators/dedup.py:semantic_fingerprint_dedup)
    — duplicates by WHAT is discussed, not by surface text."""
    from ...operators.dedup import semantic_fingerprint_dedup
    tags = (_mentions_df(spark, sf_dir)
            .select("conv_id", "turn_idx", "concept_id").distinct())
    return semantic_fingerprint_dedup(tags)


SQL_DEDUP_SEMANTIC = f"""
WITH {_MENTIONS_CTE},
tags AS (SELECT DISTINCT conv_id, turn_idx, concept_id FROM mentions),
per_unit AS (
  SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS unit,
         string_agg(concept_id, ',' ORDER BY concept_id) AS fingerprint,
         count(*) AS set_size
  FROM tags GROUP BY conv_id, turn_idx
)
SELECT fingerprint,
       CAST(max(set_size) AS BIGINT) AS set_size,
       count(*) AS n_units,
       min(unit) AS keeper
FROM per_unit GROUP BY fingerprint
"""


def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (operators/sketch.py): the probe
    subset's 6-gram set folds into a fixed 65536-bit filter (the scale
    path when the membership set outgrows an exact broadcast), the
    corpus probes it map-side, and the exact audit columns pin the
    sketch's false-positive behavior as deterministic — both engines
    rebuild the identical bit set digit-by-digit from md5."""
    from ...operators.sketch import bloom_decontaminate
    d = _docs(spark, sf_dir)
    probes = d.filter(F.col("doc_id") % CONTAM_PROBE_MOD == 0)
    corpus = d.filter(F.col("doc_id") % CONTAM_PROBE_MOD != 0)
    return bloom_decontaminate(corpus, probes, n=BLOOM_N)


def _sql_dedup_bloom() -> str:
    def pos(h: str) -> str:
        return " + ".join(
            f"(strpos('0123456789abcdef', substr({h}, {p + 1}, 1)) - 1)"
            f" * {16 ** (3 - p)}" for p in range(4))

    salted = pos("md5(gram || ':' || CAST(i AS VARCHAR))")
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     t -> t <> '') AS tk
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(tk[i:i + {BLOOM_N} - 1], ' ')) AS gram
  FROM (SELECT doc_id, tk,
               unnest(range(1, greatest(len(tk) - {BLOOM_N} + 2, 1))) AS i
        FROM toks)),
pg AS (SELECT DISTINCT gram FROM grams
       WHERE doc_id % {CONTAM_PROBE_MOD} = 0),
bits AS (
  SELECT DISTINCT {salted} AS pos
  FROM pg CROSS JOIN (SELECT unnest(range(0, 3)) AS i)),
cg AS (SELECT doc_id, gram FROM grams
       WHERE doc_id % {CONTAM_PROBE_MOD} <> 0),
cpos AS (
  SELECT doc_id, gram, {salted} AS pos
  FROM cg CROSS JOIN (SELECT unnest(range(0, 3)) AS i)),
bhit AS (
  SELECT doc_id, gram FROM cpos JOIN bits USING (pos)
  GROUP BY doc_id, gram HAVING count(*) = 3),
bloom AS (SELECT doc_id, count(*) AS n_bloom_hits FROM bhit
          GROUP BY doc_id),
tru AS (SELECT doc_id, count(*) AS n_true_hits FROM cg JOIN pg USING (gram)
        GROUP BY doc_id),
perdoc AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(b.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
       CAST(coalesce(t.n_true_hits, 0) AS BIGINT) AS n_true_hits,
       CAST(coalesce(b.n_bloom_hits, 0) - coalesce(t.n_true_hits, 0)
            AS BIGINT) AS n_false_pos,
       coalesce(b.n_bloom_hits, 0) > 0 AS is_flagged
FROM (SELECT DISTINCT doc_id FROM documents
      WHERE doc_id % {CONTAM_PROBE_MOD} <> 0) d
LEFT JOIN perdoc p ON p.doc_id = d.doc_id
LEFT JOIN bloom b ON b.doc_id = d.doc_id
LEFT JOIN tru t ON t.doc_id = d.doc_id
"""


def q_dedup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup: record-linkage prefix blocking (md5 of
    the first 4 tokens) generates candidates, exact Levenshtein over a
    bounded 120-char window verifies — O(block²) only inside blocks,
    with hot blocks (> EDIT_BLOCK_CAP docs, e.g. a boilerplate
    preamble shared corpus-wide) dropped from candidate generation
    the same way dedup_jaccard df-caps hot shingles. The 120-char
    verify window caps the O(n·m) DP per pair; both engines run the
    identical character-level Levenshtein, so the pairing pins the
    distance itself."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                    lambda t: t != "")
    t = d.select(
        "doc_id",
        F.md5(F.array_join(F.slice(toks, 1, EDIT_PREFIX_TOKS), " "))
        .alias("blk"),
        F.substring(F.coalesce(F.col("text"), F.lit("")),
                    1, EDIT_VERIFY_CHARS).alias("head"))
    sizes = t.groupBy("blk").agg(F.count(F.lit(1)).alias("n"))
    cold = t.join(F.broadcast(sizes.filter(F.col("n") <= EDIT_BLOCK_CAP)
                              .select("blk")), "blk")
    a = cold.select(F.col("blk"), F.col("doc_id").alias("doc_a"),
                    F.col("head").alias("head_a"))
    b = cold.select(F.col("blk"), F.col("doc_id").alias("doc_b"),
                    F.col("head").alias("head_b"))
    return (a.join(b, "blk")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("lev", F.levenshtein("head_a", "head_b"))
            .filter(F.col("lev") <= EDIT_MAX_DIST)
            .select("doc_a", "doc_b", F.col("lev").cast("long").alias("lev"))
            )


def _sql_dedup_edit() -> str:
    return f"""
WITH t AS (
  SELECT doc_id,
         md5(array_to_string(list_filter(
             string_split(coalesce(text, ''), ' '),
             x -> x <> '')[1:{EDIT_PREFIX_TOKS}], ' ')) AS blk,
         substr(coalesce(text, ''), 1, {EDIT_VERIFY_CHARS}) AS head
  FROM documents),
cold AS (
  SELECT t.* FROM t
  JOIN (SELECT blk FROM t GROUP BY blk
        HAVING count(*) <= {EDIT_BLOCK_CAP}) c USING (blk))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.head, b.head) AS BIGINT) AS lev
FROM cold a JOIN cold b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= {EDIT_MAX_DIST}
"""


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document per near-dup cluster — the end product of
    the fuzzy-dedup stack: connected components over the verified
    Jaccard pair graph, then per cluster keep the LONGEST member
    (ties → lowest doc_id), the standard "keep best version" rule.
    One row per cluster with the survivor and the cluster size — what
    a curation pipeline joins back to drop the other members. The
    rank window partitions by component (cluster sizes are bounded by
    the dup-graph's diameter, not the corpus)."""
    comp = q_dedup_components(spark, sf_dir)
    docs = (_docs(spark, sf_dir)
            .filter(F.col("doc_id") < JACCARD_MAX_DOC)
            .select("doc_id", "n_chars"))
    j = comp.join(docs, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    return (j.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("component").cast("long").alias("component"),
                    F.col("doc_id").cast("long").alias("canonical_doc_id"),
                    F.col("n_chars").cast("long").alias("canonical_n_chars"))
            .join(comp.groupBy("component")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_docs")),
                  "component"))


def _sql_dedup_canonical() -> str:
    comp = _sql_dedup_components()
    return f"""
WITH comp AS MATERIALIZED ({comp}),
j AS (
  SELECT c.component, c.doc_id, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
keep AS (
  SELECT component, doc_id AS canonical_doc_id,
         n_chars AS canonical_n_chars
  FROM (SELECT component, doc_id, n_chars,
               row_number() OVER (PARTITION BY component
                                  ORDER BY n_chars DESC, doc_id ASC) AS rk
        FROM j) WHERE rk = 1)
SELECT CAST(k.component AS BIGINT) AS component,
       CAST(k.canonical_doc_id AS BIGINT) AS canonical_doc_id,
       CAST(k.canonical_n_chars AS BIGINT) AS canonical_n_chars,
       CAST(s.n_docs AS BIGINT) AS n_docs
FROM keep k JOIN (SELECT component, count(*) AS n_docs
                  FROM comp GROUP BY 1) s ON s.component = k.component
"""


# ---------------------------------------------------------------------------
# Round-4 wave 10: containment near-dup, SPARQL DESCRIBE, two-stage retrieval
# ---------------------------------------------------------------------------

def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set containment near-dup (operators/dedup.py
    containment_pairs) — the subset/quote detector: a short document
    fully embedded in a long one has tiny Jaccard (the union is
    dominated by the long side) but containment |A∩B|/min(|A|,|B|) ≈ 1.
    Same posting-list candidate shape + df-cap hot-token hygiene as
    dedup_jaccard, exact-ppm scores, pairs oriented small→big, and ONE
    row per contained doc — its best container (highest containment,
    most-asymmetric tie-break)."""
    from ...operators.dedup import containment_pairs
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < JACCARD_MAX_DOC)
    return containment_pairs(d, CONTAIN_THRESHOLD_PPM,
                             df_cap=JACCARD_DF_CAP)


SQL_DEDUP_CONTAINMENT = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND doc_id < {JACCARD_MAX_DOC}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
rare AS (
  SELECT tok FROM toks GROUP BY tok HAVING count(*) <= {JACCARD_DF_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (SELECT t.* FROM toks t JOIN rare r ON r.tok = t.tok) a
  JOIN (SELECT t.* FROM toks t JOIN rare r ON r.tok = t.tok) b
    ON a.tok = b.tok AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.doc_id = c.doc_a
  JOIN toks b ON b.doc_id = c.doc_b AND b.tok = a.tok
  GROUP BY c.doc_a, c.doc_b
),
j AS (
  SELECT i.doc_a, i.doc_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id),
pairs AS (
  SELECT CAST(CASE WHEN sz_a <= sz_b THEN doc_a ELSE doc_b END AS BIGINT)
           AS doc_small,
         CAST(CASE WHEN sz_a <= sz_b THEN doc_b ELSE doc_a END AS BIGINT)
           AS doc_big,
         inter * 1000000 // least(sz_a, sz_b) AS containment_ppm,
         inter * 1000000 // (sz_a + sz_b - inter) AS jaccard_ppm
  FROM j
  WHERE inter * 1000000 // least(sz_a, sz_b) >= {CONTAIN_THRESHOLD_PPM})
SELECT doc_small, doc_big, containment_ppm, jaccard_ppm
FROM (SELECT *, row_number() OVER (PARTITION BY doc_small
                                   ORDER BY containment_ppm DESC,
                                            jaccard_ppm ASC,
                                            doc_big ASC) AS rk
      FROM pairs)
WHERE rk = 1
"""


def q_dedup_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit of the MinHash-LSH blocker on the bounded
    audit sample: pairs completeness (blocker recall vs exact
    shingle-Jaccard truth), pairwise precision, and reduction ratio —
    the ER metrics [K] that justify trusting LSH before a 100-TB run.
    One summary row, exact-integer ppm."""
    from ...operators.dedup import blocking_audit
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < JACCARD_MAX_DOC)
    return blocking_audit(d, threshold=MINHASH_THRESHOLD)


def _sql_dedup_blocking_audit() -> str:
    prefix = _sql_minhash_prefix(max_doc=JACCARD_MAX_DOC)
    return f"""
WITH {prefix},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE round(cast(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6)
        >= {MINHASH_THRESHOLD}),
m AS (
  SELECT sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS n_cand,
         sum(CASE WHEN in_true THEN 1 ELSE 0 END) AS n_true,
         sum(CASE WHEN in_cand AND in_true THEN 1 ELSE 0 END) AS n_hit
  FROM (SELECT coalesce(c.doc_a, t.doc_a) AS doc_a,
               c.doc_a IS NOT NULL AS in_cand,
               t.doc_a IS NOT NULL AS in_true
        FROM cand c
        FULL OUTER JOIN truth t
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)),
nd AS (SELECT count(*) AS n_docs FROM sizes)
SELECT CAST(nd.n_docs AS BIGINT) AS n_docs,
       CAST(m.n_cand AS BIGINT) AS n_cand,
       CAST(m.n_true AS BIGINT) AS n_true,
       CAST(m.n_hit AS BIGINT) AS n_hit,
       CAST(m.n_hit * 1000000 // m.n_true AS BIGINT)
         AS pairs_completeness_ppm,
       CAST(m.n_hit * 1000000 // m.n_cand AS BIGINT) AS precision_ppm,
       CAST(1000000 - m.n_cand * 1000000 // (nd.n_docs * (nd.n_docs - 1) // 2)
            AS BIGINT) AS reduction_ratio_ppm
FROM m, nd
"""


# ---------------------------------------------------------------------------
# Wave 12: discourse-layer construction (recency antecedents, entity
# salience, turn novelty), the entity-linking alias dictionary, and
# TransE-style triple plausibility scoring.
# ---------------------------------------------------------------------------

def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings report over the near-dup components: per multi-doc
    cluster — size, survivor, total vs duplicate bytes, exact savings
    ratio. The go/no-go artifact for a 100-TB dedup pass. One join +
    one component-keyed hash agg on top of dedup_components."""
    from ...operators.dedup import dedup_savings
    comp = q_dedup_components(spark, sf_dir)
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < JACCARD_MAX_DOC)
    return dedup_savings(comp, docs)


def _sql_dedup_savings() -> str:
    return f"""
WITH comp AS MATERIALIZED ({_sql_dedup_components()}),
labeled AS (
  SELECT c.component, c.doc_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
  WHERE d.doc_id < {JACCARD_MAX_DOC}),
agg AS (
  SELECT component, count(*) AS n_docs, min(doc_id) AS rep_doc,
         sum(n_chars) AS total_chars,
         arg_min(n_chars, doc_id) AS rep_chars
  FROM labeled GROUP BY 1)
SELECT CAST(component AS BIGINT) AS component,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(rep_doc AS BIGINT) AS rep_doc,
       CAST(total_chars AS BIGINT) AS total_chars,
       CAST(total_chars - rep_chars AS BIGINT) AS dup_chars,
       CAST((total_chars - rep_chars) * 1000000 // total_chars AS BIGINT)
         AS savings_ppm
FROM agg WHERE n_docs >= 2
"""


# ---------------------------------------------------------------------------
# Wave 14: SPARQL set-operator surface and the RDF publishing layer
# (reification + VoID self-description).
# ---------------------------------------------------------------------------

def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold calibration sweep [K: the curve every team plots
    before committing to a near-dup cutoff — too low deletes real
    content, too high ships duplicates]: score the Jaccard candidate
    pairs ONCE (threshold 0 = keep every verified candidate), then for
    each grid threshold report surviving pair count and the number of
    distinct documents touched by >=1 surviving pair (the upper bound
    on removals a downstream canonical-survivor pass could make).

    Shape: the one posting-list candidate join + exact verify from
    dedup_jaccard (df-capped hot-token hygiene included), then a
    constant 5-wide threshold explode over the SCORED PAIRS (not the
    corpus) and two tiny hash aggs keyed by threshold. The expensive
    pair scoring is shared across all grid points — the whole point of
    sweeping offline instead of re-running dedup per threshold."""
    from ...operators.dedup import jaccard_near_dup_pairs
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < JACCARD_MAX_DOC)
    pairs = jaccard_near_dup_pairs(d, 0.0, df_cap=JACCARD_DF_CAP)
    grid_col = F.explode(F.array(*[F.lit(float(t))
                                   for t in SWEEP_THRESHOLDS]))
    surv = (pairs.select("doc_a", "doc_b", "jaccard",
                         grid_col.alias("threshold"))
            .filter(F.col("jaccard") >= F.col("threshold")))
    per_pairs = surv.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"))
    docs_in = (surv.select(
        "threshold", F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("threshold")
        .agg(F.countDistinct("doc_id").cast("long")
             .alias("n_docs_in_pairs")))
    base = spark.createDataFrame([(float(t),) for t in SWEEP_THRESHOLDS],
                                 "threshold double")
    return (base.join(per_pairs, "threshold", "left")
            .join(docs_in, "threshold", "left")
            .select("threshold",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    F.coalesce("n_docs_in_pairs", F.lit(0)).cast("long")
                    .alias("n_docs_in_pairs")))


def _sql_dedup_threshold_sweep() -> str:
    grid = ", ".join(f"CAST({t} AS DOUBLE)" for t in SWEEP_THRESHOLDS)
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> '' AND doc_id < {JACCARD_MAX_DOC}),
sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
rare AS (
  SELECT tok FROM toks GROUP BY tok HAVING count(*) <= {JACCARD_DF_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (SELECT t.* FROM toks t JOIN rare r ON r.tok = t.tok) a
  JOIN (SELECT t.* FROM toks t JOIN rare r ON r.tok = t.tok) b
    ON a.tok = b.tok AND a.doc_id < b.doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN toks a ON a.doc_id = c.doc_a
  JOIN toks b ON b.doc_id = c.doc_b AND b.tok = a.tok
  GROUP BY c.doc_a, c.doc_b),
scored AS (
  SELECT i.doc_a, i.doc_b,
         round(cast(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6)
           AS jaccard
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id),
grid AS (SELECT unnest([{grid}]) AS threshold),
surv AS (
  SELECT g.threshold, s.doc_a, s.doc_b
  FROM grid g JOIN scored s ON s.jaccard >= g.threshold),
pp AS (SELECT threshold, count(*) AS n_pairs FROM surv GROUP BY 1),
di AS (
  SELECT threshold, count(DISTINCT doc_id) AS n_docs_in_pairs
  FROM (SELECT threshold, doc_a AS doc_id FROM surv
        UNION ALL SELECT threshold, doc_b FROM surv)
  GROUP BY 1)
SELECT g.threshold,
       CAST(coalesce(pp.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(di.n_docs_in_pairs, 0) AS BIGINT) AS n_docs_in_pairs
FROM grid g
LEFT JOIN pp ON pp.threshold = g.threshold
LEFT JOIN di ON di.threshold = g.threshold
"""


def q_dedup_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster quality audit [K: the post-clustering check an
    ER/dedup pipeline ships before deleting anything — transitive
    closure can chain A~B~C into one cluster even when A and C are
    dissimilar, and the per-cluster MINIMUM pair similarity is exactly
    the chaining-damage signal]: the verified Jaccard pairs joined to
    their connected component, then per multi-doc cluster: member
    count, in-cluster verified-pair count, pair density vs the
    complete graph in exact ppm, and min / mean pair similarity as
    exact ppm integers (jaccard is round6, so *1e6 rounds exactly; the
    mean is an integer DIV — no cross-row double sums).

    Shape: the jaccard posting-list join + the iterative components
    (both existing paired plans), one broadcast-able component-id join
    onto the pairs, two hash aggs. Singleton components carry no pair
    and are excluded (nothing to audit)."""
    pairs = q_dedup_jaccard(spark, sf_dir)
    comp = q_dedup_components(spark, sf_dir)
    ca = comp.select(F.col("doc_id").alias("doc_a"),
                     F.col("component").alias("cluster"))
    j = (pairs.join(F.broadcast(ca), "doc_a")
         .select("cluster",
                 F.expr("CAST(round(jaccard * 1000000, 0) AS BIGINT)")
                 .alias("jac_ppm")))
    pg = j.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("jac_ppm").cast("long").alias("min_jac_ppm"),
        F.expr("sum(jac_ppm) DIV count(1)").cast("long")
        .alias("mean_jac_ppm"))
    sizes = (comp.groupBy("component")
             .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
             .filter(F.col("n_docs") > 1)
             .select(F.col("component").alias("cluster"), "n_docs"))
    return (sizes.join(pg, "cluster", "left")
            .select("cluster", "n_docs",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    F.expr("coalesce(n_pairs, 0) * 2000000L"
                           " DIV (n_docs * (n_docs - 1))").cast("long")
                    .alias("density_ppm"),
                    "min_jac_ppm", "mean_jac_ppm"))


def _sql_dedup_cluster_quality() -> str:
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({SQL_DEDUP_JACCARD}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
nodes AS (SELECT doc_id FROM documents WHERE doc_id < {JACCARD_MAX_DOC}),
reach(a, b) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
j AS (
  SELECT c.component AS cluster,
         CAST(round(p.jaccard * 1000000, 0) AS BIGINT) AS jac_ppm
  FROM pairs p JOIN comp c ON c.doc_id = p.doc_a),
pg AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(min(jac_ppm) AS BIGINT) AS min_jac_ppm,
         CAST(sum(jac_ppm) // count(*) AS BIGINT) AS mean_jac_ppm
  FROM j GROUP BY 1),
sizes AS (
  SELECT component AS cluster, CAST(count(*) AS BIGINT) AS n_docs
  FROM comp GROUP BY 1 HAVING count(*) > 1)
SELECT s.cluster, s.n_docs,
       CAST(coalesce(pg.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(pg.n_pairs, 0) * 2000000
            // (s.n_docs * (s.n_docs - 1)) AS BIGINT) AS density_ppm,
       pg.min_jac_ppm, pg.mean_jac_ppm
FROM sizes s LEFT JOIN pg ON pg.cluster = s.cluster
"""


def q_dedup_population_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimate per source pair [K: the
    Lincoln-Petersen/Chapman estimator applied to corpus coverage —
    treat each source as a 'capture' of the underlying document
    population; the cross-source overlap of exact-dup hashes
    estimates how many unique documents EXIST, telling a crawl team
    how much of the web segment their union has actually covered]:
    for every unordered source pair the per-source distinct-text
    counts, the overlap, the observed union, the Chapman estimate
    (nA+1)(nB+1)/(m+1) - 1 (floored — exact integer DIV, documented),
    and observed coverage of that estimate in ppm.

    Shape: one (source, md5) distinct hash agg, a self-equi-join on
    the hash key (bounded by the tiny source vocabulary per hash —
    never all-pairs across docs), two small aggs, a broadcast join of
    source-level totals. Output is source-pair-sized."""
    d = _docs(spark, sf_dir)
    sh = (d.select("source",
                   F.md5(F.coalesce(F.col("text"), F.lit("")))
                   .alias("h"))
          .distinct())
    per = sh.groupBy("source").agg(F.count(F.lit(1)).cast("long")
                                   .alias("n"))
    a = sh.select(F.col("source").alias("sa"), "h")
    b = sh.select(F.col("source").alias("sb"), "h")
    ov = (a.join(b, "h")
          .filter(F.col("sa") < F.col("sb"))
          .groupBy("sa", "sb")
          .agg(F.count(F.lit(1)).cast("long").alias("overlap")))
    pairs = (per.alias("pa").crossJoin(F.broadcast(per.alias("pb")))
             .filter(F.col("pa.source") < F.col("pb.source"))
             .select(F.col("pa.source").alias("sa"),
                     F.col("pb.source").alias("sb"),
                     F.col("pa.n").alias("n_a"),
                     F.col("pb.n").alias("n_b")))
    j = (pairs.join(ov, ["sa", "sb"], "left")
         .select("sa", "sb", "n_a", "n_b",
                 F.coalesce("overlap", F.lit(0)).cast("long")
                 .alias("overlap")))
    return (j.withColumn("union_obs",
                         (F.col("n_a") + F.col("n_b")
                          - F.col("overlap")).cast("long"))
            .withColumn("chapman_est", F.expr(
                "(n_a + 1) * (n_b + 1) DIV (overlap + 1) - 1")
                .cast("long"))
            .withColumn("coverage_ppm", F.expr(
                "union_obs * 1000000 DIV chapman_est").cast("long"))
            .select(F.col("sa").alias("source_a"),
                    F.col("sb").alias("source_b"),
                    "n_a", "n_b", "overlap", "union_obs",
                    "chapman_est", "coverage_ppm"))


def _sql_dedup_population_est() -> str:
    return """
WITH sh AS (
  SELECT DISTINCT source, md5(coalesce(text, '')) AS h
  FROM documents),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT a.source AS sa, b.source AS sb,
         CAST(count(*) AS BIGINT) AS overlap
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2),
pairs AS (
  SELECT pa.source AS sa, pb.source AS sb, pa.n AS n_a, pb.n AS n_b
  FROM per pa CROSS JOIN per pb
  WHERE pa.source < pb.source),
j AS (
  SELECT sa, sb, n_a, n_b,
         CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap
  FROM pairs LEFT JOIN ov USING (sa, sb))
SELECT sa AS source_a, sb AS source_b, n_a, n_b, overlap,
       CAST(n_a + n_b - overlap AS BIGINT) AS union_obs,
       CAST((n_a + 1) * (n_b + 1) // (overlap + 1) - 1 AS BIGINT)
         AS chapman_est,
       CAST((n_a + n_b - overlap) * 1000000
            // ((n_a + 1) * (n_b + 1) // (overlap + 1) - 1)
            AS BIGINT) AS coverage_ppm
FROM j
"""


def q_dedup_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-prefix collision audit [K: the partition-key QA every
    hash-sharded system needs — dedup keys, shuffle partitions and
    LSH buckets all key on hash PREFIXES, and observed collisions
    far above the birthday bound n(n-1)/2^(k+1) mean a biased hash
    or adversarial keys (hotspot shards at 10^12 rows)]: for each
    prefix width k in {8,16,24} bits the distinct-key count, the
    distinct-prefix count, observed collisions (keys minus
    prefixes), the exact-integer birthday expectation, and the
    observed/expected ratio in ppm (floor-guarded).

    Shape: one distinct-hash agg, a 3x bounded explode, per-k
    distinct aggs. Exact integers end to end."""
    d = _docs(spark, sf_dir)
    keys = d.select(F.md5(F.coalesce(F.col("text"), F.lit("")))
                    .alias("h")).distinct()
    ks = spark.createDataFrame([(k,) for k in HASH_PREFIX_BITS],
                               "k int")
    pref = (keys.crossJoin(F.broadcast(ks))
            .select("k", F.expr("substring(h, 1, k DIV 4)")
                    .alias("p")))
    per = (pref.groupBy("k")
           .agg(F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.countDistinct("p").cast("long").alias("n_prefixes")))
    return per.select(
        "k", "n_keys", "n_prefixes",
        (F.col("n_keys") - F.col("n_prefixes")).cast("long")
        .alias("collisions"),
        F.expr("n_keys * (n_keys - 1)"
               " DIV shiftleft(2L, CAST(k AS INT))").cast("long")
        .alias("expected"),
        F.expr("(n_keys - n_prefixes) * 1000000"
               " DIV greatest(n_keys * (n_keys - 1)"
               " DIV shiftleft(2L, CAST(k AS INT)), 1)").cast("long")
        .alias("ratio_ppm"))


def _sql_dedup_hash_collision_audit() -> str:
    ks = ", ".join(f"({k})" for k in HASH_PREFIX_BITS)
    return f"""
WITH keys AS (
  SELECT DISTINCT md5(coalesce(text, '')) AS h FROM documents),
ks(k) AS (VALUES {ks}),
pref AS (
  SELECT k, substring(h, 1, k // 4) AS p
  FROM keys CROSS JOIN ks),
per AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_keys,
         CAST(count(DISTINCT p) AS BIGINT) AS n_prefixes
  FROM pref GROUP BY 1)
SELECT k, n_keys, n_prefixes,
       CAST(n_keys - n_prefixes AS BIGINT) AS collisions,
       CAST(n_keys * (n_keys - 1) // (CAST(2 AS BIGINT) << k)
            AS BIGINT) AS expected,
       CAST((n_keys - n_prefixes) * 1000000
            // greatest(n_keys * (n_keys - 1)
                        // (CAST(2 AS BIGINT) << k), 1) AS BIGINT)
         AS ratio_ppm
FROM per
"""


def q_dedup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-tax attribution per source [K: after keep-first dedup
    someone's corpus shrinks — this op says WHOSE and to WHOM: under
    a deterministic source priority (lexicographic — swap in a real
    quality order in production) each duplicate text survives only
    in its highest-priority source; per source the doc count, kept
    count, shadowed ppm, and the single source that shadows it most]:
    the attribution table a data-sourcing team reads before
    renegotiating a crawl.

    Shape: one (hash) -> min-priority-source agg (struct-min, no
    window), a broadcast join back, one per-(loser,winner) agg and a
    struct-max per loser. Exact integers."""
    d = _docs(spark, sf_dir)
    dh = d.select("source",
                  F.md5(F.coalesce(F.col("text"), F.lit("")))
                  .alias("h"))
    keep = (dh.groupBy("h")
            .agg(F.min("source").alias("keeper")))
    j = dh.join(F.broadcast(keep), "h")
    per = (j.groupBy("source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum((F.col("source") == F.col("keeper"))
                      .cast("long")).cast("long").alias("n_kept")))
    shadow = (j.filter(F.col("source") != F.col("keeper"))
              .groupBy("source", "keeper")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
              .groupBy("source")
              .agg(F.max(F.struct(F.col("cnt"),
                                  F.col("keeper").alias("k")))
                   .alias("top")))
    return (per.join(F.broadcast(shadow), "source", "left")
            .select("source", "n_docs", "n_kept",
                    (F.col("n_docs") - F.col("n_kept")).cast("long")
                    .alias("n_shadowed"),
                    F.expr("(n_docs - n_kept) * 1000000 DIV n_docs")
                    .cast("long").alias("shadowed_ppm"),
                    F.col("top.k").alias("top_shadower"),
                    F.coalesce(F.col("top.cnt"), F.lit(0))
                    .cast("long").alias("top_shadow_cnt")))


def _sql_dedup_attribution() -> str:
    return """
WITH dh AS (
  SELECT source, md5(coalesce(text, '')) AS h FROM documents),
keep AS (SELECT h, min(source) AS keeper FROM dh GROUP BY 1),
j AS (SELECT dh.source, dh.h, keep.keeper
      FROM dh JOIN keep USING (h)),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN source = keeper THEN 1 ELSE 0 END)
              AS BIGINT) AS n_kept
  FROM j GROUP BY 1),
shadow AS (
  SELECT source,
         first(keeper ORDER BY cnt DESC, keeper ASC) AS top_shadower,
         CAST(max(cnt) AS BIGINT) AS top_shadow_cnt
  FROM (SELECT source, keeper, CAST(count(*) AS BIGINT) AS cnt
        FROM j WHERE source <> keeper GROUP BY 1, 2)
  GROUP BY source)
SELECT per.source, n_docs, n_kept,
       CAST(n_docs - n_kept AS BIGINT) AS n_shadowed,
       CAST((n_docs - n_kept) * 1000000 // n_docs AS BIGINT)
         AS shadowed_ppm,
       shadow.top_shadower,
       CAST(coalesce(shadow.top_shadow_cnt, 0) AS BIGINT)
         AS top_shadow_cnt
FROM per LEFT JOIN shadow ON shadow.source = per.source
"""


def q_dedup_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-family detection [K: crawler artifacts — the same
    page fetched with different size limits yields docs that agree
    on a long PREFIX but differ in length; exact-hash dedup misses
    them and near-dup may too when the tails diverge enough; keying
    on the first 64 chars finds the families directly]: per prefix
    family with >= 2 docs, the family size, distinct full-text
    count, length spread, and the truncation flag (distinct texts
    AND length spread — same-length same-text families are plain
    exact dups, not truncations).

    Shape: map-side prefix hash -> one family agg -> HAVING >= 2.
    The prefix hash (not the raw prefix) is the shuffle key."""
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    base = d.select(
        F.md5(F.substring(t, 1, TRUNC_PREFIX_CHARS)).alias("pk"),
        F.length(t).cast("long").alias("nc"),
        F.md5(t).alias("h"))
    fam = (base.groupBy("pk")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.countDistinct("h").cast("long").alias("n_texts"),
                F.min("nc").cast("long").alias("min_chars"),
                F.max("nc").cast("long").alias("max_chars")))
    return (fam.filter(F.col("n_docs") >= 2)
            .select("pk", "n_docs", "n_texts", "min_chars",
                    "max_chars",
                    ((F.col("n_texts") >= 2)
                     & (F.col("max_chars") > F.col("min_chars")))
                    .cast("int").alias("is_truncation_family")))


def _sql_dedup_truncation() -> str:
    return f"""
WITH base AS (
  SELECT md5(substring(coalesce(text, ''), 1,
                       {TRUNC_PREFIX_CHARS})) AS pk,
         CAST(length(coalesce(text, '')) AS BIGINT) AS nc,
         md5(coalesce(text, '')) AS h
  FROM documents),
fam AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT h) AS BIGINT) AS n_texts,
         CAST(min(nc) AS BIGINT) AS min_chars,
         CAST(max(nc) AS BIGINT) AS max_chars
  FROM base GROUP BY 1)
SELECT pk, n_docs, n_texts, min_chars, max_chars,
       CAST(CASE WHEN n_texts >= 2 AND max_chars > min_chars
            THEN 1 ELSE 0 END AS INT) AS is_truncation_family
FROM fam WHERE n_docs >= 2
"""
