"""Driver queries: `text` domain."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from ._shared import *  # noqa: F401,F403


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF top-3 terms per document (operators/curation.py) —
    relevance scoring for corpus curation."""
    from ...operators.curation import tfidf_top_terms
    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


SQL_TEXT_TFIDF = """
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tf AS (SELECT doc_id, tok, count(*) AS tf_raw FROM toks GROUP BY doc_id, tok),
dlen AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         round((cast(tf.tf_raw AS DOUBLE) / dlen.dlen)
               * ln(cast(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
  FROM tf JOIN dlen USING (doc_id) JOIN dfreq USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tfidf, rk FROM (
  SELECT doc_id, tok, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, tok ASC) AS rk
  FROM scored) WHERE rk <= 3
"""

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    stop_list = F.array(*[F.lit(w) for w in
                          ["a", "the", "of", "and", "to", "in", "is"]])
    return d.select(
        "doc_id", "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("ttr"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(stop_list, t)))
            / F.size(toks), 6).alias("stopword_ratio"),
        F.round(F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
                / F.size(toks), 6).alias("avg_tok_len"),
        F.length("text").alias("n_chars"),
    )


SQL_TEXT_QUALITY = f"""
WITH toks AS (
  SELECT doc_id, lang, text, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
)
SELECT doc_id, any_value(lang) AS lang,
       count(*) AS n_tokens,
       count(DISTINCT tok) AS n_distinct,
       round(cast(count(DISTINCT tok) AS DOUBLE) / count(*), 6) AS ttr,
       round(cast(sum(CASE WHEN tok IN {_STOPWORDS} THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS stopword_ratio,
       round(cast(sum(length(tok)) AS DOUBLE) / count(*), 6) AS avg_tok_len,
       any_value(length(text)) AS n_chars
FROM toks GROUP BY doc_id
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of the sorted distinct-token set — an
    order-insensitive content fingerprint (bag-of-words dedup key)."""
    d = _docs(spark, sf_dir)
    toks = F.array_sort(F.array_distinct(
        F.filter(F.split(F.col("text"), " "), lambda t: t != "")))
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("exact_fp"),
        F.md5(F.array_join(toks, " ")).alias("bow_fp"),
    )


SQL_TEXT_FINGERPRINT = """
WITH toks AS (
  SELECT doc_id, list_sort(list_distinct(list_filter(
           string_split(text, ' '), x -> x <> ''))) AS tl
  FROM documents
)
SELECT d.doc_id, md5(d.text) AS exact_fp,
       md5(array_to_string(t.tl, ' ')) AS bow_fp
FROM documents d JOIN toks t ON d.doc_id = t.doc_id
"""


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (ws split + BPE-ish regex pandas_udf) — the UDF
    path is value-hash-pinned against the DuckDB regex oracle."""
    from ...operators.textstats import token_counts
    return token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "ws_tokens", "bpe_ish_tokens")


SQL_TEXT_TOKEN_COUNTS = r"""
SELECT doc_id,
  len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS ws_tokens,
  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_ish_tokens
FROM documents
"""


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints — the numpy-vectorized
    pandas UDF, hash-pinned against a DuckDB oracle that replays the
    full scheme (HUGEINT Rabin-Karp mod 2^64, window-of-w minimum with
    rightmost tie-break, short-document single window)."""
    from ...operators.textstats import winnow_fingerprints
    return winnow_fingerprints(_docs(spark, sf_dir))


def _sql_text_winnow() -> str:
    from ...operators.textstats import _WINNOW_BASE, WINNOW_K, WINNOW_W
    B, K, W = int(_WINNOW_BASE), WINNOW_K, WINNOW_W
    M = 1 << 64
    h = "unicode(substr(t, i+1, 1))::HUGEINT"
    for j in range(1, K):
        h = f"(({h}) * {B} + unicode(substr(t, i+1+{j}, 1))) % {M}::HUGEINT"
    return f"""
WITH base AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
kgram AS (
  SELECT doc_id, r.i AS i, ({h}) AS h
  FROM base, lateral unnest(range(0, greatest(length(t) - {K} + 1, 0))) AS r(i)
  WHERE length(t) >= {K}
),
stats AS (SELECT doc_id, count(*) AS n_h FROM kgram GROUP BY doc_id),
starts AS (
  SELECT k.doc_id, k.i AS s
  FROM kgram k JOIN stats st USING (doc_id)
  WHERE k.i <= greatest(st.n_h - {W}, 0)
),
winners AS (
  SELECT s.doc_id AS doc_id, s.s, max(k.i) AS pos
  FROM starts s
  JOIN kgram k ON k.doc_id = s.doc_id AND k.i BETWEEN s.s AND s.s + {W - 1}
  JOIN (
    SELECT s2.doc_id AS doc_id, s2.s AS s, min(k2.h) AS wmin
    FROM starts s2 JOIN kgram k2
      ON k2.doc_id = s2.doc_id AND k2.i BETWEEN s2.s AND s2.s + {W - 1}
    GROUP BY s2.doc_id, s2.s
  ) m ON m.doc_id = s.doc_id AND m.s = s.s AND k.h = m.wmin
  GROUP BY s.doc_id, s.s
)
SELECT DISTINCT w.doc_id AS doc_id, w.pos AS pos, (k.h // 2)::BIGINT AS fp
FROM winners w JOIN kgram k ON k.doc_id = w.doc_id AND k.i = w.pos
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID: the Spark side is the vectorized bigram-profile
    pandas UDF (operators/textstats.py); the oracle re-derives the same
    scores in pure SQL (replace-based non-overlapping bigram counts ==
    the UDF's regex counts — both count greedily left-to-right), pinning
    the UDF batch math to 6 decimals."""
    from ...operators.textstats import language_id
    return language_id(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "pred_lang", "lang_score")


def _sql_text_langid() -> str:
    from ...operators.textstats import _PROFILES
    langs = list(_PROFILES)  # tie-break order == UDF argmax first-wins

    def count_expr(bg: str) -> str:
        return f"(length(t) - length(replace(t, '{bg}', ''))) / 2"

    score_cols = ", ".join(
        "(" + " + ".join(count_expr(bg) for bg in prof)
        + f") / greatest(length(t) - 1, 1) AS sc_{lang}"
        for lang, prof in _PROFILES.items())
    best = "greatest(" + ", ".join(f"sc_{lg}" for lg in langs) + ")"
    pred_cases = " ".join(
        "WHEN " + " AND ".join(f"sc_{lg} >= sc_{other}"
                               for other in langs[i + 1:])
        + f" THEN '{lg}'"
        for i, lg in enumerate(langs[:-1]))
    return f"""
WITH base AS (SELECT doc_id, lang, lower(coalesce(text, '')) AS t FROM documents),
scored AS (SELECT doc_id, lang, {score_cols} FROM base)
SELECT doc_id, lang,
  CASE WHEN {best} <= 0 THEN 'und' {pred_cases} ELSE '{langs[-1]}' END AS pred_lang,
  round({best}, 6) AS lang_score
FROM scored
"""


def q_text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality evaluation: confusion counts of predicted vs
    the corpus truth column — the model-eval rollup a curation pipeline
    runs after any classifier stage."""
    pred = q_text_langid(spark, sf_dir)
    return (pred.groupBy(F.col("lang").alias("truth"), "pred_lang")
            .agg(F.count(F.lit(1)).alias("n")))


def _sql_text_langid_eval() -> str:
    return f"""
WITH pred AS ({_sql_text_langid()})
SELECT lang AS truth, pred_lang, count(*) AS n
FROM pred GROUP BY lang, pred_lang
"""


# ---------------------------------------------------------------------------
# RDF/Turtle (SKOS) ontology ingestion — the reference's first-class
# ontology input (rdflib .ttl load [K]; VERDICT r2 "What's missing #1"),
# re-expressed as a Spark text scan + regexp_extract parse. The DuckDB
# oracle replays the EXACT parse (same RE2-safe regex constants, same
# forward-fill/termination semantics) over the same fixture file, then
# derives depth/path with a recursive CTE vs Spark's level-wise joins.
# ---------------------------------------------------------------------------

def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (operators/textstats.redact_pii — JVM regexes,
    map-only). The testdata vocabulary contains no PII, so each doc
    gets deterministic synthetic contact strings appended (id-derived —
    no external data, per the north rule) before redaction; the oracle
    synthesizes identically and replays the same RE2 patterns."""
    from ...operators.textstats import redact_pii
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com or +1 555 0"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("00 see https://example.org/d/"),
            F.col("doc_id").cast("string")).alias("text"))
    return redact_pii(d).select("doc_id", "redacted",
                                "n_emails", "n_urls", "n_phones")


def _sql_text_redact() -> str:
    from ...operators.textstats import RX_EMAIL, RX_PHONE, RX_URL
    return f"""
WITH base AS (
  SELECT doc_id,
         text || ' contact user' || cast(doc_id AS VARCHAR)
              || '@example.com or +1 555 0'
              || lpad(cast(doc_id % 1000 AS VARCHAR), 3, '0')
              || '00 see https://example.org/d/' || cast(doc_id AS VARCHAR)
         AS text
  FROM documents),
e AS (SELECT doc_id, text,
             CAST(len(regexp_extract_all(text, '{RX_EMAIL}')) AS INT) AS n_emails,
             regexp_replace(text, '{RX_EMAIL}', '<EMAIL>', 'g') AS t1
      FROM base),
u AS (SELECT doc_id, n_emails,
             CAST(len(regexp_extract_all(t1, '{RX_URL}')) AS INT) AS n_urls,
             regexp_replace(t1, '{RX_URL}', '<URL>', 'g') AS t2
      FROM e)
SELECT doc_id,
       regexp_replace(t2, '{RX_PHONE}', '<PHONE>', 'g') AS redacted,
       n_emails, n_urls,
       CAST(len(regexp_extract_all(t2, '{RX_PHONE}')) AS INT) AS n_phones
FROM u
"""


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (operators/curation.ngram_contamination):
    flag corpus docs sharing any 8-token n-gram with the probe subset
    (doc_id % 7 == 0 — a deterministic eval-set stand-in sized so the
    corpus' dup structure produces non-trivial matches: 9 flagged docs
    at sf0.01)."""
    from ...operators.curation import ngram_contamination
    d = _docs(spark, sf_dir)
    probes = d.filter(F.col("doc_id") % CONTAM_PROBE_MOD == 0)
    corpus = d.filter(F.col("doc_id") % CONTAM_PROBE_MOD != 0)
    return ngram_contamination(corpus, probes, n=CONTAM_N)


SQL_TEXT_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     t -> t <> '') AS tk
  FROM documents),
grams AS (
  SELECT doc_id,
         md5(array_to_string(tk[i:i + {CONTAM_N} - 1], ' ')) AS gram
  FROM (SELECT doc_id, tk,
               unnest(range(1, greatest(len(tk) - {CONTAM_N} + 2, 1))) AS i
        FROM toks)),
pg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {CONTAM_PROBE_MOD} = 0)
SELECT g.doc_id, count(DISTINCT g.gram) AS n_grams_matched
FROM grams g JOIN pg ON pg.gram = g.gram
WHERE g.doc_id % {CONTAM_PROBE_MOD} <> 0
GROUP BY g.doc_id
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics
    (operators/textstats.repetition_stats): unique-token / top-bigram /
    duplicated-trigram fractions per document."""
    from ...operators.textstats import repetition_stats
    return repetition_stats(_docs(spark, sf_dir))


SQL_TEXT_REPETITION = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '),
                     t -> t <> '') AS tk
  FROM documents),
grams AS (
  SELECT doc_id, n, array_to_string(tk[i:i + n - 1], ' ') AS gram
  FROM (SELECT doc_id, tk, n,
               unnest(range(1, greatest(len(tk) - n + 2, 1))) AS i
        FROM toks, (SELECT unnest([1, 2, 3]) AS n))),
counts AS (
  SELECT doc_id, n, gram, count(*) AS c
  FROM grams GROUP BY doc_id, n, gram),
agg AS (
  SELECT doc_id,
         CAST(sum(c) FILTER (WHERE n = 1) AS BIGINT) AS n_tokens,
         count(*) FILTER (WHERE n = 1) AS n_uniq,
         max(c) FILTER (WHERE n = 2) AS top2,
         CAST(sum(c) FILTER (WHERE n = 2) AS BIGINT) AS tot2,
         CAST(coalesce(sum(c) FILTER (WHERE n = 3 AND c >= 2), 0)
              AS BIGINT) AS dup3,
         CAST(sum(c) FILTER (WHERE n = 3) AS BIGINT) AS tot3
  FROM counts GROUP BY doc_id)
SELECT doc_id, n_tokens,
       round(CAST(n_uniq AS DOUBLE)
             / CAST(nullif(n_tokens, 0) AS DOUBLE), 6) + 0.0
           AS uniq_token_frac,
       round(CAST(top2 AS DOUBLE)
             / CAST(nullif(tot2, 0) AS DOUBLE), 6) + 0.0
           AS top_bigram_frac,
       round(CAST(dup3 AS DOUBLE)
             / CAST(nullif(tot3, 0) AS DOUBLE), 6) + 0.0
           AS dup_trigram_frac
FROM agg
"""


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query over the documents corpus
    (operators/curation.py) — per-term scores rounded to exact ppm
    integers BEFORE the per-doc sum, so only elementwise IEEE
    arithmetic (plus one ln per distinct df, the tfidf-accepted ulp
    class) crosses engines."""
    from ...operators.curation import bm25_topk
    return bm25_topk(_docs(spark, sf_dir), BM25_TERMS, k=BM25_K)


def _sql_text_bm25() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dlen AS (SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, CAST(sum(dlen) AS BIGINT) AS tot
          FROM dlen),
qtf AS (SELECT doc_id, tok, tf FROM tf WHERE tok IN ({terms})),
dfreq AS (SELECT tok, count(*) AS df FROM qtf GROUP BY tok),
scored AS (
  SELECT q.doc_id,
         CAST(round(
           ln(1.0 + (CAST(s.n_docs AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
           * (q.tf * (CAST(1.2 AS DOUBLE) + 1.0))
           / (q.tf + CAST(1.2 AS DOUBLE)
              * (1.0 - CAST(0.75 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * dl.dlen
                   / (CAST(s.tot AS DOUBLE) / s.n_docs)))
           * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS term_ppm
  FROM qtf q JOIN dfreq d ON d.tok = q.tok
       JOIN dlen dl ON dl.doc_id = q.doc_id CROSS JOIN stats s)
SELECT doc_id, CAST(sum(term_ppm) AS BIGINT) AS score_ppm,
       count(*) AS n_terms
FROM scored GROUP BY doc_id
ORDER BY score_ppm DESC, doc_id
LIMIT {BM25_K}
"""


def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one bigram LM scoring (operators/curation.py
    bigram_lm_cost) — CCNet-style quality signal; per-bigram costs are
    exact micro-nat integers so sums and the integer-division average
    are merge-order independent."""
    from ...operators.curation import bigram_lm_cost
    return bigram_lm_cost(_docs(spark, sf_dir))


SQL_TEXT_PERPLEXITY = """
WITH tl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l
  FROM documents),
toks AS (SELECT doc_id, unnest(l) AS tok, unnest(range(len(l))) AS pos
         FROM tl),
big AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, tok AS w1,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM toks) x
  WHERE w2 IS NOT NULL),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
voc AS (SELECT count(DISTINCT tok) AS v FROM toks),
lm AS (
  SELECT a.w1, a.w2,
         CAST(round(-ln((a.c12 + 1.0) / (b.c1 + CAST(voc.v AS DOUBLE)))
                    * CAST(1000000 AS DOUBLE), 0) AS BIGINT) AS cost_micro
  FROM c12 a JOIN c1 b ON b.w1 = a.w1 CROSS JOIN voc)
SELECT g.doc_id, count(*) AS n_bigrams,
       CAST(sum(l.cost_micro) AS BIGINT) // count(*) AS avg_cost_micro
FROM big g JOIN lm l ON l.w1 = g.w1 AND l.w2 = g.w2
GROUP BY g.doc_id
"""


def q_text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear quality classifier
    (operators/textstats.py:hashed_quality_classifier)."""
    from ...operators.textstats import hashed_quality_classifier
    return hashed_quality_classifier(_docs(spark, sf_dir))


def _sql_text_hash_classifier() -> str:
    from ...operators.textstats import HASHCLF_N_BUCKETS
    # bucket = first two md5 hex digits of the token, mod n_buckets —
    # digit-by-digit replay of Spark's conv(substring(md5, 1, 2), 16, 10)
    bucket = ("(strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16"
              " + strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1")
    return f"""
WITH tokd AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(toks) > 0 THEN
           round(list_sum(list_transform(toks, t ->
             CAST((({bucket}) % {HASHCLF_N_BUCKETS}) % 9 - 4 AS DOUBLE) / 4.0))
             / len(toks), 6) + 0.0
         ELSE 0.0 END AS quality_logit
  FROM tokd
)
SELECT doc_id, n_tokens, quality_logit,
       round(1.0 / (1.0 + exp(-quality_logit)), 6) + 0.0 AS quality_prob,
       CAST(CASE WHEN round(1.0 / (1.0 + exp(-quality_logit)), 6) + 0.0 >= 0.5
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM scored
"""


def q_text_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document
    (operators/textstats.py:lexical_diversity): type-token and hapax
    ratios in exact ppm."""
    from ...operators.textstats import lexical_diversity
    return lexical_diversity(_docs(spark, sf_dir))


SQL_TEXT_TTR = """
WITH per_tok AS (
  SELECT doc_id, tok, count(*) AS n FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(coalesce(text, '')),
                                                 '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents)
  GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, sum(n) AS n_tokens, count(*) AS n_types,
         sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS n_hapax
  FROM per_tok GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_types, 0) AS BIGINT) AS n_types,
       CAST(coalesce(p.n_hapax, 0) AS BIGINT) AS n_hapax,
       CAST(CASE WHEN coalesce(p.n_tokens, 0) > 0
                 THEN p.n_types * 1000000 // p.n_tokens
                 ELSE 0 END AS BIGINT) AS ttr_ppm,
       CAST(CASE WHEN coalesce(p.n_tokens, 0) > 0
                 THEN p.n_hapax * 1000000 // p.n_tokens
                 ELSE 0 END AS BIGINT) AS hapax_ppm
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Late-r4 wave 2: boilerplate removal, k-core, vocabulary build,
# cross-source overlap.
# ---------------------------------------------------------------------------

def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style duplicated-segment (boilerplate) removal
    (operators/dedup.py:boilerplate_segments) — drop from every document
    the fixed-width token segments that occur verbatim in more than
    df_cap distinct documents. The hot-segment set is small by
    construction and broadcast anti-joined, so the corpus shuffles on
    the segment key exactly once (the df agg)."""
    from ...operators.dedup import boilerplate_segments
    return boilerplate_segments(_docs(spark, sf_dir),
                                seg_words=BOILER_SEG_WORDS,
                                df_cap=BOILER_DF_CAP)


SQL_TEXT_BOILERPLATE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')), '\\s+'),
                     t -> t <> '') AS tk
  FROM documents
),
segs AS (
  SELECT doc_id, r.i AS pos,
         list_aggregate(tk[r.i * {BOILER_SEG_WORDS} + 1 :
                           r.i * {BOILER_SEG_WORDS} + {BOILER_SEG_WORDS}],
                        'string_agg', ' ') AS seg
  FROM toks, lateral unnest(
    range(0, greatest(len(tk) - 1, 0) // {BOILER_SEG_WORDS} + 1)) AS r(i)
  WHERE len(tk) > 0
),
hot AS (
  SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM segs)
  GROUP BY seg HAVING count(*) > {BOILER_DF_CAP}
),
kept AS (
  SELECT s.doc_id,
         count(*) AS n_kept,
         coalesce(string_agg(s.seg, ' ' ORDER BY s.pos), '') AS clean_text
  FROM segs s ANTI JOIN hot h ON s.seg = h.seg
  GROUP BY s.doc_id
),
totals AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(t.n_segs, 0) AS BIGINT) AS n_segs,
       CAST(coalesce(t.n_segs, 0) - coalesce(k.n_kept, 0) AS BIGINT)
         AS n_dropped,
       coalesce(k.clean_text, '') AS clean_text,
       CAST(length(coalesce(k.clean_text, '')) AS BIGINT) AS clean_chars
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN kept k USING (doc_id)
"""


def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: the top-200 tokens by frequency with
    rank and CUMULATIVE corpus-coverage share in exact ppm — the first
    artifact of any tokenizer/vocab pipeline (what fraction of the
    token stream the top-k vocabulary explains). One map-side-partial
    hash agg over the exploded token stream; the global order is
    orderBy+limit (TakeOrdered, parallel), and the running sum ranks
    AFTER the GlobalLimit, so the partitionless window only ever sees
    the 200-row result — the bounded-input shape the repo plan gate
    requires. Corpus total is a lazy one-row aggregate, broadcast by
    construction."""
    toks = F.filter(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                            r"\s+"),
                    lambda t: t != "")
    counts = (_docs(spark, sf_dir)
              .select(F.explode(toks).alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(VOCAB_TOP)
    total = counts.agg(F.sum("n").alias("total_toks"))
    w = Window.orderBy(F.desc("n"), F.asc("tok")) \
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (top.crossJoin(F.broadcast(total))
            .withColumn("cum_n", F.sum("n").over(w))
            .select("tok", F.col("n").cast("long").alias("n"),
                    F.row_number().over(
                        Window.orderBy(F.desc("n"), F.asc("tok")))
                    .cast("long").alias("rank"),
                    F.expr("cum_n * 1000000L DIV total_toks")
                    .cast("long").alias("cum_share_ppm")))


SQL_TEXT_VOCAB = f"""
WITH counts AS (
  SELECT tok, count(*) AS n FROM (
    SELECT unnest(list_filter(
             string_split_regex(lower(coalesce(text, '')), '\\s+'),
             t -> t <> '')) AS tok
    FROM documents)
  GROUP BY tok
),
total AS (SELECT sum(n) AS total_toks FROM counts),
top AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT {VOCAB_TOP})
SELECT tok, CAST(n AS BIGINT) AS n,
       CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rank,
       CAST(sum(n) OVER (ORDER BY n DESC, tok
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * 1000000 // t.total_toks AS BIGINT) AS cum_share_ppm
FROM top, total t
"""


def q_text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: pairwise token-shingle
    Jaccard between every pair of corpus sources — the audit that
    catches one crawl slice being a mirror of another before both are
    upsampled into a training mix. Scale shape: the corpus collapses to
    DISTINCT (source, shingle) FIRST (one map-side-partial agg), so the
    shingle posting list is bounded by the number of SOURCES (tens),
    never by document count — the self-join fan-out per shingle is at
    most C(n_sources, 2) and the pair agg key space is n_sources²."""
    toks = F.filter(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                            r"\s+"),
                    lambda t: t != "")
    sh = (_docs(spark, sf_dir)
          .select("source", toks.alias("tk"))
          .where(F.size("tk") >= OVERLAP_SHINGLE)
          .select("source", F.explode(F.expr(
              f"transform(sequence(1, size(tk) - {OVERLAP_SHINGLE} + 1),"
              f" i -> concat_ws(' ', slice(tk, i, {OVERLAP_SHINGLE})))"))
              .alias("shingle"))
          .distinct())
    per_src = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    common = (a.join(b, "shingle")
              .where(F.col("source_a") < F.col("source_b"))
              .groupBy("source_a", "source_b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    pa = per_src.select(F.col("source").alias("source_a"),
                        F.col("n_sh").alias("n_a"))
    pb = per_src.select(F.col("source").alias("source_b"),
                        F.col("n_sh").alias("n_b"))
    return (common.join(F.broadcast(pa), "source_a")
            .join(F.broadcast(pb), "source_b")
            .select("source_a", "source_b",
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    F.col("n_common").cast("long").alias("n_common"),
                    F.expr("n_common * 1000000L DIV"
                           " (n_a + n_b - n_common)")
                    .cast("long").alias("jaccard_ppm")))


SQL_TEXT_SOURCE_OVERLAP = f"""
WITH sh AS (
  SELECT DISTINCT source,
         list_aggregate(tk[i : i + {OVERLAP_SHINGLE} - 1],
                        'string_agg', ' ') AS shingle
  FROM (SELECT source,
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '\\s+'),
                           t -> t <> '') AS tk
        FROM documents),
       lateral unnest(range(1, len(tk) - {OVERLAP_SHINGLE} + 2)) AS r(i)
  WHERE len(tk) >= {OVERLAP_SHINGLE}
),
per_src AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
common AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT c.source_a, c.source_b,
       CAST(pa.n_sh AS BIGINT) AS n_a,
       CAST(pb.n_sh AS BIGINT) AS n_b,
       CAST(c.n_common AS BIGINT) AS n_common,
       CAST(c.n_common * 1000000 // (pa.n_sh + pb.n_sh - c.n_common)
            AS BIGINT) AS jaccard_ppm
FROM common c
JOIN per_src pa ON pa.source = c.source_a
JOIN per_src pb ON pb.source = c.source_b
"""


def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: regression
    of ln(count) on ln(rank) for the top-200 tokens — the corpus-health
    statistic (natural language sits near slope -1; synthetic or
    templated corpora flatten). Slope/intercept/R² via the textbook
    regr_* aggregates both engines implement; floats carry the repo's
    round(x, 6) + 0.0 convention. The rank window runs AFTER
    orderBy+limit (GlobalLimit-bounded input), and the fit itself is
    one grouping-free Aggregate."""
    toks = F.filter(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                            r"\s+"),
                    lambda t: t != "")
    counts = (_docs(spark, sf_dir)
              .select(F.explode(toks).alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    top = (counts.orderBy(F.desc("n"), F.asc("tok")).limit(VOCAB_TOP)
           .withColumn("rank", F.row_number().over(
               Window.orderBy(F.desc("n"), F.asc("tok")))))
    return top.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        (F.round(F.expr("regr_slope(ln(n), ln(rank))"), 6)
         + 0.0).alias("zipf_slope"),
        (F.round(F.expr("regr_intercept(ln(n), ln(rank))"), 6)
         + 0.0).alias("zipf_intercept"),
        (F.round(F.expr("regr_r2(ln(n), ln(rank))"), 6)
         + 0.0).alias("zipf_r2"))


SQL_TEXT_ZIPF = f"""
WITH counts AS (
  SELECT tok, count(*) AS n FROM (
    SELECT unnest(list_filter(
             string_split_regex(lower(coalesce(text, '')), '\\s+'),
             t -> t <> '')) AS tok
    FROM documents)
  GROUP BY tok
),
top AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
  FROM (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT {VOCAB_TOP})
)
SELECT CAST(count(*) AS BIGINT) AS n_points,
       round(regr_slope(ln(n), ln(rank)), 6) + 0.0 AS zipf_slope,
       round(regr_intercept(ln(n), ln(rank)), 6) + 0.0 AS zipf_intercept,
       round(regr_r2(ln(n), ln(rank)), 6) + 0.0 AS zipf_r2
FROM top
"""


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease readability per document — the classic
    corpus quality signal next to text_quality's ratio battery.
    Sentences = runs of [.!?], words = the repo's space-token
    convention, syllables approximated as vowel-letter groups
    ([aeiouy]+ in the lowered text — a group can never span a space,
    so the whole-text count equals the per-word sum without an
    explode). Entirely map-side JVM regex: zero shuffles, the shape a
    100 TB quality scan needs. Floats follow round(x, 6) + 0.0."""
    d = _docs(spark, sf_dir)
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    words = F.size(F.filter(F.split(low, " "), lambda t: t != ""))
    sents = F.greatest(F.regexp_count(low, F.lit(r"[.!?]+")), F.lit(1))
    syll = F.regexp_count(low, F.lit(r"[aeiouy]+"))
    flesch = (F.lit(206.835)
              - 1.015 * words / sents
              - 84.6 * syll / F.greatest(words, F.lit(1)))
    return d.select(
        "doc_id", "lang",
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sents"),
        syll.cast("long").alias("n_syll"),
        (F.round(flesch, 6) + 0.0).alias("flesch"),
    )


SQL_TEXT_READABILITY = """
WITH t AS (
  SELECT doc_id, lang, lower(coalesce(text, '')) AS low FROM documents),
m AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(low, ' '), x -> x <> '')) AS n_words,
         greatest(len(regexp_extract_all(low, '[.!?]+')), 1) AS n_sents,
         len(regexp_extract_all(low, '[aeiouy]+')) AS n_syll
  FROM t)
SELECT doc_id, lang,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sents AS BIGINT) AS n_sents,
       CAST(n_syll AS BIGINT) AS n_syll,
       round(206.835 - 1.015 * n_words / n_sents
             - 84.6 * n_syll / greatest(n_words, 1), 6) + 0.0 AS flesch
FROM m
"""


def q_text_keyphrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE-lite keyphrase extraction — candidate phrases are maximal
    stopword-free token runs; each word scores degree/frequency
    (degree = Σ length of phrases containing it) and a phrase scores
    the sum of its words, in exact ppm integers so distributed
    aggregation is merge-order-free. The KG-construction adjunct:
    phrase candidates feed concept discovery when the ontology is
    still being built.

    Shape: one doc-partitioned window assigns phrase groups (stop
    count before each position), two hash aggs build the corpus word
    table, the per-phrase re-join is token-keyed, and the final top-50
    is orderBy+limit (GlobalLimit) — rank only after the cut."""
    d = _docs(spark, sf_dir)
    tok = (d.select(
        "doc_id",
        F.posexplode(F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
            lambda t: t != "")).alias("pos", "raw"))
        .select("doc_id", "pos",
                F.regexp_replace("raw", r"[.!?,;:]", "").alias("tok")))
    stop = (F.col("tok").isin(*_PY_STOPWORDS)) | (F.col("tok") == "")
    wdoc = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grp = (tok.withColumn("is_stop", stop.cast("int"))
           .withColumn("grp", F.sum("is_stop").over(wdoc))
           .filter(~stop))
    phrases = (grp.groupBy("doc_id", "grp")
               .agg(F.array_join(F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("pos", "tok"))),
                        lambda s: s.getField("tok")), " ").alias("phrase"),
                    F.count(F.lit(1)).alias("plen")))
    words = (phrases.select("plen",
                            F.explode(F.split("phrase", " ")).alias("tok"))
             .groupBy("tok")
             .agg(F.sum("plen").alias("degree"),
                  F.count(F.lit(1)).alias("freq"))
             .withColumn("wscore_ppm",
                         F.expr("degree * 1000000 DIV freq")))
    ptext = (phrases.groupBy("phrase")
             .agg(F.count(F.lit(1)).alias("n_occurrences"),
                  F.max("plen").alias("n_words")))
    scored = (ptext.select("phrase", "n_occurrences", "n_words",
                           F.explode(F.split("phrase", " ")).alias("tok"))
              .join(words.select("tok", "wscore_ppm"), "tok")
              .groupBy("phrase")
              .agg(F.max("n_occurrences").cast("long")
                   .alias("n_occurrences"),
                   F.max("n_words").cast("long").alias("n_words"),
                   F.sum("wscore_ppm").cast("long").alias("score_ppm")))
    top = scored.orderBy(F.desc("score_ppm"), F.asc("phrase")) \
        .limit(KEYPHRASE_TOP)
    wr = Window.orderBy(F.desc("score_ppm"), F.asc("phrase"))
    return top.withColumn("rnk", F.row_number().over(wr).cast("long"))


def _sql_text_keyphrase() -> str:
    stop_sql = "(" + ", ".join(f"'{w}'" for w in _PY_STOPWORDS) + ")"
    return f"""
WITH tok AS (
  SELECT doc_id, u.pos,
         regexp_replace(tk[u.pos], '[.!?,;:]', '', 'g') AS tok
  FROM (SELECT doc_id,
               list_filter(string_split(lower(coalesce(text, '')), ' '),
                           x -> x <> '') AS tk
        FROM documents),
       unnest(range(1, len(tk) + 1)) AS u(pos)),
grp AS (
  SELECT doc_id, pos, tok,
         sum(CASE WHEN tok IN {stop_sql} OR tok = '' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS g,
         (tok IN {stop_sql} OR tok = '') AS is_stop
  FROM tok),
phrases AS (
  SELECT doc_id, g,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         count(*) AS plen
  FROM grp WHERE NOT is_stop GROUP BY doc_id, g),
words AS (
  SELECT w.tok, CAST(sum(p.plen) AS BIGINT) * 1000000
           // count(*) AS wscore_ppm
  FROM phrases p, unnest(string_split(p.phrase, ' ')) AS w(tok)
  GROUP BY w.tok),
ptext AS (
  SELECT phrase, count(*) AS n_occurrences, max(plen) AS n_words
  FROM phrases GROUP BY phrase),
scored AS (
  SELECT p.phrase,
         max(p.n_occurrences) AS n_occurrences,
         max(p.n_words) AS n_words,
         sum(w.wscore_ppm) AS score_ppm
  FROM ptext p, unnest(string_split(p.phrase, ' ')) AS t(tok)
  JOIN words w ON w.tok = t.tok
  GROUP BY p.phrase)
SELECT phrase,
       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(score_ppm AS BIGINT) AS score_ppm,
       CAST(row_number() OVER (ORDER BY score_ppm DESC, phrase ASC)
            AS BIGINT) AS rnk
FROM scored
ORDER BY score_ppm DESC, phrase ASC LIMIT {KEYPHRASE_TOP}
"""


# ---------------------------------------------------------------------------
# Wave 6: Benford first-digit audit, applyInPandasWithState pairing,
# simplified silhouette.
# ---------------------------------------------------------------------------


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation mining by pointwise-lift — which adjacent
    token pairs co-occur far above unigram independence (the PMI
    family without the cross-engine transcendental: lift_ppm =
    P(xy)/(P(x)P(y)) · 1e6 = c_xy·N·1e6 DIV (c_x·c_y), exact
    integers). Corpus-level phrase discovery for tokenizer/vocab
    curation; the keyphrase op scores within-document runs, this one
    scores corpus-wide association. Two hash aggs (bigrams, unigrams),
    two broadcast-sized joins of the unigram table, top-100 via
    orderBy+limit (GlobalLimit) then rank over the bounded result."""
    d = _docs(spark, sf_dir)
    tok = (d.select(
        "doc_id",
        F.posexplode(F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
            lambda t: t != "")).alias("pos", "raw"))
        .select("doc_id", "pos",
                F.regexp_replace("raw", r"[.!?,;:]", "").alias("tok"))
        .filter(F.col("tok") != ""))
    nxt = tok.select("doc_id", (F.col("pos") - 1).alias("pos"),
                     F.col("tok").alias("t2"))
    big = (tok.join(nxt, ["doc_id", "pos"])
           .groupBy(F.col("tok").alias("t1"), "t2")
           .agg(F.count(F.lit(1)).alias("c12")))
    uni = tok.groupBy(F.col("tok").alias("t")) \
        .agg(F.count(F.lit(1)).alias("c"))
    n_row = big.agg(F.sum("c12").alias("n_bigrams"))
    scored = (big.filter(F.col("c12") >= COLLOC_MIN_COUNT)
              .join(uni.select(F.col("t").alias("t1"),
                               F.col("c").alias("c1")), "t1")
              .join(uni.select(F.col("t").alias("t2"),
                               F.col("c").alias("c2")), "t2")
              .crossJoin(F.broadcast(n_row))
              .withColumn("lift_ppm", F.expr(
                  "c12 * n_bigrams * 1000000 DIV (c1 * c2)")))
    top = scored.orderBy(F.desc("lift_ppm"), F.asc("t1"), F.asc("t2")) \
        .limit(COLLOC_TOP)
    wr = Window.orderBy(F.desc("lift_ppm"), F.asc("t1"), F.asc("t2"))
    return (top.withColumn("rk", F.row_number().over(wr))
            .select("t1", "t2", F.col("c12").cast("long").alias("c12"),
                    F.col("lift_ppm").cast("long").alias("lift_ppm"),
                    "rk"))


def _sql_text_collocations() -> str:
    return f"""
WITH tok0 AS (
  SELECT doc_id, u.pos,
         regexp_replace(tk[u.pos], '[.!?,;:]', '', 'g') AS tok
  FROM (SELECT doc_id,
               list_filter(string_split(lower(coalesce(text, '')), ' '),
                           x -> x <> '') AS tk
        FROM documents),
       unnest(range(1, len(tk) + 1)) AS u(pos)),
tok AS (SELECT doc_id, pos, tok FROM tok0 WHERE tok <> ''),
big AS (
  SELECT a.tok AS t1, b.tok AS t2, count(*) AS c12
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2),
uni AS (SELECT tok AS t, count(*) AS c FROM tok GROUP BY 1),
n AS (SELECT sum(c12) AS n_bigrams FROM big),
scored AS (
  SELECT g.t1, g.t2, g.c12,
         g.c12 * n.n_bigrams * 1000000 // (u1.c * u2.c) AS lift_ppm
  FROM big g JOIN uni u1 ON u1.t = g.t1 JOIN uni u2 ON u2.t = g.t2, n
  WHERE g.c12 >= {COLLOC_MIN_COUNT})
SELECT t1, t2, CAST(c12 AS BIGINT) AS c12,
       CAST(lift_ppm AS BIGINT) AS lift_ppm, rk
FROM (SELECT t1, t2, c12, lift_ppm,
             row_number() OVER (ORDER BY lift_ppm DESC, t1 ASC, t2 ASC)
               AS rk
      FROM (SELECT * FROM scored
            ORDER BY lift_ppm DESC, t1 ASC, t2 ASC LIMIT {COLLOC_TOP}))
WHERE rk <= {COLLOC_TOP}
"""


def q_text_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distribution shift: Jensen-Shannon divergence [K]
    between each language slice's unigram distribution and the REST of
    the corpus — the curation dashboard's "which slice is drifting
    away from the mixture" read. Per-token JSD contributions are
    rounded to micro-nat INTEGERS before the sum (the same
    merge-order-independence discipline as the bigram-LM perplexity
    operator), so the per-slice totals are bit-exact cross-engine.

    Shape: one (lang, token) hash agg, one token hash agg, per-lang
    totals as a 5-row broadcast join, and the contribution scan is
    map-side CASE arithmetic. Nothing global, no windows."""
    d = _docs(spark, sf_dir)
    toks = d.select("lang",
                    F.explode(F.filter(
                        F.split(F.lower("text"), " "),
                        lambda t: t != "")).alias("tok"))
    lt = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c_lt"))
    tot_l = lt.groupBy("lang").agg(F.sum("c_lt").alias("n_l"),
                                   F.count(F.lit(1)).alias("vocab_l"))
    tot_t = lt.groupBy("tok").agg(F.sum("c_lt").alias("c_t"))
    gtot = lt.agg(F.sum("c_lt").alias("n_all"))
    # token grid per lang: every (lang, token-in-corpus) cell so the
    # q-only side (token absent from the slice) still contributes
    grid = (tot_l.select("lang").crossJoin(tot_t)
            .join(lt, ["lang", "tok"], "left")
            .withColumn("c_lt", F.coalesce("c_lt", F.lit(0))))
    j = (grid.join(tot_l.select("lang", "n_l"), "lang")
         .crossJoin(F.broadcast(gtot)))
    term = F.expr("""
        CAST(round((
          CASE WHEN c_lt > 0 THEN
            0.5 * (CAST(c_lt AS DOUBLE) / n_l)
                * ln((CAST(c_lt AS DOUBLE) / n_l)
                     / (0.5 * (CAST(c_lt AS DOUBLE) / n_l)
                        + 0.5 * (CAST(c_t - c_lt AS DOUBLE)
                                 / (n_all - n_l))))
          ELSE 0.0 END
          +
          CASE WHEN c_t - c_lt > 0 THEN
            0.5 * (CAST(c_t - c_lt AS DOUBLE) / (n_all - n_l))
                * ln((CAST(c_t - c_lt AS DOUBLE) / (n_all - n_l))
                     / (0.5 * (CAST(c_lt AS DOUBLE) / n_l)
                        + 0.5 * (CAST(c_t - c_lt AS DOUBLE)
                                 / (n_all - n_l))))
          ELSE 0.0 END) * 1000000, 0) AS BIGINT)""")
    return (j.withColumn("term_micro", term)
            .groupBy("lang")
            .agg(F.sum("term_micro").alias("jsd_micro"))
            .join(tot_l, "lang")
            .select("lang", F.col("n_l").alias("n_tokens"),
                    F.col("vocab_l").alias("vocab"), "jsd_micro"))


def _sql_text_jsd_sources() -> str:
    return """
WITH toks AS (
  SELECT lang, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''),
lt AS (SELECT lang, tok, count(*) AS c_lt FROM toks GROUP BY 1, 2),
tot_l AS (SELECT lang, CAST(sum(c_lt) AS BIGINT) AS n_l,
                 count(*) AS vocab_l
          FROM lt GROUP BY lang),
tot_t AS (SELECT tok, CAST(sum(c_lt) AS BIGINT) AS c_t
          FROM lt GROUP BY tok),
gtot AS (SELECT CAST(sum(c_lt) AS BIGINT) AS n_all FROM lt),
grid AS (
  SELECT l.lang, t.tok, t.c_t, coalesce(x.c_lt, 0) AS c_lt
  FROM (SELECT lang FROM tot_l) l
  CROSS JOIN tot_t t
  LEFT JOIN lt x ON x.lang = l.lang AND x.tok = t.tok),
j AS (
  SELECT g.lang, g.c_lt, g.c_t, l.n_l, a.n_all
  FROM grid g JOIN tot_l l ON l.lang = g.lang CROSS JOIN gtot a),
terms AS (
  SELECT lang,
         CAST(round((
           CASE WHEN c_lt > 0 THEN
             0.5 * (CAST(c_lt AS DOUBLE) / n_l)
                 * ln((CAST(c_lt AS DOUBLE) / n_l)
                      / (0.5 * (CAST(c_lt AS DOUBLE) / n_l)
                         + 0.5 * (CAST(c_t - c_lt AS DOUBLE)
                                  / (n_all - n_l))))
           ELSE 0.0 END
           +
           CASE WHEN c_t - c_lt > 0 THEN
             0.5 * (CAST(c_t - c_lt AS DOUBLE) / (n_all - n_l))
                 * ln((CAST(c_t - c_lt AS DOUBLE) / (n_all - n_l))
                      / (0.5 * (CAST(c_lt AS DOUBLE) / n_l)
                         + 0.5 * (CAST(c_t - c_lt AS DOUBLE)
                                  / (n_all - n_l))))
           ELSE 0.0 END) * 1000000, 0) AS BIGINT) AS term_micro
  FROM j)
SELECT t.lang, l.n_l AS n_tokens, l.vocab_l AS vocab,
       CAST(sum(t.term_micro) AS BIGINT) AS jsd_micro
FROM terms t JOIN tot_l l ON l.lang = t.lang
GROUP BY t.lang, l.n_l, l.vocab_l
"""


def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness — the variance-to-mean ratio (index of
    dispersion [K: Church-Gale burstiness]) of each frequent token's
    per-document count across the WHOLE corpus (absent docs count as
    zero): VMR 1e6 = Poisson-like spread, higher = the token clumps
    into few documents — the signal that separates content words from
    function words and drives stop-shingle pruning in the dedup stack.
    Computed entirely from integer sums: vmr_ppm =
    (N*sum(c^2) - sum(c)^2) * 1e6 // (N*sum(c)).

    Shape: one (doc, token) hash agg, one token hash agg (sum, sum of
    squares, df all in the same partial agg), the doc count as a 1-row
    broadcast. No windows, nothing global."""
    d = _docs(spark, sf_dir)
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = d.select("doc_id",
                    F.explode(F.filter(F.split(F.lower("text"), " "),
                                       lambda t: t != "")).alias("tok"))
    dt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_tok = (dt.groupBy("tok")
               .agg(F.count(F.lit(1)).alias("df"),
                    F.sum("c").alias("total"),
                    F.sum(F.col("c") * F.col("c")).alias("sum_sq"))
               .filter(F.col("total") >= BURST_MIN_TOTAL))
    return (per_tok.crossJoin(F.broadcast(n_docs))
            .select("tok", "df", "total",
                    F.expr("(n_docs * sum_sq - total * total) * 1000000"
                           " DIV (n_docs * total)").alias("vmr_ppm")))


def _sql_text_burstiness() -> str:
    return f"""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
toks AS (
  SELECT doc_id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''),
dt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
per_tok AS (
  SELECT tok, count(*) AS df, CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(c * c) AS BIGINT) AS sum_sq
  FROM dt GROUP BY tok
  HAVING sum(c) >= {BURST_MIN_TOTAL})
SELECT tok, df, total,
       CAST((n.n_docs * sum_sq - total * total) * 1000000
            // (n.n_docs * total) AS BIGINT) AS vmr_ppm
FROM per_tok CROSS JOIN n
"""


def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV-rate curve [K: the tokenizer-design
    measurement]: for each candidate vocab size N (top-N tokens by
    corpus count, deterministic ties), the fraction of total token
    mass covered — 1e6 minus this is the OOV rate a size-N vocabulary
    pays. Exact-integer cumulative sums in ppm.

    Shape: one token hash agg, orderBy+limit to the largest N
    (TakeOrdered — the rank window sees only the limited head), then a
    tiny size-grid join. The corpus-total is a 1-row broadcast."""
    d = _docs(spark, sf_dir)
    counts = (d.select(F.explode(F.filter(
        F.split(F.lower("text"), " "), lambda t: t != "")).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    total = counts.agg(F.sum("n").alias("total"))
    mx = max(VOCAB_COV_SIZES)
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(mx)
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    ranked = top.withColumn("rk", F.row_number().over(w))
    sizes = spark.createDataFrame([(n,) for n in VOCAB_COV_SIZES],
                                  "vocab_n int")
    return (ranked.join(F.broadcast(sizes),
                        F.col("rk") <= F.col("vocab_n"))
            .groupBy("vocab_n")
            .agg(F.sum("n").alias("covered"))
            .crossJoin(F.broadcast(total))
            .select("vocab_n",
                    F.col("covered").cast("long").alias("covered"),
                    F.col("total").cast("long").alias("total"),
                    F.expr("covered * 1000000 DIV total")
                    .alias("coverage_ppm")))


def _sql_text_vocab_coverage() -> str:
    sizes = ", ".join(str(n) for n in VOCAB_COV_SIZES)
    mx = max(VOCAB_COV_SIZES)
    return f"""
WITH toks AS (
  SELECT t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE t.tok <> ''),
counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rk
  FROM (SELECT tok, n FROM counts ORDER BY n DESC, tok ASC LIMIT {mx})),
sizes AS (SELECT unnest([{sizes}]) AS vocab_n)
SELECT s.vocab_n,
       CAST(sum(r.n) AS BIGINT) AS covered,
       t.total,
       CAST(sum(r.n) * 1000000 // t.total AS BIGINT) AS coverage_ppm
FROM ranked r JOIN sizes s ON r.rk <= s.vocab_n
CROSS JOIN total t
GROUP BY s.vocab_n, t.total
"""


def q_text_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mass-concentration profile: binned Lorenz curve + Gini
    coefficient over per-document character mass [K: the concentration
    read a curation team does before sampling — if 1% of documents
    hold 50% of the corpus mass, uniform-by-document sampling and
    uniform-by-token sampling are very different datasets]. Bins are
    power-of-two mass buckets computed WITHOUT libm — bin =
    len(bin(mass+1)) - 1, exact integer bit-length on both engines —
    because floor(log2(x)) through two different libm builds is a
    cross-engine hash hazard. Per bin (ascending = Lorenz order):
    doc count, mass, exact cumulative counts and ppm shares, plus the
    trapezoid Gini of the binned curve with an EXACT BIGINT numerator
    (sum n_i*(2*cumM_i - m_i)) over an exact n*S denominator — one
    double division at the very end. Binned-not-exact is the honest
    scale contract: exact Gini needs a global value sort (one
    partition at 10^12 rows); the histogram approximation is what a
    scan-shaped pipeline ships, and the bin width is the documented
    error bound.

    Shape: one map-side bin projection -> one <=40-row hash agg ->
    triangular self-join of that tiny table for cumulatives -> two
    1-row aggs crossJoined back. Everything after the first agg is
    broadcast-sized."""
    d = _docs(spark, sf_dir)
    b = d.select(
        (F.length(F.bin(F.length(F.coalesce(F.col("text"), F.lit("")))
                        .cast("long") + 1)) - 1).cast("int").alias("bin"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
        .alias("mass"))
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("mass").cast("long").alias("bin_mass"))
    cum = (g.alias("a").join(F.broadcast(g.alias("c")),
                             F.col("c.bin") <= F.col("a.bin"))
           .groupBy(F.col("a.bin").alias("bin"))
           .agg(F.max(F.col("a.n_docs")).cast("long").alias("n_docs"),
                F.max(F.col("a.bin_mass")).cast("long").alias("bin_mass"),
                F.sum(F.col("c.n_docs")).cast("long").alias("cum_docs"),
                F.sum(F.col("c.bin_mass")).cast("long").alias("cum_mass")))
    tot = g.agg(F.sum("n_docs").cast("long").alias("n"),
                F.sum("bin_mass").cast("long").alias("s"))
    gn = cum.agg(F.sum(F.col("n_docs")
                       * (2 * F.col("cum_mass") - F.col("bin_mass")))
                 .cast("long").alias("bsum"))
    return (cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(gn))
            .select("bin", "n_docs", "bin_mass", "cum_docs", "cum_mass",
                    F.expr("cum_docs * 1000000L DIV n").cast("long")
                    .alias("cum_pop_ppm"),
                    F.expr("cum_mass * 1000000L DIV s").cast("long")
                    .alias("cum_mass_ppm"),
                    F.round(F.lit(1.0) - F.col("bsum").cast("double")
                            / (F.col("n").cast("double")
                               * F.col("s").cast("double")), 6)
                    .alias("gini")))


def _sql_text_gini() -> str:
    return """
WITH m AS (
  SELECT length(coalesce(text, '')) AS mass,
         CAST(length(bin(CAST(length(coalesce(text, '')) AS BIGINT) + 1))
              - 1 AS INT) AS bin
  FROM documents),
g AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(mass) AS BIGINT) AS bin_mass
  FROM m GROUP BY 1),
cum AS (
  SELECT a.bin, max(a.n_docs) AS n_docs, max(a.bin_mass) AS bin_mass,
         CAST(sum(c.n_docs) AS BIGINT) AS cum_docs,
         CAST(sum(c.bin_mass) AS BIGINT) AS cum_mass
  FROM g a JOIN g c ON c.bin <= a.bin
  GROUP BY a.bin),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n,
               CAST(sum(bin_mass) AS BIGINT) AS s FROM g),
gn AS (SELECT CAST(sum(n_docs * (2 * cum_mass - bin_mass)) AS BIGINT)
         AS bsum FROM cum)
SELECT bin, n_docs, bin_mass, cum_docs, cum_mass,
       CAST(cum_docs * 1000000 // n AS BIGINT) AS cum_pop_ppm,
       CAST(cum_mass * 1000000 // s AS BIGINT) AS cum_mass_ppm,
       round(1.0 - CAST(bsum AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS gini
FROM cum CROSS JOIN tot CROSS JOIN gn
"""


def q_text_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) series [K: V(N) ~ K*N^beta —
    the sublinear type-vs-token curve every tokenizer-budget and
    dedup-health review reads; a corpus whose vocabulary grows LINEARLY
    is full of junk tokens or unseen boilerplate]: corpus prefixes are
    deterministic doc_id cuts at fixed ppm fractions of the id space
    (stable under engine/partitioning, unlike "first N rows" which has
    no order), and each grid row reports docs, exact TOKEN-TRIGRAM
    mass and distinct-trigram type count (a type enters at its MIN
    doc_id — one vocabulary-sized agg, computed once and shared
    across the grid), plus the Heaps beta of the point against the
    smallest prefix, beta = ln(V/V0)/ln(N/N0), as one identical
    double expression. Trigrams, not unigrams, ON PURPOSE: the
    synthetic fixture has a closed word list (unigram V saturates at
    the first prefix, beta = 0 — verified), while its 3-gram space
    exhibits the genuine Heaps regime (~0.81) the operator exists to
    measure; on a real corpus both units work and the unit is one
    line to change.

    Shape: one token explode -> one vocabulary-sized min-agg + one
    per-doc count agg (both map-side-partial), then a constant 4-row
    grid broadcast-joined against those two tiny-keyed tables. The
    grid share is the dedup_threshold_sweep philosophy: the expensive
    pass happens once."""
    d = _docs(spark, sf_dir)
    maxid = d.agg((F.max("doc_id") + 1).cast("long").alias("mx"))
    grid = spark.createDataFrame([(g,) for g in HEAPS_GRID_PPM],
                                 "g_ppm long")
    thr = (grid.crossJoin(F.broadcast(maxid))
           .select("g_ppm", F.expr("mx * g_ppm DIV 1000000")
                   .cast("long").alias("thr")))
    arr = d.select(
        "doc_id",
        F.filter(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                 r"\s+"), lambda t: t != "").alias("t"))
    # sequence(0, size-3) would run DESCENDING for short docs (Spark
    # defaults step to -1 when start > stop) — guard explicitly
    tri_arr = arr.select("doc_id", F.when(
        F.size("t") >= 3,
        F.expr("transform(sequence(0, size(t) - 3),"
               " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
        .otherwise(F.array().cast("array<string>")).alias("g"))
    toks = tri_arr.select("doc_id", F.explode("g").alias("tok"))
    first_seen = toks.groupBy("tok").agg(
        F.min("doc_id").cast("long").alias("first_doc"))
    doc_counts = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks"))
    types = (first_seen.crossJoin(F.broadcast(thr))
             .filter(F.col("first_doc") < F.col("thr"))
             .groupBy("g_ppm")
             .agg(F.count(F.lit(1)).cast("long").alias("n_types")))
    mass = (doc_counts.crossJoin(F.broadcast(thr))
            .filter(F.col("doc_id") < F.col("thr"))
            .groupBy("g_ppm")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_toks").cast("long").alias("n_grams")))
    base = (thr.join(types, "g_ppm").join(mass, "g_ppm"))
    b0 = (base.orderBy("g_ppm").limit(1)
          .select(F.col("n_grams").alias("n0"),
                  F.col("n_types").alias("v0")))
    return (base.crossJoin(F.broadcast(b0))
            .select("g_ppm", "thr", "n_docs", "n_grams", "n_types",
                    F.when(F.col("n_grams") == F.col("n0"),
                           F.lit(None).cast("double"))
                    .otherwise(F.round(
                        F.log(F.col("n_types").cast("double")
                              / F.col("v0").cast("double"))
                        / F.log(F.col("n_grams").cast("double")
                                / F.col("n0").cast("double")), 6))
                    .alias("heaps_beta")))


def _sql_text_heaps() -> str:
    grid_rows = ", ".join(f"({g})" for g in HEAPS_GRID_PPM)
    return f"""
WITH mx AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS mx
            FROM documents),
grid(g_ppm) AS (VALUES {grid_rows}),
thr AS (SELECT g_ppm, CAST(mx * g_ppm // 1000000 AS BIGINT) AS thr
        FROM grid CROSS JOIN mx),
arr AS (
  SELECT doc_id, list_filter(string_split_regex(
      lower(coalesce(text, '')), '\\s+'), x -> x <> '') AS t
  FROM documents),
toks AS (
  SELECT doc_id, g AS tok FROM arr,
  UNNEST(list_transform(generate_series(1, len(t) - 2),
      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(g)),
first_seen AS (
  SELECT tok, CAST(min(doc_id) AS BIGINT) AS first_doc
  FROM toks GROUP BY 1),
doc_counts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks
  FROM toks GROUP BY 1),
types AS (
  SELECT g_ppm, CAST(count(*) AS BIGINT) AS n_types
  FROM first_seen CROSS JOIN thr WHERE first_doc < thr GROUP BY 1),
mass AS (
  SELECT g_ppm, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_grams
  FROM doc_counts CROSS JOIN thr WHERE doc_id < thr GROUP BY 1),
base AS (
  SELECT thr.g_ppm, thr.thr, mass.n_docs, mass.n_grams, types.n_types
  FROM thr JOIN types USING (g_ppm) JOIN mass USING (g_ppm)),
b0 AS (SELECT n_grams AS n0, n_types AS v0 FROM base
       ORDER BY g_ppm LIMIT 1)
SELECT g_ppm, thr, n_docs, n_grams, n_types,
       CASE WHEN n_grams = n0 THEN NULL
            ELSE round(ln(CAST(n_types AS DOUBLE) / CAST(v0 AS DOUBLE))
                       / ln(CAST(n_grams AS DOUBLE)
                            / CAST(n0 AS DOUBLE)), 6) END AS heaps_beta
FROM base CROSS JOIN b0
"""


def q_text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection heuristics [K: the classifier every
    pretraining curation pipeline runs to route text into the code or
    the prose mix — symbol density, indented-line share, and keyword
    hits are the standard cheap signals (the fasttext classifier's
    feature floor)]: per document — exact symbol count (one pass per
    symbol char via length-difference, pure JVM), indented and total
    line counts, a code-keyword hit count (word-boundary regexp), the
    two densities in exact ppm, and the routing flag (symbol density
    > 3% OR >= 2 keywords AND >= 1 indented line — thresholds are
    demo constants, documented). Per-doc rows so downstream mixes can
    join directly.

    Shape: map-only projection over the documents scan — no shuffle
    at all; the cheapest full-corpus filter shape there is."""
    d = _docs(spark, sf_dir)
    txt = F.coalesce(F.col("text"), F.lit(""))
    sym = sum((F.length(txt)
               - F.length(F.replace(txt, F.lit(c), F.lit(""))))
              for c in CODE_SYMBOLS)
    lines = F.split(txt, "\n")
    n_lines = F.size(lines)
    indented = F.size(F.filter(lines, lambda x: x.startswith(" ")))
    kw = F.size(F.filter(
        F.split(F.lower(txt), r"\s+"),
        lambda t: t.isin("def", "class", "import", "return", "function",
                         "var", "const", "if", "else", "for")))
    base = d.select(
        "doc_id", "lang",
        F.length(txt).cast("long").alias("n_chars"),
        sym.cast("long").alias("n_symbols"),
        n_lines.cast("long").alias("n_lines"),
        indented.cast("long").alias("n_indented"),
        kw.cast("long").alias("n_keywords"))
    return base.select(
        "doc_id", "lang", "n_chars", "n_symbols", "n_lines",
        "n_indented", "n_keywords",
        F.expr("n_symbols * 1000000L DIV greatest(n_chars, 1)")
        .cast("long").alias("symbol_ppm"),
        F.expr("n_indented * 1000000L DIV greatest(n_lines, 1)")
        .cast("long").alias("indent_ppm"),
        F.expr("CAST(n_symbols * 1000000L DIV greatest(n_chars, 1)"
               " > 30000 OR (n_keywords >= 2 AND n_indented >= 1)"
               " AS INT)").alias("is_code"))


def _sql_text_code_detect() -> str:
    sym = " + ".join(
        "(length(t) - length(replace(t, '{}', '')))".format(c)
        for c in CODE_SYMBOLS)
    return f"""
WITH base AS (
  SELECT doc_id, lang, coalesce(text, '') AS t FROM documents),
feat AS (
  SELECT doc_id, lang,
         CAST(length(t) AS BIGINT) AS n_chars,
         CAST({sym} AS BIGINT) AS n_symbols,
         CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(list_filter(string_split(t, chr(10)),
                              x -> x LIKE ' %')) AS BIGINT)
           AS n_indented,
         CAST(len(list_filter(string_split_regex(lower(t), '\\s+'),
              x -> x IN ('def', 'class', 'import', 'return',
                         'function', 'var', 'const', 'if', 'else',
                         'for'))) AS BIGINT) AS n_keywords
  FROM base)
SELECT doc_id, lang, n_chars, n_symbols, n_lines, n_indented,
       n_keywords,
       CAST(n_symbols * 1000000 // greatest(n_chars, 1) AS BIGINT)
         AS symbol_ppm,
       CAST(n_indented * 1000000 // greatest(n_lines, 1) AS BIGINT)
         AS indent_ppm,
       CAST(CASE WHEN n_symbols * 1000000 // greatest(n_chars, 1)
                      > 30000
                  OR (n_keywords >= 2 AND n_indented >= 1)
            THEN 1 ELSE 0 END AS INT) AS is_code
FROM feat
"""


def q_text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Obfuscation-resistant blocklist filter [K: the safety/spam
    gate every web-corpus pipeline runs — naive term matching misses
    'c4sino' and 'v1agra', so terms are matched on a LEET-NORMALIZED
    shadow of the text (0->o, 1->i, 3->e, 4->a, 5->s, 7->t, @->a,
    $->s — the standard substitution table), while the reported
    surface stays the original token]: per document the blocklist hit
    count, the distinct terms hit, and the keep/drop flag; the terms
    ship as a broadcast list and matching is one translate + token
    scan, map-only.

    Shape: pure map-side projection (translate + split + filter-HOF)
    — no shuffle, no UDF; the gate costs one corpus scan. The demo
    list is tiny; a real deployment swaps in a broadcast DataFrame
    exactly like the curation keep-list gate."""
    d = _docs(spark, sf_dir)
    norm = F.translate(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                       LEET_SRC, LEET_DST)
    toks = F.filter(F.split(norm, r"\s+"), lambda t: t != "")
    hits = F.filter(toks, lambda t: t.isin(*BLOCKLIST_TERMS))
    return d.select(
        "doc_id",
        F.size(hits).cast("long").alias("n_hits"),
        F.array_sort(F.array_distinct(hits)).alias("terms_hit"),
        (F.size(hits) == 0).cast("int").alias("keep"))


def _sql_text_blocklist() -> str:
    terms = ", ".join(f"'{t}'" for t in BLOCKLIST_TERMS)
    return f"""
WITH norm AS (
  SELECT doc_id,
         translate(lower(coalesce(text, '')),
                   '{LEET_SRC}', '{LEET_DST}') AS t
  FROM documents),
hits AS (
  SELECT doc_id,
         list_filter(list_filter(string_split_regex(t, '\\s+'),
                                 x -> x <> ''),
                     x -> x IN ({terms})) AS h
  FROM norm)
SELECT doc_id, CAST(len(h) AS BIGINT) AS n_hits,
       list_sort(list_distinct(h)) AS terms_hit,
       CAST(CASE WHEN len(h) = 0 THEN 1 ELSE 0 END AS INT) AS keep
FROM hits
"""


def q_text_class_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-CLASS Shannon entropy per document [K: the gibberish
    / keyboard-mash / base64-blob detector quality pipelines run —
    natural prose mixes lowercase, spaces and punctuation at a
    characteristic ~0.9-1.6 bits over the 6 ASCII classes, while
    hex dumps, minified JS and repeated-char spam collapse toward one
    class]: per doc the 6 class counts (lower / upper / digit /
    whitespace / ASCII-punct / other), the class entropy in bits, the
    dominant-class ratio in exact ppm, and a deterministic suspect
    flag (entropy < 0.6 bits over >= 20 chars — prose sits well above, one-class collapse well below). The entropy is a
    FIXED-ORDER sum of 6 closed-form terms — no fold over a variable-
    length aggregation, so there is no cross-engine float-order
    hazard; class counts come from regexp_replace lengths (JVM regex,
    map-only).

    Shape: pure map-side projection — one corpus scan, zero shuffle,
    zero UDF. The 100-TB cost is the scan itself."""
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))

    def cnt(rx: str):
        return (F.length(t)
                - F.length(F.regexp_replace(t, rx, ""))).cast("long")

    e = (d.select(
        "doc_id", F.length(t).cast("long").alias("n_chars"),
        cnt("[a-z]").alias("n_lower"), cnt("[A-Z]").alias("n_upper"),
        cnt("[0-9]").alias("n_digit"),
        cnt(r"[ \t\n\r]").alias("n_space"),
        cnt(_PUNCT_CC).alias("n_punct"))
        .withColumn("n_other",
                    (F.col("n_chars") - F.col("n_lower")
                     - F.col("n_upper") - F.col("n_digit")
                     - F.col("n_space") - F.col("n_punct"))
                    .cast("long")))

    def term(c: str):
        p = F.col(c).cast("double") / F.col("n_chars").cast("double")
        return F.when(F.col(c) > 0, -p * F.log2(p)).otherwise(0.0)

    classes = ["n_lower", "n_upper", "n_digit", "n_space", "n_punct",
               "n_other"]
    ent = term(classes[0])
    for c in classes[1:]:
        ent = ent + term(c)
    return (e.withColumn(
        "entropy",
        F.when(F.col("n_chars") > 0, F.round(ent, 6)))
        .withColumn(
            "dom_ppm",
            F.when(F.col("n_chars") > 0, F.expr(
                "greatest(n_lower, n_upper, n_digit, n_space,"
                " n_punct, n_other) * 1000000 DIV n_chars"))
            .cast("long"))
        .withColumn(
            "is_suspect",
            ((F.col("n_chars") >= 20) & (F.col("entropy") < 0.6))
            .cast("int")))


def _sql_text_class_entropy() -> str:
    punct = _PUNCT_CC.replace("'", "''")
    terms = " + ".join(
        f"(CASE WHEN {c} > 0 THEN -(CAST({c} AS DOUBLE)"
        f" / CAST(n_chars AS DOUBLE))"
        f" * log2(CAST({c} AS DOUBLE) / CAST(n_chars AS DOUBLE))"
        f" ELSE 0.0 END)"
        for c in ("n_lower", "n_upper", "n_digit", "n_space",
                  "n_punct", "n_other"))
    return f"""
WITH t AS (SELECT doc_id, coalesce(text, '') AS s FROM documents),
c AS (
  SELECT doc_id, CAST(length(s) AS BIGINT) AS n_chars,
         CAST(length(s) - length(regexp_replace(s, '[a-z]', '', 'g'))
              AS BIGINT) AS n_lower,
         CAST(length(s) - length(regexp_replace(s, '[A-Z]', '', 'g'))
              AS BIGINT) AS n_upper,
         CAST(length(s) - length(regexp_replace(s, '[0-9]', '', 'g'))
              AS BIGINT) AS n_digit,
         CAST(length(s) - length(regexp_replace(s, '[ \\t\\n\\r]', '',
                                                'g'))
              AS BIGINT) AS n_space,
         CAST(length(s) - length(regexp_replace(s, '{punct}', '', 'g'))
              AS BIGINT) AS n_punct
  FROM t),
e AS (
  SELECT doc_id, n_chars, n_lower, n_upper, n_digit, n_space, n_punct,
         CAST(n_chars - n_lower - n_upper - n_digit - n_space - n_punct
              AS BIGINT) AS n_other
  FROM c)
SELECT doc_id, n_chars, n_lower, n_upper, n_digit, n_space, n_punct,
       n_other,
       CASE WHEN n_chars > 0 THEN round({terms}, 6) END AS entropy,
       CASE WHEN n_chars > 0 THEN CAST(
         greatest(n_lower, n_upper, n_digit, n_space, n_punct, n_other)
         * 1000000 // n_chars AS BIGINT) END AS dom_ppm,
       CAST(CASE WHEN n_chars >= 20
                  AND round({terms}, 6) < 0.6
            THEN 1 ELSE 0 END AS INT) AS is_suspect
FROM e
"""


def q_text_memorization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document n-gram memorization audit [K: the repeated-
    8-gram measurement behind dedup decisions in RefinedWeb/Gopher —
    what share of the corpus's 8-gram MASS is duplicated across
    documents? high duplicated mass means the model will memorize
    boilerplate; the doc-frequency histogram head shows how bad]:
    one row per doc-frequency band (1, 2, 3-4, 5-8, 9+) with the
    8-gram type and mass counts, plus corpus-wide duplicated-mass
    ppm on every row.

    Shape: token explode -> 8-gram windows per doc via posexplode
    over token arrays (map-side slice, no self-join) -> one
    (gram-hash) hash agg -> a 5-row band agg. The gram kills the
    raw string early (md5 -> 128-bit key), so the shuffle carries
    hashes, not text."""
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    toks = F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")
    n = MEMO_NGRAM_N
    grams = d.select("doc_id", toks.alias("tk")).select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(tk) >= {n} THEN transform("
            f"sequence(0, size(tk) - {n}),"
            f" i -> md5(concat_ws(' ', slice(tk, i + 1, {n}))))"
            f" ELSE CAST(array() AS ARRAY<STRING>) END")).alias("g"))
    per = (grams.groupBy("g")
           .agg(F.count(F.lit(1)).cast("long").alias("mass"),
                F.countDistinct("doc_id").cast("long").alias("df")))
    band = F.expr("CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2'"
                  " WHEN df <= 4 THEN '3-4' WHEN df <= 8 THEN '5-8'"
                  " ELSE '9+' END")
    hist = (per.withColumn("band", band)
            .groupBy("band")
            .agg(F.count(F.lit(1)).cast("long").alias("n_types"),
                 F.sum("mass").cast("long").alias("mass")))
    tot = (per.agg(
        F.sum("mass").cast("long").alias("total_mass"),
        F.sum(F.when(F.col("df") > 1, F.col("mass")).otherwise(0))
        .cast("long").alias("dup_mass")))
    return (hist.crossJoin(F.broadcast(tot))
            .select("band", "n_types", "mass", "total_mass",
                    F.expr("dup_mass * 1000000"
                           " DIV greatest(total_mass, 1)")
                    .cast("long").alias("dup_mass_ppm")))


def _sql_text_memorization() -> str:
    n = MEMO_NGRAM_N
    return f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(coalesce(text, '')),
                                        '\\s+'),
                     x -> x <> '') AS tk
  FROM documents),
grams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(tk) >= {n} THEN list_transform(
      generate_series(0, len(tk) - {n}),
      i -> md5(array_to_string(list_slice(tk, i + 1, i + {n}), ' ')))
    ELSE [] END) AS g
  FROM tk),
per AS (
  SELECT g, CAST(count(*) AS BIGINT) AS mass,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM grams GROUP BY 1),
hist AS (
  SELECT CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2'
              WHEN df <= 4 THEN '3-4' WHEN df <= 8 THEN '5-8'
              ELSE '9+' END AS band,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(mass) AS BIGINT) AS mass
  FROM per GROUP BY 1),
tot AS (
  SELECT CAST(sum(mass) AS BIGINT) AS total_mass,
         CAST(sum(CASE WHEN df > 1 THEN mass ELSE 0 END) AS BIGINT)
           AS dup_mass
  FROM per)
SELECT band, n_types, mass, total_mass,
       CAST(dup_mass * 1000000 // greatest(total_mass, 1) AS BIGINT)
         AS dup_mass_ppm
FROM hist CROSS JOIN tot
"""


def q_text_instruction_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-format detection [K: the router that separates
    instruction-shaped documents (imperative openers, enumerated
    steps, direct questions) from plain prose before building an
    instruction-tuning mix — the SFT analog of text_code_detect's
    code/prose routing]: per doc the imperative-opener flag (first
    token in a broadcast verb list, leet-free lowercase), question
    and list-marker and 'step N' counts (JVM regex, multiline), a
    capped exact-integer score, and the routing flag.

    Shape: pure map-side projection — one scan, zero shuffle, zero
    UDF."""
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    first_tok = F.element_at(
        F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != ""), 1)
    imp = F.coalesce(first_tok.isin(*IMPERATIVE_VERBS), F.lit(False)) \
        .cast("int")
    nq = (F.length(t) - F.length(F.regexp_replace(t, r"\?", ""))) \
        .cast("long")
    nlist = F.size(F.regexp_extract_all(
        t, F.lit(r"(?m)^\s*(?:[-*]|\d+[.)])\s"), F.lit(0))) \
        .cast("long")
    nstep = F.size(F.regexp_extract_all(
        F.lower(t), F.lit(r"step [0-9]"), F.lit(0))).cast("long")
    score = (imp.cast("long") * 400000
             + F.least(nq, F.lit(3)) * 100000
             + F.least(nlist, F.lit(5)) * 60000
             + F.least(nstep, F.lit(3)) * 100000)
    return d.select(
        "doc_id", imp.alias("imperative_open"),
        nq.alias("n_questions"), nlist.alias("n_list_markers"),
        nstep.alias("n_steps"),
        score.cast("long").alias("instruct_score"),
        (score >= 400000).cast("int").alias("is_instruction"))


def _sql_text_instruction_detect() -> str:
    verbs = ", ".join(f"'{v}'" for v in IMPERATIVE_VERBS)
    return f"""
WITH t AS (SELECT doc_id, coalesce(text, '') AS s FROM documents),
base AS (
  SELECT doc_id,
         CAST(CASE WHEN len(list_filter(
                 string_split_regex(lower(s), '\\s+'), x -> x <> ''))
                 > 0
               AND list_filter(string_split_regex(lower(s), '\\s+'),
                               x -> x <> '')[1] IN ({verbs})
              THEN 1 ELSE 0 END AS INT) AS imperative_open,
         CAST(length(s) - length(replace(s, '?', '')) AS BIGINT)
           AS n_questions,
         CAST(len(regexp_extract_all(s,
              '(?m)^\\s*(?:[-*]|\\d+[.)])\\s')) AS BIGINT)
           AS n_list_markers,
         CAST(len(regexp_extract_all(lower(s), 'step [0-9]'))
              AS BIGINT) AS n_steps
  FROM t)
SELECT doc_id, imperative_open, n_questions, n_list_markers, n_steps,
       CAST(imperative_open * 400000
            + least(n_questions, 3) * 100000
            + least(n_list_markers, 5) * 60000
            + least(n_steps, 3) * 100000 AS BIGINT)
         AS instruct_score,
       CAST(CASE WHEN imperative_open * 400000
                      + least(n_questions, 3) * 100000
                      + least(n_list_markers, 5) * 60000
                      + least(n_steps, 3) * 100000 >= 400000
            THEN 1 ELSE 0 END AS INT) AS is_instruction
FROM base
"""
