"""Driver queries: `curation` domain."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from ._shared import *  # noqa: F401,F403


def q_curation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: md5-ranked top-20 per lang
    (operators/curation.py — seedless, engine-portable, unlike
    rand(seed) whose stream is engine/partitioning-specific)."""
    from ...operators.curation import stratified_sample
    return stratified_sample(_docs(spark, sf_dir), "lang",
                             k=SAMPLE_PER_STRATUM)


SQL_CURATION_SAMPLE = f"""
SELECT doc_id, stratum, rk FROM (
  SELECT doc_id, lang AS stratum,
         row_number() OVER (PARTITION BY lang
             ORDER BY md5(cast(doc_id AS VARCHAR) || ':' || coalesce(text, '')),
                      doc_id ASC) AS rk
  FROM documents) WHERE rk <= {SAMPLE_PER_STRATUM}
"""


def q_curation_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware curation decision per document: exact-dup clusters
    keep min doc_id; each near-dup (Jaccard) pair drops its
    shorter/larger-id member (operators/curation.py keep_best)."""
    from ...operators.curation import keep_best
    docs = _docs(spark, sf_dir)
    return keep_best(docs, q_dedup_jaccard(spark, sf_dir))


def _sql_curation_keep_best() -> str:
    return f"""
WITH d AS (SELECT doc_id, md5(text) AS h, n_chars FROM documents),
canon AS (SELECT h, min(doc_id) AS canonical FROM d GROUP BY h),
pairs AS ({SQL_DEDUP_JACCARD}),
near_losers AS (
  SELECT DISTINCT CASE WHEN a.n_chars < b.n_chars THEN p.doc_a
                       WHEN b.n_chars < a.n_chars THEN p.doc_b
                       ELSE greatest(p.doc_a, p.doc_b) END AS doc_id
  FROM pairs p
  JOIN d a ON a.doc_id = p.doc_a
  JOIN d b ON b.doc_id = p.doc_b
),
exact_losers AS (
  SELECT d.doc_id FROM d JOIN canon ON canon.h = d.h
  WHERE d.doc_id != canon.canonical
)
SELECT d.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'drop_exact'
            WHEN nl.doc_id IS NOT NULL THEN 'drop_near'
            ELSE 'keep' END AS status
FROM d
LEFT JOIN (SELECT DISTINCT doc_id FROM exact_losers) e ON e.doc_id = d.doc_id
LEFT JOIN near_losers nl ON nl.doc_id = d.doc_id
"""


def q_curation_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/curation.pack_sequences,
    concat-and-chunk): per-bin packing stats over the documents table,
    sharded by source."""
    from ...operators.curation import pack_sequences
    packed = pack_sequences(_docs(spark, sf_dir), budget=PACK_BUDGET)
    return (packed.groupBy("shard", "bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


SQL_CURATION_PACK = f"""
WITH toks AS (
  SELECT doc_id, source AS shard,
         len(list_filter(string_split(coalesce(text, ''), ' '),
                         t -> t <> '')) AS n_tokens
  FROM documents),
binned AS (
  SELECT doc_id, shard, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / {PACK_BUDGET}) AS INT) AS bin
  FROM toks)
SELECT shard, bin, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM binned GROUP BY shard, bin
"""


def q_curation_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) domain-mixture sampling over the
    lang column (operators/curation.mixture_sample): per-domain quotas
    proportional to sqrt(count), exact integer quota math, md5-rank row
    selection."""
    from ...operators.curation import mixture_sample
    return mixture_sample(_docs(spark, sf_dir), "lang",
                          target=MIXTURE_TARGET,
                          weight_scale=MIXTURE_SCALE)


SQL_CURATION_MIXTURE = f"""
WITH c AS (SELECT lang AS domain, count(*) AS cnt FROM documents
           GROUP BY lang),
w AS (SELECT domain,
             CAST(floor(sqrt(CAST(cnt AS DOUBLE)) * {MIXTURE_SCALE})
                  AS BIGINT) AS w
      FROM c),
q AS (SELECT domain,
             CAST(({MIXTURE_TARGET} * w)
                  // (SELECT CAST(sum(w) AS BIGINT) FROM w)
                  AS BIGINT) AS quota
      FROM w),
r AS (SELECT doc_id, lang AS domain,
             row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || ':'
                              || coalesce(text, '')),
                          doc_id ASC) AS rnk
      FROM documents)
SELECT r.domain, r.doc_id, r.rnk, q.quota
FROM r JOIN q ON q.domain = r.domain
WHERE r.rnk <= q.quota
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def q_curation_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile curriculum bucketing (operators/curation.py
    quantile_buckets over bigram_lm_cost): every document gets a 1..10
    tier by exact LM-cost quantile thresholds — broadcast-threshold
    comparison chain, never a single-partition global ntile."""
    from ...operators.curation import bigram_lm_cost, quantile_buckets
    scored = bigram_lm_cost(_docs(spark, sf_dir))
    return (quantile_buckets(scored, "avg_cost_micro", n_buckets=10)
            .select("doc_id", "avg_cost_micro",
                    F.col("bucket").alias("decile")))


def _sql_curation_deciles() -> str:
    cases = " + ".join(
        f"(CASE WHEN avg_cost_micro > t.q{i} THEN 1 ELSE 0 END)"
        for i in range(9))
    qcols = ", ".join(
        f"quantile_cont(avg_cost_micro, {(i + 1) / 10!r}) AS q{i}"
        for i in range(9))
    return f"""
WITH scored AS ({SQL_TEXT_PERPLEXITY}),
th AS (SELECT {qcols} FROM scored)
SELECT s.doc_id, s.avg_cost_micro,
       CAST(1 + {cases} AS INTEGER) AS decile
FROM scored s CROSS JOIN th t
"""


def q_curation_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/curation.py weighted_sample, Efraimidis–Spirakis keys
    from md5 uniforms): 50 docs drawn proportional to length. Oracle:
    digit-by-digit md5 uniform replay + the same key arithmetic."""
    from ...operators.curation import weighted_sample
    return weighted_sample(_docs(spark, sf_dir), "n_chars",
                           n=WEIGHTED_SAMPLE_N)


def _sql_curation_weighted() -> str:
    dig = " + ".join(
        f"(instr('0123456789abcdef', substring(k, {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}" for i in range(8))
    return f"""
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         round(-ln((CAST(({dig}) AS DOUBLE) + 1.0) / 4294967297.0)
               / CAST(n_chars AS DOUBLE), 6) AS es_key
  FROM (SELECT doc_id, n_chars,
               md5(cast(doc_id AS VARCHAR)) AS k FROM documents) x)
SELECT doc_id, weight, es_key FROM keyed
ORDER BY es_key ASC, doc_id ASC
LIMIT {WEIGHTED_SAMPLE_N}
"""


# ---------------------------------------------------------------------------
# Agent-transcript analytics (tool sequences / latency), CDC SCD2,
# triangle counting, hashed quality classifier (round 3, second wave)
# ---------------------------------------------------------------------------

def q_curation_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment
    (operators/curation.py:assign_shards) — map-only, no shuffle."""
    from ...operators.curation import assign_shards
    return assign_shards(_docs(spark, sf_dir))


def _sql_curation_shards() -> str:
    from ...operators.curation import N_SHARDS
    dig = " + ".join(
        f"(instr('0123456789abcdef', substring(k, {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}" for i in range(8))
    return f"""
SELECT doc_id,
       CAST(({dig}) % {N_SHARDS} AS INT) AS shard,
       substring(k, 9, 8) AS order_key
FROM (SELECT doc_id, md5(cast(doc_id AS VARCHAR)) AS k FROM documents) x
"""


def q_curation_source_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level quality gate (operators/curation.py:source_filter):
    per-source mean-length score vs the corpus mean (relative gate, so
    the filter genuinely drops sources at every sf), broadcast-joined
    back as a filter; one source blocklisted on top."""
    from ...operators.curation import source_filter
    return source_filter(_docs(spark, sf_dir),
                         blocklist=SOURCE_FILTER_BLOCKLIST)


def _sql_curation_source_filter() -> str:
    bl = ", ".join(f"'{s}'" for s in SOURCE_FILTER_BLOCKLIST)
    return f"""
WITH stats AS (
  SELECT source,
         round(avg(n_chars), 6) + 0.0 AS source_score,
         count(*) AS source_docs
  FROM documents GROUP BY source
),
corpus AS (SELECT round(avg(n_chars), 6) + 0.0 AS corpus_mean FROM documents),
gate AS (
  SELECT s.* FROM stats s, corpus c
  WHERE s.source_score >= c.corpus_mean AND s.source NOT IN ({bl})
)
SELECT d.doc_id, d.source, g.source_score, g.source_docs
FROM documents d JOIN gate g ON d.source = g.source
"""


def q_curation_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SHARDED round-robin domain interleaving for
    training order (operators/curation.py:interleave_domains), domains
    = source. Global order is shard-major concatenation of per-shard
    interleaved schedules — no global sort in the Spark plan."""
    from ...operators.curation import interleave_domains
    return interleave_domains(_docs(spark, sf_dir), "source")


def _sql_curation_interleave() -> str:
    from ...operators.curation import N_SHARDS
    dig = " + ".join(
        f"(instr('0123456789abcdef', substring(sh, {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}" for i in range(8))
    return f"""
WITH keyed AS (
  SELECT doc_id, source AS domain,
         CAST(({dig}) % {N_SHARDS} AS INT) AS shard,
         md5(cast(doc_id AS VARCHAR) || ':' || coalesce(text, '')) AS k
  FROM (SELECT *, md5(cast(doc_id AS VARCHAR)) AS sh FROM documents) d
),
pos AS (
  SELECT doc_id, domain, shard,
         CAST(row_number() OVER (PARTITION BY shard, domain
                                 ORDER BY k, doc_id) AS BIGINT)
           AS pos_in_domain
  FROM keyed
),
localp AS (
  SELECT doc_id, domain, shard, pos_in_domain,
         CAST(row_number() OVER (PARTITION BY shard
                                 ORDER BY pos_in_domain, domain, doc_id)
              AS BIGINT) AS local_pos
  FROM pos
),
offs AS (
  SELECT shard,
         CAST(coalesce(sum(count(*)) OVER (
                ORDER BY shard ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS BIGINT) AS off
  FROM keyed GROUP BY shard
)
SELECT l.doc_id, l.domain, l.shard, l.pos_in_domain,
       CAST(o.off + l.local_pos AS BIGINT) AS global_pos
FROM localp l JOIN offs o ON o.shard = l.shard
"""


def q_curation_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights against the English slice as the
    target distribution (operators/curation.py:dsir_importance) —
    fixed-point likelihood-ratio scoring of every raw document."""
    from ...operators.curation import dsir_importance
    d = _docs(spark, sf_dir).withColumn(
        "is_en", (F.col("lang") == "en").cast("int"))
    return dsir_importance(d, "is_en")


SQL_CURATION_DSIR = """
WITH tokd AS (
  SELECT doc_id, CAST(lang = 'en' AS INTEGER) AS is_target,
         unnest(list_filter(string_split_regex(lower(coalesce(text, '')),
                                               '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
stream AS (
  SELECT doc_id, is_target,
         (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
         + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS bucket
  FROM tokd
),
counts AS (
  SELECT bucket, count(*) AS raw_cnt, sum(is_target) AS tgt_cnt
  FROM stream GROUP BY 1
),
totals AS (
  SELECT sum(raw_cnt) AS raw_total, sum(tgt_cnt) AS tgt_total FROM counts
),
ratios AS (
  SELECT bucket,
         CAST(((tgt_cnt + 1) * 1000000 // (raw_cnt + 1))
              * (raw_total + 256) // (tgt_total + 256) AS BIGINT)
           AS ratio_ppm
  FROM counts, totals
)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(max(s.is_target) AS INTEGER) AS is_target,
       CAST(sum(r.ratio_ppm) // count(*) AS BIGINT) AS dsir_score_ppm
FROM stream s JOIN ratios r USING (bucket)
GROUP BY s.doc_id
"""


def q_curation_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-filter funnel with per-rule attrition
    accounting (operators/curation.py:filter_attrition) — the
    RefinedWeb/Dolma-style drop report: min-tokens, language,
    repetition, diversity, each document charged to the FIRST rule it
    fails. One signal pass + one grouping-free Aggregate; constant-size
    output."""
    from ...operators.curation import filter_attrition
    return filter_attrition(_docs(spark, sf_dir),
                            min_tokens=ATTRITION_MIN_TOKENS,
                            allowed_lang=ATTRITION_LANG,
                            max_tok_share_ppm=ATTRITION_MAX_TOK_SHARE_PPM,
                            min_ttr_ppm=ATTRITION_MIN_TTR_PPM)


SQL_CURATION_ATTRITION = f"""
WITH per_tok AS (
  SELECT doc_id, tok, count(*) AS n FROM (
    SELECT doc_id,
           unnest(list_filter(
             string_split_regex(lower(coalesce(text, '')), '\\s+'),
             t -> t <> '')) AS tok
    FROM documents)
  GROUP BY 1, 2
),
sig AS (
  SELECT d.lang,
         coalesce(sum(p.n), 0) AS n_toks,
         coalesce(count(p.tok), 0) AS n_types,
         coalesce(max(p.n), 0) AS max_n
  FROM documents d LEFT JOIN per_tok p USING (doc_id)
  GROUP BY d.doc_id, d.lang
),
flags AS (
  SELECT n_toks >= {ATTRITION_MIN_TOKENS} AS p1,
         lang = '{ATTRITION_LANG}' AS p2,
         CASE WHEN n_toks > 0 THEN max_n * 1000000 // n_toks
              ELSE NULL END <= {ATTRITION_MAX_TOK_SHARE_PPM} AS p3,
         CASE WHEN n_toks > 0 THEN n_types * 1000000 // n_toks
              ELSE NULL END >= {ATTRITION_MIN_TTR_PPM} AS p4
  FROM sig
),
agg AS (
  SELECT count(*) AS n0,
         coalesce(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END), 0) AS d1,
         coalesce(sum(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END), 0) AS d2,
         coalesce(sum(CASE WHEN p1 AND p2 AND NOT p3 THEN 1 ELSE 0 END),
                  0) AS d3,
         coalesce(sum(CASE WHEN p1 AND p2 AND p3 AND NOT p4
                           THEN 1 ELSE 0 END), 0) AS d4
  FROM flags
),
rows_ AS (
  SELECT 1 AS stage, 'min_tokens' AS rule, n0 AS n_in, d1 AS n_dropped
    FROM agg
  UNION ALL SELECT 2, 'language', n0 - d1, d2 FROM agg
  UNION ALL SELECT 3, 'repetition', n0 - d1 - d2, d3 FROM agg
  UNION ALL SELECT 4, 'diversity', n0 - d1 - d2 - d3, d4 FROM agg
  UNION ALL SELECT 5, 'survived', n0 - d1 - d2 - d3 - d4, 0 FROM agg
)
SELECT CAST(stage AS BIGINT) AS stage, rule,
       CAST(n_in AS BIGINT) AS n_in,
       CAST(n_dropped AS BIGINT) AS n_dropped,
       CAST(n_in - n_dropped AS BIGINT) AS n_out,
       CAST(CASE WHEN n_in > 0 THEN n_dropped * 1000000 // n_in
                 ELSE 0 END AS BIGINT) AS drop_ppm
FROM rows_
"""


def q_curation_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking for embedding/RAG prep
    (operators/curation.py:chunk_documents) — 16-token chunks every 12
    tokens, short tail kept. Pure map: JVM array HOFs + one explode, no
    shuffle anywhere in the plan."""
    from ...operators.curation import chunk_documents
    return chunk_documents(_docs(spark, sf_dir),
                           chunk_tokens=CHUNK_TOKENS, stride=CHUNK_STRIDE)


SQL_CURATION_CHUNKS = f"""
WITH base AS (
  SELECT doc_id, tk, len(tk) AS n,
         CASE WHEN len(tk) = 0 THEN 0
              WHEN len(tk) <= {CHUNK_TOKENS} THEN 1
              ELSE (len(tk) - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1)
                   // {CHUNK_STRIDE} + 1 END AS nc
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '\\s+'),
                           t -> t <> '') AS tk
        FROM documents)
)
SELECT doc_id,
       CAST(r.c AS BIGINT) AS chunk_idx,
       CAST(r.c * {CHUNK_STRIDE} + 1 AS BIGINT) AS tok_from,
       CAST(least(r.c * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n) AS BIGINT)
         AS tok_to,
       list_aggregate(tk[r.c * {CHUNK_STRIDE} + 1 :
                         r.c * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                      'string_agg', ' ') AS chunk
FROM base, lateral unnest(range(0, nc)) AS r(c)
"""


def q_curation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split audit: assignment by the
    first two md5 hex digits of doc_id (stable under corpus growth —
    a doc never changes split when new data arrives, the property that
    makes hash splits the standard at pipeline scale), with per
    (split, source) counts, the split's corpus share in exact ppm, and
    a leakage audit — documents whose exact text hash appears in MORE
    THAN ONE split (the cross-split dup leak a random split silently
    ships). Two hash aggs + one broadcast-sized leak join."""
    d = _docs(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 2), 16, 10).cast("long")
    split = (F.when(bucket < SPLIT_TRAIN_MAX, "train")
             .when(bucket < SPLIT_VAL_MAX, "val")
             .otherwise("test"))
    t = d.select(F.col("doc_id"), F.col("source"), split.alias("split"),
                 F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"))
    leaky = (t.groupBy("h")
             .agg(F.count_distinct("split").alias("n_splits"))
             .filter(F.col("n_splits") > 1).select("h"))
    flagged = t.join(F.broadcast(leaky), "h", "left_semi") \
        .select("doc_id").withColumn("is_leaky", F.lit(1))
    g = (t.join(flagged, "doc_id", "left")
         .groupBy("split", "source")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum(F.coalesce("is_leaky", F.lit(0))).alias("n_leaky_docs")))
    tot = g.agg(F.sum("n_docs").alias("n_total"))
    w_split = g.groupBy("split").agg(F.sum("n_docs").alias("n_split"))
    return (g.join(w_split, "split").crossJoin(F.broadcast(tot))
            .select("split", "source",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("n_leaky_docs").cast("long").alias("n_leaky_docs"),
                    F.col("n_split").cast("long").alias("n_split"),
                    F.expr("n_split * 1000000L DIV n_total")
                    .cast("long").alias("split_share_ppm")))


def _sql_curation_split() -> str:
    bucket = ("(strpos('0123456789abcdef',"
              " substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
              " + strpos('0123456789abcdef',"
              " substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1")
    return f"""
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN ({bucket}) < {SPLIT_TRAIN_MAX} THEN 'train'
              WHEN ({bucket}) < {SPLIT_VAL_MAX} THEN 'val'
              ELSE 'test' END AS split,
         md5(coalesce(text, '')) AS h
  FROM documents),
leaky AS (
  SELECT h FROM (SELECT h, count(DISTINCT split) AS c FROM t GROUP BY h)
  WHERE c > 1),
g AS (
  SELECT split, source, count(*) AS n_docs,
         sum(CASE WHEN h IN (SELECT h FROM leaky) THEN 1 ELSE 0 END)
           AS n_leaky_docs
  FROM t GROUP BY split, source),
ws AS (SELECT split, sum(n_docs) AS n_split FROM g GROUP BY split),
tot AS (SELECT sum(n_docs) AS n_total FROM g)
SELECT g.split, g.source, CAST(g.n_docs AS BIGINT) AS n_docs,
       CAST(g.n_leaky_docs AS BIGINT) AS n_leaky_docs,
       CAST(ws.n_split AS BIGINT) AS n_split,
       CAST(ws.n_split * 1000000 // t.n_total AS BIGINT)
         AS split_share_ppm
FROM g JOIN ws ON ws.split = g.split CROSS JOIN tot t
"""


def q_curation_skipgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair generation — the training-data
    prep for the word2vec embeddings the reference's autotagger runs
    on [K]: every token pairs with its neighbors within ±2 positions,
    symmetric, counted over the corpus. The join is EQUI by
    construction: instead of a non-equi |pos_a − pos_b| ≤ W predicate
    (a range join), each center explodes into W forward target keys
    (doc_id, pos+o) and equi-joins the token table — so Catalyst plans
    an ordinary keyed shuffle join that partitions by doc at any
    scale, and symmetry is restored by emitting each pair both ways.
    The HAVING ≥ 2 cut drops the singleton long tail (the same
    min-count every word2vec implementation applies)."""
    d = _docs(spark, sf_dir)
    tok = (d.select(
        "doc_id",
        F.posexplode(F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
            lambda t: t != "")).alias("pos", "raw"))
        .select("doc_id", "pos",
                F.regexp_replace("raw", r"[.!?,;:]", "").alias("tok"))
        .filter(F.col("tok") != ""))
    off = (tok.select("doc_id", "pos", F.col("tok").alias("center"))
           .withColumn("o", F.explode(F.array(
               *[F.lit(i) for i in range(1, SKIPGRAM_WINDOW + 1)])))
           .select("doc_id", (F.col("pos") + F.col("o")).alias("pos"),
                   "center"))
    pairs = (off.join(tok, ["doc_id", "pos"])
             .select("center", F.col("tok").alias("context")))
    sym = pairs.unionByName(
        pairs.select(F.col("context").alias("center"),
                     F.col("center").alias("context")))
    return (sym.groupBy("center", "context")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
            .filter(F.col("n_pairs") >= SKIPGRAM_MIN_PAIRS))


def _sql_curation_skipgram() -> str:
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
pairs AS (
  SELECT a.tok AS center, b.tok AS context
  FROM tok a JOIN tok b
    ON b.doc_id = a.doc_id
   AND b.pos - a.pos BETWEEN 1 AND {SKIPGRAM_WINDOW}),
sym AS (SELECT center, context FROM pairs
        UNION ALL
        SELECT context, center FROM pairs)
SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs
FROM sym GROUP BY 1, 2
HAVING count(*) >= {SKIPGRAM_MIN_PAIRS}
"""


def q_curation_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted domain mixture (operators/curation.
    token_budget_mix): greedy longest-first prefix under a hard
    per-domain whitespace-token budget, reported as per-domain
    kept/dropped counts and exact-ppm budget fill."""
    from ...operators.curation import token_budget_mix
    return token_budget_mix(_docs(spark, sf_dir), TOKEN_BUDGET)


SQL_CURATION_TOKEN_BUDGET = rf"""
WITH toks AS (
  SELECT doc_id, source AS domain,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         t -> t <> '')) AS n_toks
  FROM documents),
c AS (
  SELECT domain, doc_id, n_toks,
         sum(n_toks) OVER (PARTITION BY domain
                           ORDER BY n_toks DESC, doc_id ASC
                           ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks),
k AS (
  SELECT domain, n_toks,
         CASE WHEN cum <= {TOKEN_BUDGET} THEN 1 ELSE 0 END AS kept
  FROM c)
SELECT domain, CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(kept) AS BIGINT) AS n_dropped,
       CAST(sum(n_toks * kept) AS BIGINT) AS tokens_kept,
       CAST(sum(n_toks * (1 - kept)) AS BIGINT) AS tokens_dropped,
       CAST(sum(n_toks * kept) * 1000000 // {TOKEN_BUDGET} AS BIGINT)
         AS fill_ppm
FROM k GROUP BY 1
"""


def q_curation_contrastive_pairs(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Contrastive training triplets for embedding-model training:
    (anchor, positive, negative) where positives are verified Jaccard
    near-dups (the dedup_jaccard pair set) and negatives are drawn
    deterministically from the anchor's 16-way md5 bucket — the
    next-larger hash in the bucket, wrapping to the bucket minimum.
    Hash-random negatives are the standard in-batch-negative
    approximation, made replayable: no RNG, no driver state, the
    bucket window partitions by the hash prefix. Singleton-bucket
    anchors (no distinct neighbor) are dropped."""
    pairs = q_dedup_jaccard(spark, sf_dir)
    docs = (_docs(spark, sf_dir)
            .filter(F.col("doc_id") < JACCARD_MAX_DOC)
            .select("doc_id",
                    F.md5(F.col("doc_id").cast("string")).alias("h")))
    docs = docs.withColumn("bkt", F.substring("h", 1, 1))
    wb = Window.partitionBy("bkt").orderBy("h")
    wall = Window.partitionBy("bkt").orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    neg = (docs
           .withColumn("nxt", F.lead("doc_id", 1).over(wb))
           .withColumn("wrap", F.first("doc_id").over(wall))
           .select(F.col("doc_id").alias("anchor_id"),
                   F.coalesce("nxt", "wrap").alias("neg_id"))
           .filter(F.col("neg_id") != F.col("anchor_id")))
    return (pairs
            .select(F.col("doc_a").alias("anchor_id"),
                    F.col("doc_b").alias("pos_id"), "jaccard")
            .join(neg, "anchor_id")
            .select("anchor_id", "pos_id", "neg_id", "jaccard"))


def _sql_curation_contrastive_pairs() -> str:
    return f"""
WITH pairs AS ({SQL_DEDUP_JACCARD}),
d AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bkt
  FROM documents WHERE doc_id < {JACCARD_MAX_DOC}),
neg AS (
  SELECT doc_id AS anchor_id,
         COALESCE(
             lead(doc_id, 1) OVER (PARTITION BY bkt ORDER BY h),
             first_value(doc_id) OVER (
                 PARTITION BY bkt ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)) AS neg_id
  FROM d)
SELECT p.doc_a AS anchor_id, p.doc_b AS pos_id, n.neg_id, p.jaccard
FROM pairs p
JOIN neg n ON n.anchor_id = p.doc_a
WHERE n.neg_id <> n.anchor_id
"""


# ---------------------------------------------------------------------------
# Wave 21: chi-square independence test, SNAP-style graph summarization.
# ---------------------------------------------------------------------------


def q_curation_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation decision — the keep/drop list with reason
    codes that an ingestion pipeline actually ships [K: RefinedWeb /
    FineWeb-style gate cascades]. Gates fire in a fixed documented
    order and the FIRST failure names the reason: (1) near-dup
    non-survivor (the SAMEAS_PREFIX fingerprint group, canonical = min
    doc_id keeps), (2) too short (< KEEP_MIN_TOKENS whitespace
    tokens), (3) low lexical diversity (distinct*100 < n*KEEP_TTR_PCT
    — integer cross-multiply, no float ratio crosses engines), else
    kept. One row per document, keep flag + reason.

    Shape: the dup gate is one fingerprint-keyed hash agg joined back
    doc-keyed; every other gate is map-side token arithmetic. No
    windows, nothing global — the exact cascade shape that runs as one
    pass over a 100-TB corpus."""
    d = _docs(spark, sf_dir)
    fp = d.select("doc_id",
                  F.substring(F.lower("text"), 1, SAMEAS_PREFIX)
                  .alias("fp"))
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canon_doc"))
    toks = F.filter(F.split(F.lower(F.col("text")), " "),
                    lambda t: t != "")
    gated = (d.select("doc_id",
                      F.size(toks).alias("n_tokens"),
                      F.size(F.array_distinct(toks)).alias("n_distinct"))
             .join(fp, "doc_id").join(canon, "fp"))
    reason = F.when(F.col("doc_id") != F.col("canon_doc"),
                    F.lit("near_dup")) \
        .when(F.col("n_tokens") < KEEP_MIN_TOKENS, F.lit("too_short")) \
        .when(F.col("n_distinct") * 100
              < F.col("n_tokens") * KEEP_TTR_PCT, F.lit("low_ttr")) \
        .otherwise(F.lit("kept"))
    return (gated.select("doc_id", reason.alias("reason"))
            .withColumn("keep", (F.col("reason") == "kept").cast("int")))


def _sql_curation_keep_list() -> str:
    return f"""
WITH fp AS (
  SELECT doc_id, substr(lower(text), 1, {SAMEAS_PREFIX}) AS fp,
         list_filter(string_split(lower(text), ' '), x -> x <> '')
           AS toks
  FROM documents),
canon AS (SELECT fp, min(doc_id) AS canon_doc FROM fp GROUP BY fp),
gated AS (
  SELECT f.doc_id, len(f.toks) AS n_tokens,
         len(list_distinct(f.toks)) AS n_distinct, c.canon_doc
  FROM fp f JOIN canon c ON c.fp = f.fp)
SELECT doc_id,
       CASE WHEN doc_id <> canon_doc THEN 'near_dup'
            WHEN n_tokens < {KEEP_MIN_TOKENS} THEN 'too_short'
            WHEN n_distinct * 100 < n_tokens * {KEEP_TTR_PCT}
              THEN 'low_ttr'
            ELSE 'kept' END AS reason,
       CAST(CASE WHEN doc_id <> canon_doc THEN 0
                 WHEN n_tokens < {KEEP_MIN_TOKENS} THEN 0
                 WHEN n_distinct * 100 < n_tokens * {KEEP_TTR_PCT}
                   THEN 0 ELSE 1 END AS INT) AS keep
FROM gated
"""


def q_curation_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain loss/sampling reweighting table [K: the uniform-
    target rebalancing every mixture trainer ships]: weight(d) =
    (corpus_total / (n_domains * count(d))) in exact ppm, capped at
    DOMAIN_WEIGHT_CAP_PPM so a rare domain can never explode the loss
    — over-represented domains land below 1e6, under-represented above.
    Exact BIGINT throughout.

    Shape: one domain hash agg, the corpus totals as a broadcast 1-row
    aggregate, map-side arithmetic. Nothing else."""
    d = _docs(spark, sf_dir)
    per = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = per.agg(F.sum("n_docs").alias("total"),
                  F.count(F.lit(1)).alias("n_domains"))
    return (per.crossJoin(F.broadcast(tot))
            .select("lang", "n_docs",
                    F.expr(f"""least(CAST({DOMAIN_WEIGHT_CAP_PPM} AS BIGINT),
                        total * 1000000 DIV (n_domains * n_docs))""")
                    .alias("weight_ppm"))
            .withColumn("capped",
                        (F.col("weight_ppm") == DOMAIN_WEIGHT_CAP_PPM)
                        .cast("int")))


def _sql_curation_domain_weights() -> str:
    return f"""
WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
               count(*) AS n_domains FROM per)
SELECT lang, n_docs,
       least(CAST({DOMAIN_WEIGHT_CAP_PPM} AS BIGINT),
             CAST(t.total * 1000000 // (t.n_domains * n_docs)
                  AS BIGINT)) AS weight_ppm,
       CAST(CASE WHEN least(CAST({DOMAIN_WEIGHT_CAP_PPM} AS BIGINT),
                 CAST(t.total * 1000000 // (t.n_domains * n_docs)
                      AS BIGINT)) = {DOMAIN_WEIGHT_CAP_PPM}
            THEN 1 ELSE 0 END AS INT) AS capped
FROM per CROSS JOIN tot t
"""


def q_curation_anneal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch mixture-annealing schedule over LANGUAGES [K: the
    two-phase data schedule multilingual pretraining runs use — start
    at a uniform language mix, anneal to the sqrt-smoothed target by
    the final epoch, so early training sees diversity and late
    training sees the deployment distribution]: for each (epoch 0..3,
    domain), weight_ppm interpolates uniform -> sqrt-smoothed target
    in EXACT integer arithmetic — uniform_ppm = 1e6 div D, target_ppm
    = w_d * 1e6 div W with w_d = floor(sqrt(c_d) * 1000) (sqrt is
    IEEE correctly-rounded, identical on every engine — the
    mixture_sample convention), and the interpolation is the
    NONNEGATIVE convex combination ((E-1-e)*uniform + e*target) div
    (E-1) — a signed delta*epoch form would hit the Spark-DIV
    (truncate) vs DuckDB-// (floor) divergence on negative deltas,
    and every term here stays >= 0 by construction. Per-epoch sums
    may differ from 1e6 by <= D ppm of floor slack — documented, the
    loader renormalizes.

    Shape: one |domains|-row hash agg, crossJoined against a constant
    4-row epoch spine and the O(1) totals row; pure map arithmetic
    after the agg."""
    d = _docs(spark, sf_dir)
    g = (d.groupBy("lang")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
         .withColumn("w", F.floor(F.sqrt(F.col("n_docs").cast("double"))
                                  * ANNEAL_WEIGHT_SCALE).cast("long")))
    tot = g.agg(F.count(F.lit(1)).cast("long").alias("n_domains"),
                F.sum("w").cast("long").alias("w_total"))
    epochs = F.explode(F.array(*[F.lit(e)
                                 for e in range(ANNEAL_EPOCHS)]))
    j = (g.crossJoin(F.broadcast(tot))
         .select("lang", "n_docs", "w", "n_domains", "w_total",
                 epochs.alias("epoch")))
    return (j.select(
        F.col("epoch").cast("int").alias("epoch"), "lang", "n_docs",
        F.expr("1000000L DIV n_domains").cast("long")
        .alias("uniform_ppm"),
        F.expr("w * 1000000L DIV w_total").cast("long")
        .alias("target_ppm"),
        F.expr(f"(({ANNEAL_EPOCHS - 1} - epoch)"
               " * (1000000L DIV n_domains)"
               " + epoch * (w * 1000000L DIV w_total))"
               f" DIV {ANNEAL_EPOCHS - 1}").cast("long")
        .alias("weight_ppm")))


def _sql_curation_anneal() -> str:
    epoch_rows = ", ".join(f"({e})" for e in range(ANNEAL_EPOCHS))
    return f"""
WITH g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE))
                    * {ANNEAL_WEIGHT_SCALE}) AS BIGINT) AS w
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_domains,
               CAST(sum(w) AS BIGINT) AS w_total FROM g),
epochs(epoch) AS (VALUES {epoch_rows})
SELECT CAST(epoch AS INT) AS epoch, lang, n_docs,
       CAST(1000000 // n_domains AS BIGINT) AS uniform_ppm,
       CAST(w * 1000000 // w_total AS BIGINT) AS target_ppm,
       CAST((({ANNEAL_EPOCHS - 1} - epoch) * (1000000 // n_domains)
             + epoch * (w * 1000000 // w_total))
            // {ANNEAL_EPOCHS - 1} AS BIGINT) AS weight_ppm
FROM g CROSS JOIN tot CROSS JOIN epochs
"""


def q_curation_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fertility table [K: the chars-per-token
    and token-share read a multilingual budget plan starts from — a
    language whose script packs more chars per whitespace token will
    claim a different subword budget than its raw char share
    suggests]: per lang — doc count, exact char mass, exact
    whitespace-token mass, chars-per-token in exact ppm (cross-
    multiplied integer division), and the language's share of the
    corpus TOKEN budget in exact ppm.

    Shape: one map-side projection (size(split()) needs no explode —
    the cheapest token count there is) -> one |langs|-row hash agg ->
    one O(1) total crossJoined back."""
    d = _docs(spark, sf_dir)
    m = d.select(
        "lang",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
        .alias("n_chars"),
        F.size(F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    r"\s+"), lambda t: t != "")).cast("long")
        .alias("n_toks"))
    g = m.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum("n_toks").cast("long").alias("tokens"))
    tot = g.agg(F.sum("tokens").cast("long").alias("t_total"))
    return (g.crossJoin(F.broadcast(tot))
            .select("lang", "n_docs", "chars", "tokens",
                    F.expr("chars * 1000000L DIV tokens").cast("long")
                    .alias("chars_per_token_ppm"),
                    F.expr("tokens * 1000000L DIV t_total").cast("long")
                    .alias("token_share_ppm")))


def _sql_curation_fertility() -> str:
    return """
WITH m AS (
  SELECT lang,
         CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
         CAST(len(list_filter(string_split_regex(
             lower(coalesce(text, '')), '\\s+'), x -> x <> ''))
              AS BIGINT) AS n_toks
  FROM documents),
g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS chars,
         CAST(sum(n_toks) AS BIGINT) AS tokens
  FROM m GROUP BY 1),
tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS t_total FROM g)
SELECT lang, n_docs, chars, tokens,
       CAST(chars * 1000000 // tokens AS BIGINT)
         AS chars_per_token_ppm,
       CAST(tokens * 1000000 // t_total AS BIGINT) AS token_share_ppm
FROM g CROSS JOIN tot
"""


def q_curation_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase assignment over the document corpus
    [K: curriculum training feeds easy documents first — the standard
    proxy orders by surface difficulty; phases are corpus quartiles
    of that score]: difficulty = mean-word-length ppm + digit-ratio
    ppm (exact integers, map-only), quartile boundaries via EXACT
    NESTED MEDIANS (doubled-integer percentile of the full corpus,
    then of the <=median and >=median halves — three O(1)-row aggs,
    no interpolating quantile at .25/.75 whose lerp formula is a
    cross-engine float hazard), and per doc the 1..4 phase plus the
    phase's doc/token totals a scheduler needs.

    Shape: one map-side score projection, three 1-row percentile
    aggs broadcast back, one map-side CASE, one 4-row phase agg
    broadcast-joined back. Only the score projection touches the
    corpus; nothing shuffles by doc."""
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    base = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.aggregate(toks, F.lit(0).cast("long"),
                    lambda acc, x: acc + F.length(x)).alias("tok_chars"),
        F.length(t).cast("long").alias("n_chars"),
        (F.length(t) - F.length(F.regexp_replace(t, "[0-9]", "")))
        .cast("long").alias("n_digit"))
    sc = base.select(
        "doc_id", "n_tokens",
        (F.when(F.col("n_tokens") > 0,
                F.expr("tok_chars * 1000000 DIV n_tokens"))
         .otherwise(F.lit(0))
         + F.when(F.col("n_chars") > 0,
                  F.expr("n_digit * 1000000 DIV n_chars"))
         .otherwise(F.lit(0))).cast("long").alias("difficulty"))
    v = sc.withColumn("v", (F.col("difficulty") * 2).cast("long"))
    m = v.agg(F.expr("CAST(percentile(v, 0.5) AS BIGINT)").alias("m"))
    vm = v.crossJoin(F.broadcast(m))
    q13 = vm.agg(
        F.expr("CAST(percentile(CASE WHEN v <= m THEN v END, 0.5)"
               " AS BIGINT)").alias("q1"),
        F.expr("CAST(percentile(CASE WHEN v >= m THEN v END, 0.5)"
               " AS BIGINT)").alias("q3"))
    ph = (vm.crossJoin(F.broadcast(q13))
          .select("doc_id", "n_tokens", "difficulty",
                  (F.lit(1) + (F.col("v") > F.col("q1")).cast("int")
                   + (F.col("v") > F.col("m")).cast("int")
                   + (F.col("v") > F.col("q3")).cast("int"))
                  .cast("int").alias("phase")))
    tot = (ph.groupBy("phase")
           .agg(F.count(F.lit(1)).cast("long").alias("phase_docs"),
                F.sum("n_tokens").cast("long").alias("phase_tokens")))
    return (ph.join(F.broadcast(tot), "phase")
            .select("doc_id", "n_tokens", "difficulty", "phase",
                    "phase_docs", "phase_tokens"))


def _sql_curation_curriculum() -> str:
    return """
WITH d AS (SELECT doc_id, coalesce(text, '') AS s FROM documents),
base AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(s, '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(
               list_filter(string_split_regex(s, '\\s+'),
                           x -> x <> ''),
               x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT)
           AS tok_chars,
         CAST(length(s) AS BIGINT) AS n_chars,
         CAST(length(s) - length(regexp_replace(s, '[0-9]', '', 'g'))
              AS BIGINT) AS n_digit
  FROM d),
sc AS (
  SELECT doc_id, n_tokens,
         CAST((CASE WHEN n_tokens > 0
                    THEN tok_chars * 1000000 // n_tokens ELSE 0 END)
              + (CASE WHEN n_chars > 0
                      THEN n_digit * 1000000 // n_chars ELSE 0 END)
              AS BIGINT) AS difficulty
  FROM base),
v AS (SELECT doc_id, n_tokens, difficulty,
             CAST(difficulty * 2 AS BIGINT) AS v FROM sc),
m AS (SELECT CAST(quantile_cont(v, 0.5) AS BIGINT) AS m FROM v),
q13 AS (
  SELECT CAST(quantile_cont(CASE WHEN v <= m THEN v END, 0.5)
              AS BIGINT) AS q1,
         CAST(quantile_cont(CASE WHEN v >= m THEN v END, 0.5)
              AS BIGINT) AS q3
  FROM v CROSS JOIN m),
ph AS (
  SELECT doc_id, n_tokens, difficulty,
         CAST(1 + (CASE WHEN v > q1 THEN 1 ELSE 0 END)
                + (CASE WHEN v > m THEN 1 ELSE 0 END)
                + (CASE WHEN v > q3 THEN 1 ELSE 0 END) AS INT) AS phase
  FROM v CROSS JOIN m CROSS JOIN q13),
tot AS (
  SELECT phase, CAST(count(*) AS BIGINT) AS phase_docs,
         CAST(sum(n_tokens) AS BIGINT) AS phase_tokens
  FROM ph GROUP BY 1)
SELECT doc_id, n_tokens, difficulty, phase, phase_docs, phase_tokens
FROM ph JOIN tot USING (phase)
"""


def q_curation_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card for the document corpus [K: the datasheet
    / dataset-card summary a curation team publishes with every
    training corpus — sizes, diversity, emptiness, exact-dup rate —
    and the first sanity read a consumer does before training]:
    document and whitespace-token counts, distinct sources and
    languages, empty-doc count and ppm, char-mass totals and mean,
    the longest document, exact-duplicate text rate via md5 distinct
    (the dedup_exact key), all exact integers.

    Shape: one corpus scan with map-side partial aggs; the distinct
    counts are hash-agg distincts (expressed so Spark's Expand-based
    multi-distinct handles them in one pass). O(1) output."""
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    base = d.select(
        "doc_id", "source", "lang",
        F.length(t).cast("long").alias("nc"),
        F.size(F.filter(F.split(t, r"\s+"), lambda x: x != ""))
        .cast("long").alias("nt"),
        F.md5(t).alias("h"))
    return base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("h").cast("long").alias("n_unique_texts"),
        F.sum("nc").cast("long").alias("total_chars"),
        F.sum("nt").cast("long").alias("total_tokens"),
        F.max("nc").cast("long").alias("max_chars"),
        F.sum((F.col("nc") == 0).cast("long")).cast("long")
        .alias("n_empty")).select(
        "n_docs", "n_sources", "n_langs", "n_unique_texts",
        "total_chars", "total_tokens", "max_chars", "n_empty",
        F.expr("total_chars * 1000000 DIV n_docs").cast("long")
        .alias("mean_chars_ppm"),
        F.expr("n_empty * 1000000 DIV n_docs").cast("long")
        .alias("empty_ppm"),
        F.expr("(n_docs - n_unique_texts) * 1000000 DIV n_docs")
        .cast("long").alias("exact_dup_ppm"))


def _sql_curation_dataset_card() -> str:
    return """
WITH base AS (
  SELECT doc_id, source, lang,
         CAST(length(coalesce(text, '')) AS BIGINT) AS nc,
         CAST(len(list_filter(
               string_split_regex(coalesce(text, ''), '\\s+'),
               x -> x <> '')) AS BIGINT) AS nt,
         md5(coalesce(text, '')) AS h
  FROM documents),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT h) AS BIGINT) AS n_unique_texts,
         CAST(sum(nc) AS BIGINT) AS total_chars,
         CAST(sum(nt) AS BIGINT) AS total_tokens,
         CAST(max(nc) AS BIGINT) AS max_chars,
         CAST(sum(CASE WHEN nc = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_empty
  FROM base)
SELECT n_docs, n_sources, n_langs, n_unique_texts, total_chars,
       total_tokens, max_chars, n_empty,
       CAST(total_chars * 1000000 // n_docs AS BIGINT)
         AS mean_chars_ppm,
       CAST(n_empty * 1000000 // n_docs AS BIGINT) AS empty_ppm,
       CAST((n_docs - n_unique_texts) * 1000000 // n_docs AS BIGINT)
         AS exact_dup_ppm
FROM agg
"""


def q_curation_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII exposure audit per source [K: the compliance rollup a
    curation team publishes before release — which ingest sources
    leak emails / URLs / phone numbers, at what per-document density
    — reusing the EXACT redaction patterns of text_redact so the
    audit counts what the scrubber would scrub]: per source the doc
    count, per-category hit totals, documents-with-any-PII count, and
    exposure in exact ppm of docs.

    Shape: map-only regexp_extract_all counting (JVM regex, no UDF)
    + one per-source hash agg. One corpus scan."""
    from ...operators.textstats import RX_EMAIL, RX_PHONE, RX_URL
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    base = d.select(
        "source",
        F.size(F.regexp_extract_all(t, F.lit(RX_EMAIL), F.lit(0)))
        .cast("long").alias("em"),
        F.size(F.regexp_extract_all(t, F.lit(RX_URL), F.lit(0)))
        .cast("long").alias("ur"),
        F.size(F.regexp_extract_all(t, F.lit(RX_PHONE), F.lit(0)))
        .cast("long").alias("ph"),
        F.length(t).cast("long").alias("nc"))
    return (base.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("em").cast("long").alias("n_emails"),
                 F.sum("ur").cast("long").alias("n_urls"),
                 F.sum("ph").cast("long").alias("n_phones"),
                 F.sum(((F.col("em") + F.col("ur") + F.col("ph")) > 0)
                       .cast("long")).cast("long")
                 .alias("docs_with_pii"),
                 F.sum("nc").cast("long").alias("total_chars"))
            .select("source", "n_docs", "n_emails", "n_urls",
                    "n_phones", "docs_with_pii",
                    F.expr("docs_with_pii * 1000000 DIV n_docs")
                    .cast("long").alias("exposure_ppm"),
                    F.expr("CASE WHEN total_chars > 0 THEN"
                           " (n_emails + n_urls + n_phones)"
                           " * 1000000000 DIV total_chars"
                           " ELSE 0 END").cast("long")
                    .alias("hits_per_gchar")))


def _sql_curation_pii_audit() -> str:
    from ...operators.textstats import RX_EMAIL, RX_PHONE, RX_URL
    return f"""
WITH base AS (
  SELECT source,
         CAST(len(regexp_extract_all(coalesce(text, ''),
                                     '{RX_EMAIL}')) AS BIGINT) AS em,
         CAST(len(regexp_extract_all(coalesce(text, ''),
                                     '{RX_URL}')) AS BIGINT) AS ur,
         CAST(len(regexp_extract_all(coalesce(text, ''),
                                     '{RX_PHONE}')) AS BIGINT) AS ph,
         CAST(length(coalesce(text, '')) AS BIGINT) AS nc
  FROM documents),
agg AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(em) AS BIGINT) AS n_emails,
         CAST(sum(ur) AS BIGINT) AS n_urls,
         CAST(sum(ph) AS BIGINT) AS n_phones,
         CAST(sum(CASE WHEN em + ur + ph > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS docs_with_pii,
         CAST(sum(nc) AS BIGINT) AS total_chars
  FROM base GROUP BY 1)
SELECT source, n_docs, n_emails, n_urls, n_phones, docs_with_pii,
       CAST(docs_with_pii * 1000000 // n_docs AS BIGINT)
         AS exposure_ppm,
       CAST(CASE WHEN total_chars > 0
                 THEN (n_emails + n_urls + n_phones) * 1000000000
                      // total_chars
                 ELSE 0 END AS BIGINT) AS hits_per_gchar
FROM agg
"""


def q_curation_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a token budget
    across sources [K: the sampling-budget allocator — 'spend exactly
    N tokens across sources proportionally to their mass' sounds
    trivial until rounding: floors under-spend, naive rounding over-
    spends; Hamilton's method gives EVERY source its floor and hands
    the leftover units to the largest fractional remainders, so the
    total is exactly N by construction]: per source the token mass,
    the floor share, the exact remainder numerator, the +1 bonus
    flag, and the final allocation (sums to the budget precisely —
    pytest-pinned).

    Shape: one corpus token agg, then everything is source-
    cardinality-sized: a triangular broadcast self-join ranks the
    remainders (no window at all), a 1-row leftover agg broadcast
    back. Deterministic ties by source name."""
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    mass = (d.select("source",
                     F.size(F.filter(F.split(t, r"\s+"),
                                     lambda x: x != ""))
                     .cast("long").alias("nt"))
            .groupBy("source")
            .agg(F.sum("nt").cast("long").alias("mass")))
    tot = mass.agg(F.sum("mass").cast("long").alias("m_tot"))
    q = (mass.crossJoin(F.broadcast(tot))
         .select("source", "mass", "m_tot",
                 F.expr(f"{APPORTION_BUDGET}L * mass DIV m_tot")
                 .cast("long").alias("floor_share"),
                 F.expr(f"({APPORTION_BUDGET}L * mass) % m_tot")
                 .cast("long").alias("rem")))
    left = q.agg((F.lit(APPORTION_BUDGET)
                  - F.sum("floor_share")).cast("long").alias("l"))
    rk = (q.alias("a").join(
        F.broadcast(q.alias("b")),
        (F.col("b.rem") > F.col("a.rem"))
        | ((F.col("b.rem") == F.col("a.rem"))
           & (F.col("b.source") < F.col("a.source"))), "left")
        .groupBy(F.col("a.source").alias("source"))
        .agg(F.max(F.col("a.mass")).cast("long").alias("mass"),
             F.max(F.col("a.floor_share")).cast("long")
             .alias("floor_share"),
             F.max(F.col("a.rem")).cast("long").alias("rem"),
             F.count(F.col("b.source")).cast("long").alias("ahead")))
    return (rk.crossJoin(F.broadcast(left))
            .select("source", "mass", "floor_share", "rem",
                    (F.col("ahead") < F.col("l")).cast("int")
                    .alias("bonus"),
                    (F.col("floor_share")
                     + (F.col("ahead") < F.col("l")).cast("long"))
                    .cast("long").alias("alloc")))


def _sql_curation_apportion() -> str:
    return f"""
WITH mass AS (
  SELECT source,
         CAST(sum(len(list_filter(
               string_split_regex(coalesce(text, ''), '\\s+'),
               x -> x <> ''))) AS BIGINT) AS mass
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(sum(mass) AS BIGINT) AS m_tot FROM mass),
q AS (
  SELECT source, mass,
         CAST({APPORTION_BUDGET} * mass // m_tot AS BIGINT)
           AS floor_share,
         CAST(({APPORTION_BUDGET} * mass) % m_tot AS BIGINT) AS rem
  FROM mass CROSS JOIN tot),
lft AS (
  SELECT CAST({APPORTION_BUDGET} - sum(floor_share) AS BIGINT) AS l
  FROM q),
rk AS (
  SELECT a.source, max(a.mass) AS mass,
         max(a.floor_share) AS floor_share, max(a.rem) AS rem,
         CAST(count(b.source) AS BIGINT) AS ahead
  FROM q a LEFT JOIN q b
    ON b.rem > a.rem OR (b.rem = a.rem AND b.source < a.source)
  GROUP BY a.source)
SELECT source, mass, floor_share, rem,
       CAST(CASE WHEN ahead < l THEN 1 ELSE 0 END AS INT) AS bonus,
       CAST(floor_share + CASE WHEN ahead < l THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM rk CROSS JOIN lft
"""


def q_curation_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampler-bias audit [K: every pipeline that dev-loops on a
    'deterministic 10% sample' must prove the sample is UNBIASED —
    a hash sampler keyed on doc_id is fine, one keyed on content
    accidentally correlates with dedup keys; this audit compares the
    sample's source mix against the corpus with the exact
    common-denominator L1 (zero floats)]: per source the corpus and
    sample counts, sampling rate in ppm, exact per-source share
    delta, and the corpus-wide L1 in ppm — the number that should
    hover near 0 for an unbiased sampler.

    Shape: one map-side md5-bucket flag, one per-source conditional
    agg, one 1-row exact agg broadcast back. The sampler IS the
    md5-prefix rule used by curation_split (keyed on doc_id, not
    text — key independence is the point)."""
    d = _docs(spark, sf_dir)
    flag = d.select(
        "source",
        (F.expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)),"
                " 1, 4), 16, 10) AS BIGINT)")
         * 100 < 65536 * SAMPLE_AUDIT_PCT).cast("int").alias("s"))
    per = (flag.groupBy("source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_corpus"),
                F.sum("s").cast("long").alias("n_sample")))
    tot = per.agg(F.sum("n_corpus").cast("long").alias("nc"),
                  F.sum("n_sample").cast("long").alias("ns"))
    k = per.crossJoin(F.broadcast(tot))
    l1 = k.agg(F.sum(F.abs(F.col("n_sample") * F.col("nc")
                           - F.col("n_corpus") * F.col("ns")))
               .cast("long").alias("num"),
               F.max(F.col("nc") * F.col("ns")).cast("long")
               .alias("den"))
    return (k.crossJoin(F.broadcast(l1))
            .select("source", "n_corpus", "n_sample",
                    F.expr("n_sample * 1000000 DIV n_corpus")
                    .cast("long").alias("rate_ppm"),
                    F.expr("(n_sample * nc - n_corpus * ns) * 1000000"
                           " DIV (greatest(ns, 1) * nc)")
                    .cast("long").alias("share_delta_ppm"),
                    F.expr("num * 1000000 DIV greatest(den, 1)")
                    .cast("long").alias("l1_ppm")))


def _sql_curation_sample_audit() -> str:
    return f"""
WITH flag AS (
  SELECT source,
         CAST(CASE WHEN CAST((instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096 + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256 + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16 + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 1 AS BIGINT) * 100
                   < 65536 * {SAMPLE_AUDIT_PCT}
              THEN 1 ELSE 0 END AS INT) AS s
  FROM documents),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_corpus,
         CAST(sum(s) AS BIGINT) AS n_sample
  FROM flag GROUP BY 1),
tot AS (
  SELECT CAST(sum(n_corpus) AS BIGINT) AS nc,
         CAST(sum(n_sample) AS BIGINT) AS ns
  FROM per),
l1 AS (
  SELECT CAST(sum(abs(n_sample * nc - n_corpus * ns)) AS BIGINT)
           AS num,
         CAST(max(nc * ns) AS BIGINT) AS den
  FROM per CROSS JOIN tot)
SELECT source, n_corpus, n_sample,
       CAST(n_sample * 1000000 // n_corpus AS BIGINT) AS rate_ppm,
       CAST((n_sample * nc - n_corpus * ns) * 1000000
            // (greatest(ns, 1) * nc) AS BIGINT)
         AS share_delta_ppm,
       CAST(num * 1000000 // greatest(den, 1) AS BIGINT) AS l1_ppm
FROM per CROSS JOIN tot CROSS JOIN l1
"""


def q_curation_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out ablation manifest [K: before an ablation
    run a data team needs the exact complements — 'corpus minus
    source X' sizes, token budgets, and unique-text counts, because
    removing a heavily-duplicated source shrinks unique mass less
    than raw mass]: per source the removed doc/token counts, the
    REMAINING docs / tokens / unique texts, and remaining shares in
    exact ppm. The unique-text complement is exact (distinct hashes
    minus hashes exclusive to the removed source), not an estimate.

    Shape: one per-source agg, one (hash) agg for exclusivity, two
    broadcast-sized joins. Exact integers."""
    d = _docs(spark, sf_dir)
    t = F.coalesce(F.col("text"), F.lit(""))
    base = d.select("source",
                    F.size(F.filter(F.split(t, r"\s+"),
                                    lambda x: x != ""))
                    .cast("long").alias("nt"),
                    F.md5(t).alias("h"))
    per = (base.groupBy("source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("nt").cast("long").alias("n_tokens")))
    tot = per.agg(F.sum("n_docs").cast("long").alias("td"),
                  F.sum("n_tokens").cast("long").alias("tt"))
    uniq = base.select("h").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("tu"))
    # hashes exclusive to one source: distinct-source count == 1
    excl = (base.select("source", "h").distinct()
            .groupBy("h")
            .agg(F.count(F.lit(1)).cast("long").alias("ns"),
                 F.min("source").alias("only_src"))
            .filter(F.col("ns") == 1)
            .groupBy(F.col("only_src").alias("source"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_excl")))
    return (per.join(F.broadcast(excl), "source", "left")
            .crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(uniq))
            .select("source", "n_docs", "n_tokens",
                    (F.col("td") - F.col("n_docs")).cast("long")
                    .alias("remaining_docs"),
                    (F.col("tt") - F.col("n_tokens")).cast("long")
                    .alias("remaining_tokens"),
                    (F.col("tu") - F.coalesce("n_excl", F.lit(0)))
                    .cast("long").alias("remaining_unique"),
                    F.expr("(td - n_docs) * 1000000 DIV td")
                    .cast("long").alias("remaining_docs_ppm"),
                    F.expr("(tt - n_tokens) * 1000000"
                           " DIV greatest(tt, 1)").cast("long")
                    .alias("remaining_tokens_ppm")))


def _sql_curation_ablation() -> str:
    return """
WITH base AS (
  SELECT source,
         CAST(len(list_filter(
               string_split_regex(coalesce(text, ''), '\\s+'),
               x -> x <> '')) AS BIGINT) AS nt,
         md5(coalesce(text, '')) AS h
  FROM documents),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nt) AS BIGINT) AS n_tokens
  FROM base GROUP BY 1),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
               CAST(sum(n_tokens) AS BIGINT) AS tt FROM per),
uniq AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS tu FROM base),
excl AS (
  SELECT only_src AS source, CAST(count(*) AS BIGINT) AS n_excl
  FROM (SELECT h, CAST(count(*) AS BIGINT) AS ns,
               min(source) AS only_src
        FROM (SELECT DISTINCT source, h FROM base) GROUP BY h)
  WHERE ns = 1 GROUP BY 1)
SELECT per.source, n_docs, n_tokens,
       CAST(td - n_docs AS BIGINT) AS remaining_docs,
       CAST(tt - n_tokens AS BIGINT) AS remaining_tokens,
       CAST(tu - coalesce(excl.n_excl, 0) AS BIGINT)
         AS remaining_unique,
       CAST((td - n_docs) * 1000000 // td AS BIGINT)
         AS remaining_docs_ppm,
       CAST((tt - n_tokens) * 1000000 // greatest(tt, 1) AS BIGINT)
         AS remaining_tokens_ppm
FROM per LEFT JOIN excl ON excl.source = per.source
CROSS JOIN tot CROSS JOIN uniq
"""


# Cross-module references (resolved at call time; these imports sit
# BELOW every def so the module cycles close deterministically).
from .dedup import SQL_DEDUP_JACCARD, q_dedup_jaccard  # noqa: E402
from .text import SQL_TEXT_PERPLEXITY  # noqa: E402
