"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting — the vectorized-UDF members live here
(SQL-expressible ones are in plans/queries/text.py with oracles).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# char-bigram profiles for a tiny language-ID heuristic. Deterministic,
# dependency-free stand-in for a real LID model (fasttext etc. absent in
# this sandbox) — the Spark plumbing (vectorized UDF over Arrow batches)
# is the real deliverable.
_PROFILES = {
    "en": ["th", "he", "in", "er", "an", "re", "on", "at", "en", "nd"],
    "de": ["er", "en", "ch", "de", "ei", "te", "in", "nd", "ie", "ge"],
    "es": ["de", "es", "en", "el", "la", "os", "ar", "ue", "ra", "as"],
    "fr": ["es", "le", "de", "en", "re", "nt", "on", "er", "te", "ou"],
}

_BPE_ISH = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]")


@pandas_udf(T.StructType([
    T.StructField("pred_lang", T.StringType()),
    T.StructField("lang_score", T.DoubleType()),
]))
def langid_udf(texts: pd.Series) -> pd.DataFrame:
    """Whole-batch vectorized: per profile bigram one C-speed
    ``str.count`` over the Series (≈40 passes total), never a per-row
    Python loop — ~10x the row-wise value_counts formulation."""
    import numpy as np
    t = texts.fillna("").str.lower()
    n_bigrams = (t.str.len() - 1).clip(lower=0)
    scores = {}
    for lang, profile in _PROFILES.items():
        s = None
        for bg in profile:
            c = t.str.count(re.escape(bg))
            s = c if s is None else s + c
        scores[lang] = np.where(n_bigrams > 0, s / n_bigrams.clip(lower=1), 0.0)
    langs = list(scores)
    mat = np.stack([scores[lang] for lang in langs])  # L x N
    best_idx = mat.argmax(axis=0)
    best = mat.max(axis=0)
    pred = np.where(best > 0, np.asarray(langs)[best_idx], "und")
    from .. import semantics as S
    return pd.DataFrame({"pred_lang": pred,
                         "lang_score": S.round_half_away(best, 6)})


@pandas_udf(T.IntegerType())
def bpe_ish_token_count(texts: pd.Series) -> pd.Series:
    """Sub-word-ish token count: letter runs + digit runs + punctuation,
    a cheap proxy for BPE token counts. Whole-batch vectorized
    ``str.count`` (C-speed regex over the Series) — identical counts to
    the per-row ``len(findall)`` formulation it replaces, without the
    per-row Python dispatch."""
    return (texts.fillna("").str.lower()
            .str.count(_BPE_ISH).astype("int32"))


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    out = docs.withColumn("_lid", langid_udf(F.col(text_col)))
    return (out.withColumn("pred_lang", F.col("_lid.pred_lang"))
            .withColumn("lang_score", F.col("_lid.lang_score")).drop("_lid"))


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    ws = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""))
    return (docs.withColumn("ws_tokens", ws)
            .withColumn("bpe_ish_tokens", bpe_ish_token_count(F.col(text_col))))


# --------------------------------------------------------------------------
# Winnowing fingerprints (rolling hash): the MOSS scheme — k-gram
# Rabin-Karp rolling hashes, window-of-w minimum selection (rightmost on
# ties), dedup of selected (pos, fp). Guarantees any match of length
# >= w + k - 1 between two docs shares a fingerprint.
# --------------------------------------------------------------------------

WINNOW_K = 5        # k-gram length (chars)
WINNOW_W = 4        # window size (hashes)
_WINNOW_BASE = np.uint64(1000003)


def _rolling_hashes(data: np.ndarray, k: int) -> np.ndarray:
    """Rabin-Karp hashes of all k-grams of a uint64 char-code array,
    mod 2^64 (numpy wraparound — deterministic on every platform)."""
    n = data.shape[0] - k + 1
    with np.errstate(over="ignore"):  # mod-2^64 wraparound is the hash
        powers = np.empty(k, dtype=np.uint64)
        powers[k - 1] = np.uint64(1)
        for j in range(k - 2, -1, -1):
            powers[j] = powers[j + 1] * _WINNOW_BASE
        windows = np.lib.stride_tricks.sliding_window_view(data, k)[:n]
        return (windows * powers).sum(axis=1, dtype=np.uint64)


def winnow_text(text: str, k: int = WINNOW_K, w: int = WINNOW_W) -> list[tuple[int, int]]:
    """Winnowing fingerprints of one string: [(pos, fp_int63)] — shared
    by the Spark UDF and the pytest oracle."""
    t = (text or "").lower()
    if len(t) < k:
        return []
    codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    hashes = _rolling_hashes(codes, k)
    if hashes.shape[0] <= w:
        i = int(hashes.shape[0] - 1 - hashes[::-1].argmin())
        return [(i, int(hashes[i] >> np.uint64(1)))]
    win = np.lib.stride_tricks.sliding_window_view(hashes, w)
    rev_arg = w - 1 - win[:, ::-1].argmin(axis=1)  # rightmost minimum
    pos = rev_arg + np.arange(win.shape[0])
    picked = sorted({(int(p), int(hashes[p] >> np.uint64(1))) for p in pos})
    return picked


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(doc_id, pos, fp) rows of winnowing fingerprints — join fp to
    find shared passages between documents at any scale (the fp column
    is the shuffle key; matches of length >= w+k-1 are guaranteed to
    collide). Map-only + explode; no shuffle until the consumer joins."""
    out = T.ArrayType(T.StructType([
        T.StructField("pos", T.IntegerType()),
        T.StructField("fp", T.LongType()),
    ]))

    @pandas_udf(out)
    def winnow_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: winnow_text(t))

    return (docs.select(F.col(id_col).alias("doc_id"),
                        winnow_udf(F.col(text_col)).alias("fps"))
            .select("doc_id", F.explode("fps").alias("f"))
            .select("doc_id", F.col("f.pos").alias("pos"),
                    F.col("f.fp").alias("fp")))


# ---------------------------------------------------------------------------
# PII redaction (round 3) — standard training-data scrub pass.
# RE2-compatible patterns (no lookarounds/backrefs) so the driver's
# DuckDB oracle replays the exact redaction; applied in a FIXED order
# (email → url → phone) because the rewrites can overlap.
# ---------------------------------------------------------------------------

RX_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
RX_URL = r"https?://[^\s]+"
RX_PHONE = r"\+?[0-9][0-9 ()-]{6,}[0-9]"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails, URLs, and phone-shaped digit runs; emit the
    redacted text plus per-category match counts. Pure built-in
    ``regexp_replace``/``regexp_count`` — JVM-side, whole-stage
    codegen, no Python in the scan (the 100 TB scrub pass is
    map-only and pipelined with the read)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_emails = F.regexp_count(t, F.lit(RX_EMAIL))
    after_email = F.regexp_replace(t, RX_EMAIL, "<EMAIL>")
    n_urls = F.regexp_count(after_email, F.lit(RX_URL))
    after_url = F.regexp_replace(after_email, RX_URL, "<URL>")
    n_phones = F.regexp_count(after_url, F.lit(RX_PHONE))
    redacted = F.regexp_replace(after_url, RX_PHONE, "<PHONE>")
    return docs.withColumns({
        "redacted": redacted,
        "n_emails": n_emails.cast("int"),
        "n_urls": n_urls.cast("int"),
        "n_phones": n_phones.cast("int"),
    })


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality metrics per document (Rae et al.
    2021 §A1.1 repetition filters, re-expressed relationally): unique
    token fraction, most-frequent-bigram fraction, and the fraction of
    trigram instances belonging to a trigram that repeats in the doc.

    Output (doc_id, n_tokens, uniq_token_frac, top_bigram_frac,
    dup_trigram_frac) — fractions rounded to 6dp with the `+ 0.0`
    signed-zero guard; raw integer components drive the math so both
    engines divide identical integers.

    Scale shape: one explode of (doc_id, n, gram) for n in {1,2,3} —
    pure higher-order functions, no Python — then two hash
    aggregations, both partial-aggregating map-side, keyed first by
    (doc_id, n, gram) then by doc_id: high-cardinality keys, no skew,
    no window over a low-cardinality partition. The 100 TB corpus scan
    stays map-only into the first combine."""
    toks = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
                    lambda t: t != "")

    def gram_rows(n: int):
        g = F.when(
            F.size(toks) >= n,
            F.transform(F.sequence(F.lit(0), F.size(toks) - n),
                        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        ).otherwise(F.array().cast("array<string>"))
        return docs.select(F.col(id_col).alias("doc_id"), F.lit(n).alias("n"),
                           F.explode(g).alias("gram"))

    grams = gram_rows(1).unionAll(gram_rows(2)).unionAll(gram_rows(3))
    counts = (grams.groupBy("doc_id", "n", "gram")
              .agg(F.count(F.lit(1)).alias("c")))
    n1, n2, n3 = (F.col("n") == 1), (F.col("n") == 2), (F.col("n") == 3)
    agg = counts.groupBy("doc_id").agg(
        F.sum(F.when(n1, F.col("c"))).alias("n_tokens"),
        F.count(F.when(n1, F.lit(1))).alias("n_uniq"),
        F.max(F.when(n2, F.col("c"))).alias("top2"),
        F.sum(F.when(n2, F.col("c"))).alias("tot2"),
        F.coalesce(F.sum(F.when(n3 & (F.col("c") >= 2), F.col("c"))),
                   F.lit(0)).alias("dup3"),
        F.sum(F.when(n3, F.col("c"))).alias("tot3"))

    def frac(num, den):
        return (F.round(num.cast("double")
                        / F.nullif(den, F.lit(0)).cast("double"), 6)
                + F.lit(0.0))

    return agg.select(
        "doc_id", "n_tokens",
        frac(F.col("n_uniq"), F.col("n_tokens")).alias("uniq_token_frac"),
        frac(F.col("top2"), F.col("tot2")).alias("top_bigram_frac"),
        frac(F.col("dup3"), F.col("tot3")).alias("dup_trigram_frac"))


HASHCLF_N_BUCKETS = 64


def hashed_quality_classifier(docs: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text",
                              n_buckets: int = HASHCLF_N_BUCKETS) -> DataFrame:
    """Model-based quality filtering via a hashed bag-of-words linear
    classifier (the fastText-style filter every LLM data pipeline runs
    as its cheap quality gate): each token hashes into one of
    ``n_buckets`` feature buckets (first two md5 hex digits — the
    engine-portable hash this repo standardizes on), each bucket
    carries a fixed weight, and the document score is the mean token
    weight pushed through a sigmoid.

    The weight table here is deterministic (derived from the bucket id)
    so the operator is oracle-replayable end to end; a real deployment
    swaps in trained weights via a broadcast-joined (bucket, weight)
    table without changing the plan shape.

    Scale: zero UDFs — tokenize/hash/weight/fold are all higher-order
    functions inside whole-stage codegen, so this is a map-only pass
    over the corpus scan. The fold runs in list order in every engine,
    so the float sum is bit-reproducible.
    """
    toks = F.filter(F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                            r"\s+"),
                    lambda t: t != "")

    def weight(tok):
        bucket = F.conv(F.substring(F.md5(tok), 1, 2), 16, 10) \
                  .cast("int") % n_buckets
        return ((bucket % 9) - 4).cast("double") / 4.0

    logit = F.when(
        F.size(toks) > 0,
        F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + weight(t))
        / F.size(toks)).otherwise(F.lit(0.0))
    logit = F.round(logit, 6) + F.lit(0.0)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6) + F.lit(0.0)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        logit.alias("quality_logit"),
        prob.alias("quality_prob"),
        (prob >= 0.5).cast("int").alias("keep"))


def lexical_diversity(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document lexical-diversity profile: token count, type count
    (distinct tokens), hapax count (tokens occurring exactly once in
    the doc), and the exact-integer type-token and hapax ratios in ppm
    — the classic vocabulary-richness quality signals (low TTR flags
    boilerplate/repetition; high hapax share flags OCR noise and
    gibberish).

    Scale shape: explode → one hash agg keyed on (doc, token) — the
    map-side partial absorbs within-partition repeats of the same
    token, which is exactly where repetitive documents concentrate —
    then one hash agg keyed on the doc. Docs with no tokens surface
    with zero counts via a left join back to the id spine (ontology of
    outputs = input docs, always). No windows, no UDFs.
    """
    toks = F.filter(F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                            r"\s+"),
                    lambda t: t != "")
    per_tok = (docs.select(F.col(id_col).alias("doc_id"),
                           F.explode(toks).alias("tok"))
               .groupBy("doc_id", "tok")
               .agg(F.count(F.lit(1)).alias("n")))
    per_doc = (per_tok.groupBy("doc_id")
               .agg(F.sum("n").alias("n_tokens"),
                    F.count(F.lit(1)).alias("n_types"),
                    F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
                    .alias("n_hapax")))
    spine = docs.select(F.col(id_col).alias("doc_id"))
    return (spine.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.coalesce("n_types", F.lit(0)).cast("long")
                    .alias("n_types"),
                    F.coalesce("n_hapax", F.lit(0)).cast("long")
                    .alias("n_hapax"),
                    F.expr("CASE WHEN n_tokens > 0 THEN"
                           " n_types * 1000000 DIV n_tokens"
                           " ELSE 0 END").cast("long").alias("ttr_ppm"),
                    F.expr("CASE WHEN n_tokens > 0 THEN"
                           " n_hapax * 1000000 DIV n_tokens"
                           " ELSE 0 END").cast("long").alias("hapax_ppm")))
