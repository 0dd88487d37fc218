"""Driver queries: `stats` domain."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


import math as _math

#: Benford expected share of first significant digit d, in exact ppm —
#: computed ONCE here and inlined into both engines as the same integer
#: literal, so no cross-engine transcendental is ever compared.

from ._shared import *  # noqa: F401,F403


def q_stats_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch token-frequency estimation
    (operators/sketch.cms_estimate) over the documents vocabulary:
    exact count, sketch estimate (min over 4 md5-bucketed counter
    rows of width 64), and the never-negative overestimate. The
    counter table is fixed-size regardless of vocabulary — the
    bounded-memory path for frequency queries over unbounded key
    domains; the vocabulary here is small enough that the oracle
    verifies every key's estimate, collisions included."""
    from ...operators.sketch import cms_estimate
    toks = _docs(spark, sf_dir).select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
    return cms_estimate(toks, "tok")


def _sql_stats_cms_tokens() -> str:
    from ...operators.sketch import CMS_DEPTH, CMS_WIDTH

    def b(i: int, key: str) -> str:
        h = f"md5('cms{i}:' || {key})"
        d0 = f"(strpos('0123456789abcdef', substr({h}, 1, 1)) - 1)"
        d1 = f"(strpos('0123456789abcdef', substr({h}, 2, 1)) - 1)"
        return f"(({d0} * 16 + {d1}) % {CMS_WIDTH})"

    pairs = "\n  UNION ALL ".join(
        f"SELECT {i} AS r, {b(i, 'tok')} AS bucket, tok FROM toks"
        for i in range(CMS_DEPTH))
    probe = "\n  UNION ALL ".join(
        f"SELECT tok, exact_n, {i} AS r, {b(i, 'tok')} AS bucket FROM exact"
        for i in range(CMS_DEPTH))
    return rf"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            t -> t <> '')) AS tok
  FROM documents),
pairs AS (
  {pairs}),
sketch AS (SELECT r, bucket, count(*) AS c FROM pairs GROUP BY 1, 2),
exact AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY 1),
probe AS (
  {probe})
SELECT p.tok, CAST(p.exact_n AS BIGINT) AS exact_n,
       CAST(min(s.c) AS BIGINT) AS est_n,
       CAST(min(s.c) - p.exact_n AS BIGINT) AS overestimate
FROM probe p JOIN sketch s USING (r, bucket)
GROUP BY p.tok, p.exact_n
"""


def q_stats_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-sketch quantiles — the 100-TB quantile path.

    ``rel_percentiles`` is the exact sort-based answer; at 10^12 rows
    you ship a SKETCH instead: one map-side-combinable groupBy builds a
    fixed-width histogram (O(bins) state per executor, mergeable across
    any partitioning — the same contract as approx_percentile, but
    engine-portable and exactly replayable in SQL). Quantile readout is
    a prefix sum over the O(bins) histogram: cumulated per bin-shard
    with a KEYED window, cross-shard offsets collected to the driver at
    O(shards) rows — never O(data) — and rebroadcast (the
    interleave_domains pattern). Each requested quantile then selects
    the first bin whose cumulative count reaches ceil(q*N) via a
    5-row broadcast join. Answer granularity = one bin width, the
    sketch's documented contract."""
    li = _tbl(spark, sf_dir, "lineitem")
    base = li.select(F.round(F.col("l_extendedprice") * 100)
                     .cast("long").alias("cents"))
    hist = (base.select(F.expr(f"cents DIV {BINQ_WIDTH_CENTS}").alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).alias("n")))
    sh = hist.withColumn(
        "shard", F.expr(f"bin DIV {BINQ_SHARD_BINS}").cast("int"))
    w = Window.partitionBy("shard").orderBy("bin")
    cum_local = sh.withColumn("cum_in_shard", F.sum("n").over(w))
    # O(shards) driver state, exactly like interleave_domains' offsets
    totals = {r["shard"]: r["t"] for r in
              sh.groupBy("shard").agg(F.sum("n").alias("t")).collect()}
    offsets, acc = [], 0
    for s in sorted(totals):
        offsets.append((s, acc))
        acc += totals[s]
    total = acc
    off = spark.createDataFrame(offsets, "shard int, _off long")
    cum = (cum_local.join(F.broadcast(off), "shard")
           .select("bin", "n",
                   (F.col("_off") + F.col("cum_in_shard")).alias("cum")))
    qdf = spark.createDataFrame([(q,) for q in BINQ_QUANTILES_PPM],
                                "q_ppm long").withColumn(
        "thresh", F.expr(f"(q_ppm * {total}L + 999999) DIV 1000000"))
    sel = (cum.join(F.broadcast(qdf), F.col("cum") >= F.col("thresh"))
           .groupBy("q_ppm").agg(F.min("bin").alias("bin")))
    return (sel.join(cum, "bin")
            .select("q_ppm", "bin",
                    (F.col("bin") * BINQ_WIDTH_CENTS).alias("lo_cents"),
                    ((F.col("bin") + 1) * BINQ_WIDTH_CENTS - 1)
                    .alias("hi_cents"),
                    F.col("cum").cast("long").alias("cum_n"),
                    F.lit(total).cast("long").alias("total_n")))


SQL_STATS_BINNED_QUANTILES = f"""
WITH base AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem),
hist AS (
  SELECT cents // {BINQ_WIDTH_CENTS} AS bin, count(*) AS n
  FROM base GROUP BY 1),
cumu AS (
  SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum FROM hist),
tot AS (SELECT sum(n) AS total FROM hist),
q(q_ppm) AS (VALUES {', '.join(f'({v})' for v in BINQ_QUANTILES_PPM)}),
sel AS (
  SELECT q.q_ppm, min(c.bin) AS bin
  FROM q, tot, cumu c
  WHERE c.cum >= (q.q_ppm * tot.total + 999999) // 1000000
  GROUP BY 1)
SELECT CAST(s.q_ppm AS BIGINT) AS q_ppm, s.bin,
       s.bin * {BINQ_WIDTH_CENTS} AS lo_cents,
       (s.bin + 1) * {BINQ_WIDTH_CENTS} - 1 AS hi_cents,
       CAST(c.cum AS BIGINT) AS cum_n,
       CAST(t.total AS BIGINT) AS total_n
FROM sel s JOIN cumu c ON c.bin = s.bin CROSS JOIN tot t
"""


def q_stats_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-cardinality sketch [K], the
    mergeable bounded-state estimator — unlike HLL++ it is exactly
    replayable cross-engine because its state is just the K smallest
    md5 values: est = (K-1) * HASH_SPACE / v_K. The k-smallest scan is
    TakeOrdered (per-partition partial top-k, no full sort); the
    distinct pre-step is a hash agg on the hash itself (O(distinct)
    shuffle). Emitted next to the exact count as a QA row so the
    sketch's error is part of the record."""
    o = _tbl(spark, sf_dir, "orders")
    h = (o.select(F.md5(F.col("o_custkey").cast("string")).alias("h"))
         .distinct())
    kth = (h.orderBy("h").limit(KMV_K)
           .orderBy(F.desc("h")).limit(1)
           .select(F.conv(F.substring("h", 1, KMV_PREFIX_HEX), 16, 10)
                   .cast("long").alias("vk")))
    exact = h.agg(F.count(F.lit(1)).alias("exact_distinct"))
    return (kth.join(exact)
            .select(F.lit(KMV_K).cast("long").alias("k"),
                    F.col("vk"),
                    F.expr(f"{(KMV_K - 1) * KMV_SPACE}L DIV vk")
                    .cast("long").alias("est_distinct"),
                    F.col("exact_distinct").cast("long")
                    .alias("exact_distinct"),
                    F.expr(f"(({(KMV_K - 1) * KMV_SPACE}L DIV vk)"
                           " * 1000000) DIV exact_distinct")
                    .cast("long").alias("ratio_ppm")))


def _sql_stats_kmv_distinct() -> str:
    dig = " + ".join(
        f"(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) "
        f"* {16 ** (KMV_PREFIX_HEX - 1 - i)}::BIGINT"
        for i in range(KMV_PREFIX_HEX))
    return f"""
WITH h AS (
  SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS h FROM orders),
topk AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}),
kth AS (SELECT max(h) AS h FROM topk),
dec AS (SELECT {dig} AS vk FROM kth),
ex AS (SELECT count(*) AS exact_distinct FROM h)
SELECT CAST({KMV_K} AS BIGINT) AS k,
       CAST(d.vk AS BIGINT) AS vk,
       CAST({(KMV_K - 1) * KMV_SPACE} // d.vk AS BIGINT) AS est_distinct,
       CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
       CAST(({(KMV_K - 1) * KMV_SPACE} // d.vk) * 1000000
            // e.exact_distinct AS BIGINT) AS ratio_ppm
FROM dec d CROSS JOIN ex e
"""


# candidate inclusion dependencies: (child table, child col, parent
# table, parent col). The last is a deliberate non-FK control pair.
def q_stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the corpus mean doc
    length [K: the resampling scheme for CIs over datasets too large
    to multinomial-resample — each element enters each replicate
    Poisson(1) times, so replicates stream in one scan with no global
    coordination]. Replicate weights come from a 24-bit md5 point per
    (doc, replicate) pushed through integer inverse-CDF thresholds
    (BOOT_POISSON_THRESH), per-replicate means use exact BIGINT
    sum(w*x)/sum(w) arithmetic, and the interval is the rank-2 /
    rank-(B-1) order statistics of the B=48 replicate means (the
    (1/48, 47/48) empirical quantiles, a ~95.8% interval).

    Shape: one documents scan exploded by the constant replicate
    dimension (48x, map-side), one 48-group hash agg (partial agg
    collapses each task to <=48 rows before the shuffle), then the
    order statistics via orderBy+limit(48) — a TakeOrdered, after
    which the rank window runs over a plan-provably bounded input."""
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    b = BOOT_REPLICATES
    rep = d.select(
        "doc_id", "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("r"))
    v = F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                       F.col("r").cast("string"))), 1, 6), 16, 10)
    cases = "CASE " + " ".join(
        f"WHEN v < {t} THEN {k}"
        for k, t in enumerate(BOOT_POISSON_THRESH)
    ) + f" ELSE {len(BOOT_POISSON_THRESH)} END"
    rep = (rep.withColumn("v", v.cast("long"))
           .withColumn("w", F.expr(cases).cast("long")))
    per = rep.groupBy("r").agg(
        F.sum(F.col("w") * F.col("n_chars")).alias("wx"),
        F.sum("w").alias("wn"))
    means = per.select(
        "r", F.round(F.col("wx").cast("double") / F.col("wn"), 6)
        .alias("m"))
    wrk = Window.orderBy(F.col("m").asc(), F.col("r").asc())
    ranked = (means.orderBy(F.col("m").asc(), F.col("r").asc()).limit(b)
              .withColumn("rk", F.row_number().over(wrk)))
    ci = ranked.agg(
        F.max(F.when(F.col("rk") == 2, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == b - 1, F.col("m"))).alias("ci_hi"))
    point = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6)
        .alias("point_mean"))
    return (point.crossJoin(F.broadcast(ci))
            .select("n_docs",
                    F.lit(b).cast("int").alias("b_replicates"),
                    "point_mean", "ci_lo", "ci_hi"))


def _sql_stats_bootstrap_ci() -> str:
    b = BOOT_REPLICATES
    cases = "CASE " + " ".join(
        f"WHEN v < {t} THEN {k}"
        for k, t in enumerate(BOOT_POISSON_THRESH)
    ) + f" ELSE {len(BOOT_POISSON_THRESH)} END"
    return f"""
WITH rep AS (
  SELECT d.n_chars,
         r.rv AS r,
         CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                  || CAST(r.rv AS VARCHAR)), 1, 6))
              AS BIGINT) AS v
  FROM documents d CROSS JOIN range({b}) r(rv)),
wrep AS (SELECT r, n_chars, CAST({cases} AS BIGINT) AS w FROM rep),
per AS (SELECT r, sum(w * n_chars) AS wx, sum(w) AS wn
        FROM wrep GROUP BY r),
means AS (SELECT r, round(CAST(wx AS DOUBLE) / wn, 6) AS m FROM per),
ranked AS (SELECT m, row_number() OVER (ORDER BY m ASC, r ASC) AS rk
           FROM means),
pt AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6)
              AS point_mean
       FROM documents)
SELECT pt.n_docs, CAST({b} AS INT) AS b_replicates, pt.point_mean,
       (SELECT m FROM ranked WHERE rk = 2) AS ci_lo,
       (SELECT m FROM ranked WHERE rk = {b - 1}) AS ci_hi
FROM pt
"""


def q_stats_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test, each source vs the rest of the
    corpus [K: the two-sample location test that doesn't assume equal
    variances — the standard "is this source's doc-length distribution
    shifted?" QA read; Welch-Satterthwaite approximates the degrees of
    freedom]. Metric = per-document character mass. All per-source
    sums (n, S, SS) are exact BIGINTs; the rest-group sums are exact
    differences against the 1-row global; t and df are computed from
    those integers through an identical double expression tree on both
    engines (the drift_cos convention).

    Shape: one map-side projection -> one |sources|-row hash agg ->
    crossJoin against the 1-row global -> map arithmetic. No windows,
    no self-joins; the only barrier is the O(1) global row."""
    d = _docs(spark, sf_dir)
    m = d.select("source",
                 F.length(F.coalesce(F.col("text"), F.lit("")))
                 .cast("long").alias("mass"))
    g = m.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum("mass").cast("long").alias("s1"),
        F.sum(F.col("mass") * F.col("mass")).cast("long").alias("ss1"))
    tot = g.agg(F.sum("n1").cast("long").alias("nt"),
                F.sum("s1").cast("long").alias("st"),
                F.sum("ss1").cast("long").alias("sst"))
    j = (g.crossJoin(F.broadcast(tot))
         .withColumn("n2", (F.col("nt") - F.col("n1")).cast("long"))
         .withColumn("s2", (F.col("st") - F.col("s1")).cast("long"))
         .withColumn("ss2", (F.col("sst") - F.col("ss1")).cast("long")))
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    v1 = ((n1d * F.col("ss1").cast("double")
           - F.col("s1").cast("double") * F.col("s1").cast("double"))
          / (n1d * (n1d - 1)))
    v2 = ((n2d * F.col("ss2").cast("double")
           - F.col("s2").cast("double") * F.col("s2").cast("double"))
          / (n2d * (n2d - 1)))
    se1, se2 = v1 / n1d, v2 / n2d
    t = ((F.col("s1").cast("double") / n1d
          - F.col("s2").cast("double") / n2d)
         / F.sqrt(se1 + se2))
    df = ((se1 + se2) * (se1 + se2)
          / (se1 * se1 / (n1d - 1) + se2 * se2 / (n2d - 1)))
    return j.select(
        "source", F.col("n1").alias("n_docs"),
        F.round(F.col("s1").cast("double") / n1d, 6).alias("mean_mass"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("welch_df"))


def _sql_stats_welch() -> str:
    v1 = ("(CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)"
          " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
          " / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1))")
    v2 = ("(CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)"
          " - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))"
          " / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1))")
    se1 = f"(({v1}) / CAST(n1 AS DOUBLE))"
    se2 = f"(({v2}) / CAST(n2 AS DOUBLE))"
    return f"""
WITH m AS (
  SELECT source, CAST(length(coalesce(text, '')) AS BIGINT) AS mass
  FROM documents),
g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(mass) AS BIGINT) AS s1,
         CAST(sum(mass * mass) AS BIGINT) AS ss1
  FROM m GROUP BY 1),
tot AS (SELECT CAST(sum(n1) AS BIGINT) AS nt,
               CAST(sum(s1) AS BIGINT) AS st,
               CAST(sum(ss1) AS BIGINT) AS sst FROM g),
j AS (
  SELECT source, n1, s1, ss1,
         CAST(nt - n1 AS BIGINT) AS n2,
         CAST(st - s1 AS BIGINT) AS s2,
         CAST(sst - ss1 AS BIGINT) AS ss2
  FROM g CROSS JOIN tot)
SELECT source, n1 AS n_docs,
       round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS mean_mass,
       round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             / sqrt({se1} + {se2}), 6) AS t_stat,
       round(({se1} + {se2}) * ({se1} + {se2})
             / ({se1} * {se1} / (CAST(n1 AS DOUBLE) - 1)
                + {se2} * {se2} / (CAST(n2 AS DOUBLE) - 1)), 6)
         AS welch_df
FROM j
"""


def q_stats_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily order-count series at
    lags 1..ACF_MAX_LAG [K: the ACF diagnostic behind seasonality /
    ingest-anomaly detection — a weekly pipeline rhythm shows as a
    lag-7 peak]. Uses the full-series mean and variance as the
    normalizer (the textbook biased-denominator ACF); missing calendar
    days simply contribute no pair, which is documented rather than
    gap-filled (rel_gapfill is the composition point). All pair sums
    (n_k, Sxy_k, Sa_k, Sb_k) and the global (n, S, SS) are exact
    BIGINTs; r_k is assembled in one identical double expression on
    both engines.

    Shape: one day hash agg (map-side partial over the orders scan),
    one constant 7-wide lag explode of that tiny daily table, one
    date-keyed equi-join of daily vs daily, one 7-row agg + the O(1)
    global crossJoined back. Nothing here grows with row count except
    the first agg."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("x").cast("long").alias("s"),
                    F.sum(F.col("x") * F.col("x")).cast("long")
                    .alias("ss"))
    lags = F.explode(F.array(*[F.lit(k)
                               for k in range(1, ACF_MAX_LAG + 1)]))
    a = daily.select("day", F.col("x").alias("xa"), lags.alias("lag")) \
        .withColumn("day_b", F.expr("date_add(day, lag)"))
    b = daily.select(F.col("day").alias("day_b"), F.col("x").alias("xb"))
    pairs = a.join(b, "day_b")
    g = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sxy"),
        F.sum("xa").cast("long").alias("sa"),
        F.sum("xb").cast("long").alias("sb"))
    nd = F.col("n").cast("double")
    m = F.col("s").cast("double") / nd
    denom = F.col("ss").cast("double") - nd * m * m
    num = (F.col("sxy").cast("double")
           - m * (F.col("sa").cast("double") + F.col("sb").cast("double"))
           + F.col("n_pairs").cast("double") * m * m)
    return (g.crossJoin(F.broadcast(tot))
            .select(F.col("lag").cast("int").alias("lag"), "n_pairs",
                    F.round(num / denom, 6).alias("acf")))


def _sql_stats_autocorr() -> str:
    lag_rows = ", ".join(f"({k})" for k in range(1, ACF_MAX_LAG + 1))
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS ss FROM daily),
lags(lag) AS (VALUES {lag_rows}),
pairs AS (
  SELECT l.lag, a.x AS xa, b.x AS xb
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON b.day = a.day + l.lag),
g AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(xa * xb) AS BIGINT) AS sxy,
         CAST(sum(xa) AS BIGINT) AS sa,
         CAST(sum(xb) AS BIGINT) AS sb
  FROM pairs GROUP BY 1)
SELECT CAST(lag AS INT) AS lag, n_pairs,
       round((CAST(sxy AS DOUBLE)
              - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
              + CAST(n_pairs AS DOUBLE)
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             / (CAST(ss AS DOUBLE)
                - CAST(n AS DOUBLE)
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS acf
FROM g CROSS JOIN tot
"""


def q_stats_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily order-count series [K:
    the nonparametric randomness check — too FEW runs of above/below-
    median days means positive serial dependence (trend/regime), too
    MANY means oscillation; the companion read to the ACF]: days are
    signed by an above/below-GLOBAL-MEDIAN cut (exact doubled-integer
    MEAN cut — cross-multiplied exact integers x*n_days vs sum(x), so
    no division; the mean variant instead of the median one because a
    discrete low-count series can put over half its days AT the
    median, emptying one side (observed on the fixture); at-mean days
    are dropped — the standard treatment, documented), runs are
    counted WITHOUT a global
    sort as 1 + sign-changes over calendar-consecutive day pairs
    (missing-day gaps conservatively count as a boundary, documented),
    and the z-statistic against the exact run-count mean/variance
    formula is one identical double expression on both engines.

    Shape: one daily hash agg, one O(1) median agg, one map-side sign
    projection, one calendar-keyed self-join (day+1) + O(1) counts —
    no windows, no global sort, nothing single-partition."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    tot0 = daily.agg(F.count(F.lit(1)).cast("long").alias("nd"),
                     F.sum("x").cast("long").alias("sx"))
    signed = (daily.crossJoin(F.broadcast(tot0))
              .filter(F.col("x") * F.col("nd") != F.col("sx"))
              .select("day",
                      (F.col("x") * F.col("nd") > F.col("sx"))
                      .cast("int").alias("sgn")))
    cnt = signed.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("sgn").cast("long").alias("n_plus"))
    b = signed.select(F.col("day").alias("day_b"),
                      F.col("sgn").alias("sgn_b"))
    adj = (signed.withColumn("day_b", F.expr("date_add(day, 1)"))
           .join(b, "day_b"))
    trans = adj.agg(
        F.count(F.lit(1)).cast("long").alias("n_adj"),
        F.sum((F.col("sgn") != F.col("sgn_b")).cast("long"))
        .cast("long").alias("n_changes"))
    j = cnt.crossJoin(trans)
    nd = F.col("n").cast("double")
    p = F.col("n_plus").cast("double")
    q = nd - p
    # runs = segments over the adjacency graph: N nodes minus the
    # same-sign consecutive links (gaps break runs by construction)
    runs = (F.col("n") - (F.col("n_adj") - F.col("n_changes"))) \
        .cast("double")
    mu = 2.0 * p * q / nd + 1.0
    var = (2.0 * p * q * (2.0 * p * q - nd)) / (nd * nd * (nd - 1.0))
    return j.select(
        "n", "n_plus", F.col("n_changes").alias("n_sign_changes"),
        runs.cast("long").alias("n_runs"),
        F.round(mu, 6).alias("expected_runs"),
        F.round((runs - mu) / F.sqrt(var), 6).alias("z"))


def _sql_stats_runs() -> str:
    return """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
tot0 AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                CAST(sum(x) AS BIGINT) AS sx FROM daily),
signed AS (
  SELECT day, CAST(CASE WHEN x * nd > sx THEN 1 ELSE 0 END AS INT)
           AS sgn
  FROM daily CROSS JOIN tot0
  WHERE x * nd <> sx),
cnt AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(sgn) AS BIGINT) AS n_plus FROM signed),
adj AS (
  SELECT a.sgn, b.sgn AS sgn_b
  FROM signed a JOIN signed b ON b.day = a.day + 1),
trans AS (
  SELECT CAST(count(*) AS BIGINT) AS n_adj,
         CAST(sum(CASE WHEN sgn <> sgn_b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changes
  FROM adj)
SELECT n, n_plus, n_changes AS n_sign_changes,
       CAST(n - (n_adj - n_changes) AS BIGINT) AS n_runs,
       round(2.0 * CAST(n_plus AS DOUBLE)
             * (CAST(n AS DOUBLE) - CAST(n_plus AS DOUBLE))
             / CAST(n AS DOUBLE) + 1.0, 6) AS expected_runs,
       round((CAST(n - (n_adj - n_changes) AS DOUBLE)
              - (2.0 * CAST(n_plus AS DOUBLE)
                 * (CAST(n AS DOUBLE) - CAST(n_plus AS DOUBLE))
                 / CAST(n AS DOUBLE) + 1.0))
             / sqrt((2.0 * CAST(n_plus AS DOUBLE)
                     * (CAST(n AS DOUBLE) - CAST(n_plus AS DOUBLE))
                     * (2.0 * CAST(n_plus AS DOUBLE)
                        * (CAST(n AS DOUBLE) - CAST(n_plus AS DOUBLE))
                        - CAST(n AS DOUBLE)))
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * (CAST(n AS DOUBLE) - 1.0))), 6) AS z
FROM cnt CROSS JOIN trans
"""


def q_stats_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality decomposition of the daily order-count
    series [K: the additive-profile read that pairs with the ACF —
    how much of the series' variance is explained by the weekly
    profile alone, i.e. the R^2 of the 7-level dow-mean model]: per
    dow (1=Mon..7=Sun, ISO — computed portably from the epoch-day
    number, NOT from engine-specific dayofweek() conventions): day
    count, order sum, mean, and the corpus-constant variance_explained
    = 1 - SSE/SST where SSE = SS_total - sum_d(S_d^2/n_d). All sums
    exact BIGINTs; the one cross-row rational sum (fit_ss) is
    quantized per-dow to micro-unit integers BEFORE summing so no
    engine-dependent double-addition order exists, and the final
    ratio is one identical double expression on both engines.

    Shape: one daily hash agg -> one 7-row dow agg -> two O(1)
    crossJoins. The dow-mean model needs no window and no sort."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    # epoch day 0 = 1970-01-01 = a Thursday = ISO dow 4
    dowed = daily.select(
        ((F.datediff(F.col("day"), F.lit("1970-01-01")) + 3) % 7 + 1)
        .cast("int").alias("dow"), "x")
    g = dowed.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("ss"))
    tot = g.agg(F.sum("n_days").cast("long").alias("n"),
                F.sum("s").cast("long").alias("st"),
                F.sum("ss").cast("long").alias("sst"))
    # fit_ss = sum_d S_d^2/n_d is a cross-row sum of RATIONALS — as
    # doubles its engine-dependent summation order could flip round(),
    # so each term is quantized to an exact micro-unit integer first
    # (S_d^2*1e6 DIV n_d) and the BIGINT sum is order-invariant.
    fit = g.agg(F.sum(F.expr("s * s * 1000000L DIV n_days"))
                .cast("long").alias("fit_ss_u"))
    sse_u = F.col("sst") * F.lit(1000000) - F.col("fit_ss_u")
    sst_u = (F.col("sst") * F.lit(1000000)
             - F.expr("st * st * 1000000L DIV n"))
    return (g.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(fit))
            .select("dow", "n_days", F.col("s").alias("n_orders"),
                    F.round(F.col("s").cast("double")
                            / F.col("n_days").cast("double"), 6)
                    .alias("mean_orders"),
                    F.round(F.lit(1.0)
                            - sse_u.cast("double") / sst_u.cast("double"),
                            6).alias("variance_explained")))


def _sql_stats_seasonality() -> str:
    return """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
dowed AS (
  SELECT CAST((datediff('day', DATE '1970-01-01', day) + 3) % 7 + 1
              AS INT) AS dow, x
  FROM daily),
g AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS ss
  FROM dowed GROUP BY 1),
tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS n,
               CAST(sum(s) AS BIGINT) AS st,
               CAST(sum(ss) AS BIGINT) AS sst FROM g),
fit AS (SELECT CAST(sum(s * s * 1000000 // n_days) AS BIGINT)
                 AS fit_ss_u FROM g)
SELECT dow, n_days, s AS n_orders,
       round(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
         AS mean_orders,
       round(1.0 - CAST(sst * 1000000 - fit_ss_u AS DOUBLE)
             / CAST(sst * 1000000 - st * st * 1000000 // n AS DOUBLE),
             6) AS variance_explained
FROM g CROSS JOIN tot CROSS JOIN fit
"""


def q_stats_evt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value capacity estimate for the daily order load [K:
    Gumbel block-maxima with method-of-moments fit — the capacity-
    planning read "what daily peak should the system be sized for":
    monthly maxima of the daily series, mu/beta from the maxima's
    mean and standard deviation (beta = sd*sqrt(6)/pi, mu = mean -
    Euler*beta), and the 99% / 99.9% return levels mu -
    beta*ln(-ln(p))]. Block maxima and their (n, S, SS) are exact
    BIGINTs; the fit and return levels are one identical double
    expression tree on both engines (sqrt is IEEE-exact; ln at these
    magnitudes is ulp-stable under round6 — the text_perplexity
    precedent).

    Shape: one daily hash agg -> one monthly max agg -> one O(1)
    moments agg. One summary row; nothing unbounded anywhere."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    blocks = (daily.groupBy(
        (F.year("day") * 12 + F.month("day") - 1).cast("long")
        .alias("block_m"))
        .agg(F.max("x").cast("long").alias("mx")))
    mom = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("mx").cast("long").alias("s"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("ss"),
        F.max("mx").cast("long").alias("observed_max"))
    nd = F.col("n_blocks").cast("double")
    mean = F.col("s").cast("double") / nd
    var = ((nd * F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double"))
           / (nd * (nd - 1.0)))
    beta = F.sqrt(var) * _math.sqrt(6.0) / _math.pi
    mu = mean - GUMBEL_EULER * beta
    lvl99 = mu - beta * F.log(-F.log(F.lit(0.99)))
    lvl999 = mu - beta * F.log(-F.log(F.lit(0.999)))
    return mom.select(
        "n_blocks", "observed_max",
        F.round(mean, 6).alias("block_max_mean"),
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(lvl99, 6).alias("return_level_99"),
        F.round(lvl999, 6).alias("return_level_999"))


def _sql_stats_evt() -> str:
    nd = "CAST(n_blocks AS DOUBLE)"
    mean = f"(CAST(s AS DOUBLE) / {nd})"
    var = (f"(({nd} * CAST(ss AS DOUBLE)"
           f" - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
           f" / ({nd} * ({nd} - 1.0)))")
    beta = f"(sqrt({var}) * sqrt(6.0) / pi())"
    mu = f"({mean} - {GUMBEL_EULER} * {beta})"
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
blocks AS (
  SELECT CAST(year(day) * 12 + month(day) - 1 AS BIGINT) AS block_m,
         CAST(max(x) AS BIGINT) AS mx
  FROM daily GROUP BY 1),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(mx) AS BIGINT) AS s,
         CAST(sum(mx * mx) AS BIGINT) AS ss,
         CAST(max(mx) AS BIGINT) AS observed_max
  FROM blocks)
SELECT n_blocks, observed_max,
       round({mean}, 6) AS block_max_mean,
       round({mu}, 6) AS gumbel_mu,
       round({beta}, 6) AS gumbel_beta,
       round({mu} - {beta} * ln(-ln(0.99)), 6) AS return_level_99,
       round({mu} - {beta} * ln(-ln(0.999)), 6) AS return_level_999
FROM mom
"""


def q_stats_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of the unseen vocabulary [K:
    the capture-recapture estimator — from the counts of singleton
    (f1) and doubleton (f2) types, estimate how many types the FULL
    population holds: Chao1 = V + f1*(f1-1)/(2*(f2+1)), the
    bias-corrected form that stays defined at f2=0 — plus Good-Turing
    coverage 1 - f1/N, the "what mass of the next shard will be
    unseen types" read a tokenizer/vocab planner wants before
    committing]. Types are token TRIGRAMS (the same unit and
    rationale as text_heaps: the fixture's unigram space is closed).
    V, f1, f2, N are exact BIGINTs from two nested aggs; the two
    estimates are one double expression each.

    Shape: token explode -> type hash agg -> frequency-of-frequency
    hash agg (tiny) -> one O(1) summary row. The classic two-level
    agg; nothing unbounded."""
    d = _docs(spark, sf_dir)
    arr = d.select(
        F.filter(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                 r"\s+"), lambda t: t != "").alias("t"))
    tri = arr.select(F.when(
        F.size("t") >= 3,
        F.expr("transform(sequence(0, size(t) - 3),"
               " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
        .otherwise(F.array().cast("array<string>")).alias("g"))
    toks = tri.select(F.explode("g").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long")
                                   .alias("c"))
    summ = freq.agg(
        F.count(F.lit(1)).cast("long").alias("v_obs"),
        F.sum("c").cast("long").alias("n_grams"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("f2"))
    f1d = F.col("f1").cast("double")
    return summ.select(
        "v_obs", "n_grams", "f1", "f2",
        F.round(F.col("v_obs").cast("double")
                + f1d * (f1d - 1.0)
                / (2.0 * (F.col("f2").cast("double") + 1.0)), 6)
        .alias("chao1"),
        F.round(F.lit(1.0) - f1d / F.col("n_grams").cast("double"), 6)
        .alias("coverage_gt"))


def _sql_stats_chao1() -> str:
    return """
WITH arr AS (
  SELECT list_filter(string_split_regex(
      lower(coalesce(text, '')), '\\s+'), x -> x <> '') AS t
  FROM documents),
toks AS (
  SELECT g AS tok FROM arr,
  UNNEST(list_transform(generate_series(1, len(t) - 2),
      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(g)),
freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
         FROM toks GROUP BY 1),
summ AS (
  SELECT CAST(count(*) AS BIGINT) AS v_obs,
         CAST(sum(c) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM freq)
SELECT v_obs, n_grams, f1, f2,
       round(CAST(v_obs AS DOUBLE)
             + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
               / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 6) AS chao1,
       round(1.0 - CAST(f1 AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
         AS coverage_gt
FROM summ
"""


def q_stats_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-source jackknife for the corpus mean doc length [K:
    the grouped-jackknife SE — when observations cluster by source,
    resampling DOCUMENTS understates the variance; deleting whole
    sources measures the between-source sensitivity a mixture change
    would actually cause]: per source the leave-that-source-out mean
    (exact global minus per-source sums), then the jackknife variance
    (g-1)/g * sum((m_i - mean(m_i))^2) assembled WITHOUT a cross-row
    double sum — the loo means are quantized to exact MILLI-unit
    integers before the final g-row sum (the stats_seasonality
    convention; milli not micro so sum(m^2) stays inside int64).

    Shape: one |sources|-row hash agg, one O(1) global crossJoin, one
    g-row agg. Emits the corpus mean, the jackknife SE, and g."""
    d = _docs(spark, sf_dir)
    g = (d.groupBy("source")
         .agg(F.count(F.lit(1)).cast("long").alias("n1"),
              F.sum(F.length(F.coalesce(F.col("text"), F.lit(""))))
              .cast("long").alias("s1")))
    tot = g.agg(F.count(F.lit(1)).cast("long").alias("gs"),
                F.sum("n1").cast("long").alias("nt"),
                F.sum("s1").cast("long").alias("st"))
    # loo mean in MILLI-units, exact: (st - s1)*1e3 DIV (nt - n1) —
    # micro-units would push sum(m^2) past int64 at ~20 sources
    loo = (g.crossJoin(F.broadcast(tot))
           .select("gs", "nt", "st",
                   F.expr("(st - s1) * 1000L DIV (nt - n1)")
                   .cast("long").alias("m_u")))
    # jackknife: var = (g-1)/g * sum((m_i - mbar)^2); mbar over the
    # loo means, all in exact micro-unit integers (mbar floor-DIV —
    # identical on both engines, documented quantization)
    agg = loo.groupBy("gs", "nt", "st").agg(
        F.count(F.lit(1)).cast("long").alias("g_rows"),
        F.sum("m_u").cast("long").alias("sm"),
        F.sum(F.col("m_u") * F.col("m_u")).cast("long").alias("sm2"))
    gd = F.col("gs").cast("double")
    var_u2 = ((gd * F.col("sm2").cast("double")
               - F.col("sm").cast("double") * F.col("sm").cast("double"))
              / gd) * ((gd - 1.0) / gd)
    return agg.select(
        F.col("gs").alias("n_sources"),
        F.col("nt").alias("n_docs"),
        F.round(F.col("st").cast("double") / F.col("nt").cast("double"),
                6).alias("mean_len"),
        F.round(F.sqrt(var_u2) / F.lit(1000.0), 6)
        .alias("jackknife_se"))


def _sql_stats_jackknife() -> str:
    return """
WITH g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS s1
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS gs,
               CAST(sum(n1) AS BIGINT) AS nt,
               CAST(sum(s1) AS BIGINT) AS st FROM g),
loo AS (
  SELECT gs, nt, st,
         CAST((st - s1) * 1000 // (nt - n1) AS BIGINT) AS m_u
  FROM g CROSS JOIN tot),
agg AS (
  SELECT gs, nt, st, CAST(count(*) AS BIGINT) AS g_rows,
         CAST(sum(m_u) AS BIGINT) AS sm,
         CAST(sum(m_u * m_u) AS BIGINT) AS sm2
  FROM loo GROUP BY 1, 2, 3)
SELECT gs AS n_sources, nt AS n_docs,
       round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS mean_len,
       round(sqrt(((CAST(gs AS DOUBLE) * CAST(sm2 AS DOUBLE)
                    - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                   / CAST(gs AS DOUBLE))
                  * ((CAST(gs AS DOUBLE) - 1.0) / CAST(gs AS DOUBLE)))
             / 1000.0, 6) AS jackknife_se
FROM agg
"""


def q_stats_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-decayed daily-load smoother, half-life = 1 day [K:
    the EWMA-style monitor read — recent days dominate, every past
    day contributes 2^-age]: per event_type the decayed load
    sum_t x_t * 2^-age_t and the decay-weighted mean rate. The
    cross-row weighted sum — normally an engine-order double hazard —
    is EXACT here by construction: each term is the INTEGER
    x_t * 2^(H - age_t) (H = EWMA_HORIZON, ages beyond H contribute
    exactly zero, documented), the BIGINT sum is order-invariant, and
    one division by 2^H at the end recovers the dyadic value with no
    rounding at all. Also reports the final-day raw count and the
    plain mean for contrast.

    Shape: one (type, day) hash agg -> per-type max-day broadcast
    back -> map-side integer weight -> one per-type agg. No windows,
    no recursion at runtime — the closed form is the whole point."""
    e = _tbl(spark, sf_dir, "events")
    daily = (e.select("event_type", F.to_date("ts").alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    rng = daily.groupBy("event_type").agg(
        F.max("day").alias("dT"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("total"))
    j = (daily.join(F.broadcast(rng), "event_type")
         .withColumn("age", F.datediff(F.col("dT"), F.col("day"))
                     .cast("int"))
         .filter(F.col("age") <= EWMA_HORIZON)
         .withColumn("scale",
                     F.expr(f"shiftleft(CAST(1 AS BIGINT),"
                            f" {EWMA_HORIZON} - age)")))
    g = j.groupBy("event_type").agg(
        F.sum(F.col("x") * F.col("scale")).cast("long").alias("num"),
        F.sum("scale").cast("long").alias("den"),
        F.max(F.when(F.col("age") == 0, F.col("x"))).cast("long")
        .alias("last_day"))
    two_h = float(1 << EWMA_HORIZON)
    return (g.join(F.broadcast(rng), "event_type")
            .select("event_type", "n_days", "total", "last_day",
                    F.round(F.col("total").cast("double")
                            / F.col("n_days").cast("double"), 6)
                    .alias("mean_daily"),
                    F.round(F.col("num").cast("double") / two_h, 6)
                    .alias("decayed_load"),
                    F.round(F.col("num").cast("double")
                            / F.col("den").cast("double"), 6)
                    .alias("decayed_rate")))


def _sql_stats_ewma() -> str:
    h = EWMA_HORIZON
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2),
rng AS (
  SELECT event_type, max(day) AS dT,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS total
  FROM daily GROUP BY 1),
j AS (
  SELECT d.event_type, d.x,
         datediff('day', d.day, r.dT) AS age,
         CAST(1 AS BIGINT) << ({h} - datediff('day', d.day, r.dT))
           AS scale
  FROM daily d JOIN rng r USING (event_type)
  WHERE datediff('day', d.day, r.dT) <= {h}),
g AS (
  SELECT event_type,
         CAST(sum(x * scale) AS BIGINT) AS num,
         CAST(sum(scale) AS BIGINT) AS den,
         CAST(max(CASE WHEN age = 0 THEN x END) AS BIGINT) AS last_day
  FROM j GROUP BY 1)
SELECT g.event_type, r.n_days, r.total, g.last_day,
       round(CAST(r.total AS DOUBLE) / CAST(r.n_days AS DOUBLE), 6)
         AS mean_daily,
       round(CAST(g.num AS DOUBLE) / {float(1 << h)}, 6)
         AS decayed_load,
       round(CAST(g.num AS DOUBLE) / CAST(g.den AS DOUBLE), 6)
         AS decayed_rate
FROM g JOIN rng r USING (event_type)
"""


def q_stats_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest [K: the baseline every
    forecasting effort must beat — predict month t with month t-12 —
    and the backtest table that says whether fancier models earn
    their keep]: per month with a year-ago observation, actual vs
    predicted order counts, absolute error, and error in exact ppm of
    the actual; plus the corpus sMAPE assembled from EXACT integer
    sums (sum|a-p| and sum(a+p) — the ratio-of-sums sMAPE variant is
    chosen PRECISELY because it needs no cross-row double sum; the
    per-row-mean variant would, documented).

    Shape: one monthly hash agg -> one self-join on month-12 (tiny
    keyed table) -> one O(1) summary crossJoined back."""
    o = _tbl(spark, sf_dir, "orders")
    monthly = (o.select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long").alias("m"))
        .groupBy("m").agg(F.count(F.lit(1)).cast("long").alias("x")))
    prev = monthly.select((F.col("m") + 12).alias("m"),
                          F.col("x").alias("pred"))
    j = monthly.join(prev, "m") \
        .withColumn("abs_err", F.abs(F.col("x") - F.col("pred")))
    summ = j.agg(F.sum("abs_err").cast("long").alias("sae"),
                 F.sum(F.col("x") + F.col("pred")).cast("long")
                 .alias("sap"))
    return (j.crossJoin(F.broadcast(summ))
            .select(F.col("m").alias("month_idx"),
                    F.col("x").alias("actual"), "pred",
                    F.col("abs_err").cast("long").alias("abs_err"),
                    F.expr("abs_err * 1000000L DIV x").cast("long")
                    .alias("err_ppm"),
                    F.expr("2 * sae * 1000000L DIV sap").cast("long")
                    .alias("smape_ppm")))


def _sql_stats_backtest() -> str:
    return """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
              AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
j AS (
  SELECT a.m, a.x, p.x AS pred, abs(a.x - p.x) AS abs_err
  FROM monthly a JOIN monthly p ON p.m = a.m - 12),
summ AS (SELECT CAST(sum(abs_err) AS BIGINT) AS sae,
                CAST(sum(x + pred) AS BIGINT) AS sap FROM j)
SELECT m AS month_idx, x AS actual, pred,
       CAST(abs_err AS BIGINT) AS abs_err,
       CAST(abs_err * 1000000 // x AS BIGINT) AS err_ppm,
       CAST(2 * sae * 1000000 // sap AS BIGINT) AS smape_ppm
FROM j CROSS JOIN summ
"""


def q_stats_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalous-day detection over the daily order series [K: the
    median/MAD robust fence applied to the TIME axis — the ops read
    that catches ingest outages (collapsed days) and bot storms
    (spiked days) that a mean/stddev fence misses because the anomaly
    itself inflates the stddev]: exact doubled/quadrupled-integer
    median and MAD (the rel_outliers idiom), a cross-multiplied
    |x - med| > 3*1.4826*MAD fence, and per flagged day the direction
    (spike/collapse) plus the deviation in exact per-mille of the
    median. The kg_degree_anomaly shape pointed at the calendar.

    Shape: one daily hash agg, two O(1) percentile aggs broadcast
    back, one map-side fence. No windows, no sort."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    v = daily.withColumn("v2", (F.col("x") * 2).cast("long"))
    m1 = v.agg(F.expr("CAST(percentile(v2, 0.5) AS BIGINT)")
               .alias("med2"),
               F.count(F.lit(1)).cast("long").alias("n_days"))
    dv = (v.crossJoin(F.broadcast(m1))
          .withColumn("dev2", F.abs(F.col("v2") - F.col("med2"))))
    m2 = dv.agg(F.expr("CAST(percentile(2 * dev2, 0.5) AS BIGINT)")
                .alias("mad4"))
    return (dv.crossJoin(F.broadcast(m2))
            .filter(F.expr("dev2 * 10000 > 22239 * mad4"))
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "x",
                    F.col("med2").cast("long").alias("med2"),
                    F.col("mad4").cast("long").alias("mad4"),
                    F.when(F.col("v2") > F.col("med2"), F.lit("spike"))
                    .otherwise(F.lit("collapse")).alias("direction"),
                    F.expr("dev2 * 1000 DIV med2").cast("long")
                    .alias("dev_permille"),
                    "n_days"))


def _sql_stats_anomaly_days() -> str:
    return """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
v AS (SELECT day, x, CAST(x * 2 AS BIGINT) AS v2 FROM daily),
m1 AS (SELECT CAST(quantile_cont(v2, 0.5) AS BIGINT) AS med2,
              CAST(count(*) AS BIGINT) AS n_days FROM v),
dv AS (
  SELECT day, x, v2, abs(v2 - med2) AS dev2, med2, n_days
  FROM v CROSS JOIN m1),
m2 AS (SELECT CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
       FROM dv)
SELECT strftime(day, '%Y-%m-%d') AS day, x,
       CAST(med2 AS BIGINT) AS med2,
       CAST(mad4 AS BIGINT) AS mad4,
       CASE WHEN v2 > med2 THEN 'spike' ELSE 'collapse' END
         AS direction,
       CAST(dev2 * 1000 // med2 AS BIGINT) AS dev_permille,
       n_days
FROM dv CROSS JOIN m2
WHERE dev2 * 10000 > 22239 * mad4
"""


def q_stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: weekday vs weekend daily order
    volume [K: the standard nonparametric two-sample test — unlike
    stats_welch's t-test it makes no normality assumption, which is
    the right tool for heavy-tailed daily counts; ops teams run it to
    answer 'is weekend traffic a genuinely different distribution or
    just noisier?']. Exact DOUBLED integer rank sums (average ranks
    are half-integers, so everything carries a factor 2), the exact
    tie-correction term sum(t^3 - t), and the normal-approximation
    z-score with ONE double sqrt + division at the very end (round 6)
    — identical integer inputs make the double math engine-identical.
    Weekend = ISO day-of-week in {6, 7} (Spark weekday() >= 5,
    DuckDB isodow >= 6 — both Monday-anchored, no locale hazard).

    Shape: one distributed daily hash agg (calendar-bounded output),
    one distinct-count-value hash agg, a triangular broadcast
    self-join of that tiny value table for cumulative below-counts
    (the text_gini idiom — no partitionless window anywhere), and a
    1-row final agg. At 10^12 turns only the first agg touches the
    corpus."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    lab = daily.select(
        "x", (F.expr("weekday(day)") >= 5).cast("int").alias("wk"))
    g = lab.groupBy("x").agg(
        F.sum(F.when(F.col("wk") == 0, 1).otherwise(0)).cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("wk") == 1, 1).otherwise(0)).cast("long")
        .alias("c2"))
    cum = (g.alias("a").join(F.broadcast(g.alias("c")),
                             F.col("c.x") < F.col("a.x"), "left")
           .groupBy(F.col("a.x").alias("x"))
           .agg(F.max(F.col("a.c1")).cast("long").alias("c1"),
                F.max(F.col("a.c2")).cast("long").alias("c2"),
                F.coalesce(F.sum(F.col("c.c1") + F.col("c.c2")),
                           F.lit(0)).cast("long").alias("below")))
    # doubled avg rank for value x: 2*below + t + 1, t = c1 + c2
    stats = cum.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("below") + F.col("c1")
                             + F.col("c2") + 1)).cast("long")
        .alias("r1_x2"),
        F.sum((F.col("c1") + F.col("c2")) * (F.col("c1") + F.col("c2"))
              * (F.col("c1") + F.col("c2"))
              - (F.col("c1") + F.col("c2"))).cast("long")
        .alias("tie_term"))
    return stats.select(
        "n1", "n2",
        (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).cast("long")
        .alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2")
         - (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)))
        .cast("long").alias("u2_x2"),
        F.col("tie_term").alias("tie_term"),
        F.round(F.when(
            F.col("n1") * F.col("n2")
            * ((F.col("n1") + F.col("n2") + 1)
               * (F.col("n1") + F.col("n2"))
               * (F.col("n1") + F.col("n2") - 1) - F.col("tie_term"))
            > 0,
            ((F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1))
             .cast("double") - (F.col("n1") * F.col("n2"))
             .cast("double"))
            / (F.lit(2.0) * F.sqrt(
                (F.col("n1") * F.col("n2")
                 * ((F.col("n1") + F.col("n2") + 1)
                    * (F.col("n1") + F.col("n2"))
                    * (F.col("n1") + F.col("n2") - 1)
                    - F.col("tie_term"))).cast("double")
                / (F.lit(12.0)
                   * (F.col("n1") + F.col("n2")).cast("double")
                   * (F.col("n1") + F.col("n2") - 1).cast("double"))))
        ), 6).alias("z"))


def _sql_stats_mannwhitney() -> str:
    return """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
lab AS (
  SELECT x, CAST(CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS INT)
           AS wk
  FROM daily),
g AS (
  SELECT x,
         CAST(sum(CASE WHEN wk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN wk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM lab GROUP BY 1),
cum AS (
  SELECT a.x, max(a.c1) AS c1, max(a.c2) AS c2,
         CAST(coalesce(sum(c.c1 + c.c2), 0) AS BIGINT) AS below
  FROM g a LEFT JOIN g c ON c.x < a.x
  GROUP BY a.x),
s AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c1 * (2 * below + c1 + c2 + 1)) AS BIGINT) AS r1_x2,
         CAST(sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2))
              AS BIGINT) AS tie_term
  FROM cum)
SELECT n1, n2,
       CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
       CAST(2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS BIGINT) AS u2_x2,
       tie_term,
       round(CASE WHEN n1 * n2 * ((n1 + n2 + 1) * (n1 + n2)
                                  * (n1 + n2 - 1) - tie_term) > 0
             THEN (CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE)
                   - CAST(n1 * n2 AS DOUBLE))
                  / (2.0 * sqrt(
                      CAST(n1 * n2 * ((n1 + n2 + 1) * (n1 + n2)
                                      * (n1 + n2 - 1) - tie_term)
                           AS DOUBLE)
                      / (12.0 * CAST(n1 + n2 AS DOUBLE)
                         * CAST(n1 + n2 - 1 AS DOUBLE))))
             ELSE NULL END, 6) AS z
FROM s
"""


def q_stats_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Theil-Sen slope over the daily order
    series [K: THE standard monotonic-trend pair for noisy time
    series — MK gives a distribution-free 'is there a trend' z-score,
    Theil-Sen a slope robust to 29% outliers; capacity planners run
    exactly this pair on daily volume]. S = #concordant - #discordant
    pairs (exact BIGINT), tie-corrected variance numerator
    n(n-1)(2n+5) - sum t(t-1)(2t+5) (exact, /18 deferred into the one
    final double sqrt), continuity-corrected z (round 6), and the
    doubled-integer median (percentile idiom) of per-pair slopes
    quantized to exact ppm-per-day BIGINTs — the quantization is the
    documented honesty trade: exact rational medians need cross-
    multiplied comparisons, and 1e-6/day resolution is far below any
    actionable trend.

    Shape: one distributed daily hash agg (calendar-bounded output),
    one triangular self-join of that tiny table (n^2/2 pairs of a
    ~thousand-row series — broadcast-sized, NOT corpus-sized), two
    O(1) aggs. At 10^12 turns only the first agg touches the corpus."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    d = daily.select(
        F.datediff("day", F.lit("1970-01-01").cast("date"))
        .cast("long").alias("d"), "x")
    pr = (d.alias("a").join(F.broadcast(d.alias("b")),
                            F.col("a.d") < F.col("b.d"))
          .select((F.col("b.x") - F.col("a.x")).alias("dx"),
                  (F.col("b.d") - F.col("a.d")).alias("dd")))
    slope = pr.select(F.expr(
        "CAST(round(CAST(dx AS DOUBLE) * 1000000.0"
        " / CAST(dd AS DOUBLE), 0) AS BIGINT)").alias("s_ppm"))
    med = slope.agg(F.expr(
        "CAST(percentile(s_ppm * 2, 0.5) AS BIGINT)")
        .alias("slope_med2_ppm"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"))
    sstat = pr.agg(
        (F.sum(F.when(F.col("dx") > 0, 1).otherwise(0))
         - F.sum(F.when(F.col("dx") < 0, 1).otherwise(0)))
        .cast("long").alias("s"))
    ties = (d.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("t"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_values"),
                 F.sum("t").cast("long").alias("n_days"),
                 F.sum(F.col("t") * (F.col("t") - 1)
                       * (2 * F.col("t") + 5)).cast("long")
                 .alias("tie18")))
    base = (ties.crossJoin(F.broadcast(sstat))
            .crossJoin(F.broadcast(med))
            .withColumn("var18",
                        (F.col("n_days") * (F.col("n_days") - 1)
                         * (2 * F.col("n_days") + 5)
                         - F.col("tie18")).cast("long")))
    return base.select(
        "n_days", "n_values", "n_pairs", "s", "var18",
        "slope_med2_ppm",
        F.round(F.when(F.col("var18") <= 0, None)
                .when(F.col("s") > 0,
                      (F.col("s") - 1).cast("double")
                      / F.sqrt(F.col("var18").cast("double") / 18.0))
                .when(F.col("s") < 0,
                      (F.col("s") + 1).cast("double")
                      / F.sqrt(F.col("var18").cast("double") / 18.0))
                .otherwise(0.0), 6).alias("z"))


def _sql_stats_trend() -> str:
    return """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
d AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) AS d,
         x
  FROM daily),
pr AS (
  SELECT b.x - a.x AS dx, b.d - a.d AS dd
  FROM d a JOIN d b ON a.d < b.d),
slope AS (
  SELECT CAST(round(CAST(dx AS DOUBLE) * 1000000.0
                    / CAST(dd AS DOUBLE), 0) AS BIGINT) AS s_ppm
  FROM pr),
med AS (
  SELECT CAST(quantile_cont(s_ppm * 2, 0.5) AS BIGINT)
           AS slope_med2_ppm,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM slope),
sstat AS (
  SELECT CAST(sum(CASE WHEN dx > 0 THEN 1 ELSE 0 END)
              - sum(CASE WHEN dx < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS s
  FROM pr),
ties AS (
  SELECT CAST(count(*) AS BIGINT) AS n_values,
         CAST(sum(t) AS BIGINT) AS n_days,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
  FROM (SELECT x, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1)),
base AS (
  SELECT n_days, n_values, n_pairs, s,
         CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie18
              AS BIGINT) AS var18,
         slope_med2_ppm
  FROM ties CROSS JOIN sstat CROSS JOIN med)
SELECT n_days, n_values, n_pairs, s, var18, slope_med2_ppm,
       round(CASE WHEN var18 <= 0 THEN NULL
             WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                             / sqrt(CAST(var18 AS DOUBLE) / 18.0)
             WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                             / sqrt(CAST(var18 AS DOUBLE) / 18.0)
             ELSE 0.0 END, 6) AS z
FROM base
"""


# ASCII punctuation, brackets escaped for both RE2 (DuckDB) and Java
# (Spark) character-class syntax.
def q_stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test across day-of-week treatments in weekly
    blocks [K: the repeated-measures nonparametric ANOVA — 'does
    day-of-week matter once week-to-week level shifts are blocked
    out?'; the blocked design removes the trend/seasonality that
    would contaminate a pooled Kruskal-Wallis]. The daily series is
    CALENDAR GAP-FILLED (zero-order days count 0 — sequence() /
    generate_series, calendar-bounded) so every interior 7-day block
    is complete; edge-partial blocks are dropped. Ranks within each
    block are DOUBLED average midranks (2*minrank + ties - 1, exact
    integers from two block-partitioned windows — bounded partitions
    of 7, the gate-safe window shape). Emits one row per weekday:
    doubled rank sum, mean rank in exact ppm, plus the classic
    Q = 12/(nk(k+1)) * sum R_j^2 - 3n(k+1) (computed from exact
    integer sums, one double division, round 6) and the tie-
    correction factor C = 1 - sum(t^3-t)/(n k(k^3-k)) as exact ppm.

    Shape: one distributed daily hash agg, a calendar-bounded
    gap-fill explode, two bounded-partition windows, one k-row agg.
    Only the first agg touches the corpus. Block key is epoch-day DIV
    7 (deterministic 7-day windows anchored 1970-01-01, a Thursday —
    no ISO week-year cross-engine hazard)."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(F.explode(F.expr("sequence(d0, d1)")).alias("day"))
    filled = (cal.join(daily, "day", "left")
              .select("day", F.coalesce("x", F.lit(0)).cast("long")
                      .alias("x"),
                      (F.datediff("day",
                                  F.lit("1970-01-01").cast("date"))
                       .cast("long")).alias("ed"))
              .withColumn("blk", F.expr("ed DIV 7").cast("long"))
              .withColumn("wd", F.expr("ed % 7").cast("int")))
    full = (filled.groupBy("blk")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .filter(F.col("c") == 7).select("blk"))
    fb = filled.join(full, "blk")
    wmin = Window.partitionBy("blk").orderBy("x")
    wtie = Window.partitionBy("blk", "x")
    ranked = (fb.withColumn("minrk", F.rank().over(wmin))
              .withColumn("t", F.count(F.lit(1)).over(wtie))
              .withColumn("r2", (2 * F.col("minrk") + F.col("t") - 1)
                          .cast("long")))
    tie = (fb.groupBy("blk", "x")
           .agg(F.count(F.lit(1)).cast("long").alias("t"))
           .agg(F.sum(F.col("t") * F.col("t") * F.col("t")
                      - F.col("t")).cast("long").alias("tie_sum"),
                F.countDistinct("blk").cast("long").alias("n_blocks")))
    per = (ranked.groupBy("wd")
           .agg(F.sum("r2").cast("long").alias("r2_sum")))
    qsum = per.agg(F.sum(F.col("r2_sum") * F.col("r2_sum"))
                   .cast("long").alias("sq"))
    return (per.crossJoin(F.broadcast(tie))
            .crossJoin(F.broadcast(qsum))
            .select("wd", "r2_sum",
                    F.expr("r2_sum * 1000000 DIV (2 * n_blocks)")
                    .cast("long").alias("mean_rank_ppm"),
                    F.col("n_blocks"),
                    F.round(F.lit(3.0) * F.col("sq").cast("double")
                            / (F.col("n_blocks") * 56).cast("double")
                            - (3 * F.col("n_blocks") * 8).cast("double"),
                            6).alias("q_stat"),
                    (F.lit(1000000)
                     - F.expr("tie_sum * 1000000"
                              " DIV (n_blocks * 7 * 336)"))
                    .cast("long").alias("tie_c_ppm")))


def _sql_stats_friedman() -> str:
    return """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
cal AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM span),
filled AS (
  SELECT c.day, CAST(coalesce(d.x, 0) AS BIGINT) AS x,
         CAST(datediff('day', DATE '1970-01-01', c.day) AS BIGINT)
           AS ed
  FROM cal c LEFT JOIN daily d ON d.day = c.day),
blocked AS (
  SELECT x, ed // 7 AS blk, CAST(ed % 7 AS INT) AS wd FROM filled),
full_blocks AS (
  SELECT blk FROM blocked GROUP BY blk HAVING count(*) = 7),
fb AS (SELECT b.* FROM blocked b JOIN full_blocks USING (blk)),
ranked AS (
  SELECT wd,
         CAST(2 * rank() OVER (PARTITION BY blk ORDER BY x)
              + count(*) OVER (PARTITION BY blk, x) - 1 AS BIGINT)
           AS r2
  FROM fb),
tie AS (
  SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum,
         CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks
  FROM (SELECT blk, x, CAST(count(*) AS BIGINT) AS t
        FROM fb GROUP BY 1, 2)),
per AS (
  SELECT wd, CAST(sum(r2) AS BIGINT) AS r2_sum
  FROM ranked GROUP BY wd),
qsum AS (SELECT CAST(sum(r2_sum * r2_sum) AS BIGINT) AS sq FROM per)
SELECT wd, r2_sum,
       CAST(r2_sum * 1000000 // (2 * n_blocks) AS BIGINT)
         AS mean_rank_ppm,
       n_blocks,
       round(3.0 * CAST(sq AS DOUBLE)
             / CAST(n_blocks * 56 AS DOUBLE)
             - CAST(3 * n_blocks * 8 AS DOUBLE), 6) AS q_stat,
       CAST(1000000 - tie_sum * 1000000 // (n_blocks * 7 * 336)
            AS BIGINT) AS tie_c_ppm
FROM per CROSS JOIN tie CROSS JOIN qsum
"""


def q_stats_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-of-dispersion (Fano factor) per event stream [K: the
    Poisson-ness test for arrival processes — VMR = 1 under Poisson,
    >1 means bursty (retry storms, bot bursts), <1 means regularized
    (rate-limited); capacity models assume Poisson, so this is the
    check that licenses them]: hourly arrival counts per event_type,
    GAP-FILLED over the observed span (zero-event hours count — a
    dispersion statistic over only-nonempty hours is biased low),
    then VMR = (n*S2 - S1^2) / ((n-1)*S1) and the chi-square
    dispersion statistic (n-1)*VMR from EXACT integer sums, one
    double division each (round 6).

    Shape: one distributed (type, hour) hash agg, a calendar-bounded
    hour sequence explode cross-joined with the tiny type dimension,
    a broadcast left join, and one per-type agg. Only the first agg
    touches the corpus."""
    e = _tbl(spark, sf_dir, "events")
    hourly = (e.select(F.col("event_type").alias("et"),
                       F.date_trunc("hour", F.col("ts")).alias("h"))
              .groupBy("et", "h")
              .agg(F.count(F.lit(1)).cast("long").alias("x")))
    span = e.agg(F.date_trunc("hour", F.min("ts")).alias("h0"),
                 F.date_trunc("hour", F.max("ts")).alias("h1"))
    hours = span.select(F.explode(F.expr(
        "sequence(h0, h1, interval 1 hour)")).alias("h"))
    types = e.select(F.col("event_type").alias("et")).distinct()
    grid = hours.crossJoin(F.broadcast(types))
    filled = (grid.join(hourly, ["et", "h"], "left")
              .select("et", F.coalesce("x", F.lit(0)).cast("long")
                      .alias("x")))
    agg = (filled.groupBy("et")
           .agg(F.count(F.lit(1)).cast("long").alias("n_hours"),
                F.sum("x").cast("long").alias("s1"),
                F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
                F.max("x").cast("long").alias("max_hour")))
    return agg.select(
        F.col("et").alias("event_type"), "n_hours", "s1", "max_hour",
        F.expr("s1 * 1000000 DIV n_hours").cast("long")
        .alias("mean_ppm"),
        F.round((F.col("n_hours") * F.col("s2")
                 - F.col("s1") * F.col("s1")).cast("double")
                / ((F.col("n_hours") - 1) * F.col("s1")).cast("double"),
                6).alias("vmr"),
        F.round((F.col("n_hours") * F.col("s2")
                 - F.col("s1") * F.col("s1")).cast("double")
                / F.col("s1").cast("double"), 6).alias("chi_stat"),
        ((F.col("n_hours") * F.col("s2") - F.col("s1") * F.col("s1"))
         > (F.col("n_hours") - 1) * F.col("s1")).cast("int")
        .alias("overdispersed"))


def _sql_stats_dispersion() -> str:
    return """
WITH e AS (SELECT event_type AS et, date_trunc('hour', ts) AS h
           FROM events),
hourly AS (
  SELECT et, h, CAST(count(*) AS BIGINT) AS x FROM e GROUP BY 1, 2),
span AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
hours AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
  FROM span),
grid AS (SELECT t.et, hours.h
         FROM hours CROSS JOIN (SELECT DISTINCT et FROM e) t),
filled AS (
  SELECT g.et, CAST(coalesce(hourly.x, 0) AS BIGINT) AS x
  FROM grid g LEFT JOIN hourly ON hourly.et = g.et
                              AND hourly.h = g.h),
agg AS (
  SELECT et, CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(x) AS BIGINT) AS s1,
         CAST(sum(x * x) AS BIGINT) AS s2,
         CAST(max(x) AS BIGINT) AS max_hour
  FROM filled GROUP BY 1)
SELECT et AS event_type, n_hours, s1, max_hour,
       CAST(s1 * 1000000 // n_hours AS BIGINT) AS mean_ppm,
       round(CAST(n_hours * s2 - s1 * s1 AS DOUBLE)
             / CAST((n_hours - 1) * s1 AS DOUBLE), 6) AS vmr,
       round(CAST(n_hours * s2 - s1 * s1 AS DOUBLE)
             / CAST(s1 AS DOUBLE), 6) AS chi_stat,
       CAST(CASE WHEN n_hours * s2 - s1 * s1
                      > (n_hours - 1) * s1
            THEN 1 ELSE 0 END AS INT) AS overdispersed
FROM agg
"""


def q_stats_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-chart over the daily error rate [K: the SPC control chart an
    SRE/data-quality team keeps on a failure proportion — daily
    errors out of daily events against 3-sigma binomial limits around
    the corpus-wide center line, with VARYING daily n (each day gets
    its own limit width)]. The out-of-control test is EXACT INTEGER
    arithmetic end to end: |x/n - S/N| > 3*sqrt(pbar*(1-pbar)/n)
    cross-multiplies to (x*N - S*n)^2 > 9*S*(N-S)*n — no sqrt, no
    division, no float anywhere; the reported rates are exact ppm.

    Shape: one daily conditional hash agg on the corpus, one 1-row
    center-line agg broadcast back, one map-side integer fence.
    Nothing after the first agg is bigger than the calendar."""
    e = _tbl(spark, sf_dir, "events")
    daily = (e.select(F.to_date("ts").alias("day"),
                      (F.col("event_type") == "error").cast("long")
                      .alias("is_err"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("is_err").cast("long").alias("x")))
    tot = daily.agg(F.sum("n").cast("long").alias("big_n"),
                    F.sum("x").cast("long").alias("s"))
    j = daily.crossJoin(F.broadcast(tot))
    return (j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"), "n", "x",
        F.expr("x * 1000000 DIV n").cast("long").alias("rate_ppm"),
        F.expr("s * 1000000 DIV big_n").cast("long")
        .alias("center_ppm"),
        F.expr("CASE WHEN (x * big_n - s * n) * (x * big_n - s * n)"
               " > 9 * s * (big_n - s) * n THEN 1 ELSE 0 END")
        .cast("int").alias("out_of_control"),
        F.expr("CASE WHEN x * big_n > s * n THEN 'high'"
               " WHEN x * big_n < s * n THEN 'low'"
               " ELSE 'center' END").alias("side")))


def _sql_stats_control_chart() -> str:
    return """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events GROUP BY 1),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS big_n,
         CAST(sum(x) AS BIGINT) AS s
  FROM daily)
SELECT strftime(day, '%Y-%m-%d') AS day, n, x,
       CAST(x * 1000000 // n AS BIGINT) AS rate_ppm,
       CAST(s * 1000000 // big_n AS BIGINT) AS center_ppm,
       CAST(CASE WHEN (x * big_n - s * n) * (x * big_n - s * n)
                      > 9 * s * (big_n - s) * n
            THEN 1 ELSE 0 END AS INT) AS out_of_control,
       CASE WHEN x * big_n > s * n THEN 'high'
            WHEN x * big_n < s * n THEN 'low'
            ELSE 'center' END AS side
FROM daily CROSS JOIN tot
"""


def q_stats_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between two event streams at lags
    -7..+7 days [K: the lead/lag discovery read — 'do purchases drop
    N days AFTER error spikes?'; the CCF peak's lag is the causal-
    direction hint every ops postmortem wants]: daily error and
    purchase counts gap-filled over the common span, Pearson r at
    each lag from EXACT integer sums (n*Sxy - Sx*Sy over the two
    exact variance numerators, one double sqrt each at the end,
    round 6), the per-lag overlap length, and the is_peak flag
    (max r, ties allowed).

    Shape: one daily conditional agg on the corpus, a calendar-
    bounded gap-fill, a 15x bounded lag explode + self-join on the
    shifted day key, one per-lag agg. Only the first agg sees the
    corpus."""
    e = _tbl(spark, sf_dir, "events")
    daily = (e.select(F.to_date("ts").alias("day"), "event_type")
             .groupBy("day")
             .agg(F.sum((F.col("event_type") == CCF_TYPE_X)
                        .cast("long")).cast("long").alias("x"),
                  F.sum((F.col("event_type") == CCF_TYPE_Y)
                        .cast("long")).cast("long").alias("y")))
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(F.explode(F.expr("sequence(d0, d1)"))
                      .alias("day"))
    filled = (cal.join(daily, "day", "left")
              .select("day", F.coalesce("x", F.lit(0)).cast("long")
                      .alias("x"),
                      F.coalesce("y", F.lit(0)).cast("long")
                      .alias("y")))
    lags = spark.range(-CCF_MAX_LAG, CCF_MAX_LAG + 1) \
        .select(F.col("id").cast("int").alias("lg"))
    f1 = filled.select(F.col("day").alias("dx"), "x")
    f2 = filled.select(F.col("day").alias("dy"), "y")
    pr = (f1.crossJoin(F.broadcast(lags))
          .join(f2, F.col("dy") == F.expr("date_add(dx, lg)"))
          .groupBy("lg")
          .agg(F.count(F.lit(1)).cast("long").alias("n"),
               F.sum("x").cast("long").alias("sx"),
               F.sum("y").cast("long").alias("sy"),
               F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
               F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
               F.sum(F.col("x") * F.col("y")).cast("long")
               .alias("sxy")))
    r = pr.select(
        "lg", "n",
        F.round(F.when(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
               > 0),
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / (F.sqrt((F.col("n") * F.col("sxx")
                       - F.col("sx") * F.col("sx")).cast("double"))
               * F.sqrt((F.col("n") * F.col("syy")
                         - F.col("sy") * F.col("sy"))
                        .cast("double")))), 6).alias("r"))
    mx = r.agg(F.max("r").alias("r_max"))
    # NULL r (zero-variance lag) must flag 0 like the oracle's CASE,
    # not propagate NULL (ADVICE r4).
    return (r.crossJoin(F.broadcast(mx))
            .select(F.col("lg").alias("lag_days"), "n", "r",
                    F.when(F.col("r") == F.col("r_max"), F.lit(1))
                    .otherwise(F.lit(0)).alias("is_peak")))


def _sql_stats_ccf() -> str:
    return f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = '{CCF_TYPE_X}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = '{CCF_TYPE_Y}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
cal AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
              AS DATE) AS day
  FROM span),
filled AS (
  SELECT c.day, CAST(coalesce(d.x, 0) AS BIGINT) AS x,
         CAST(coalesce(d.y, 0) AS BIGINT) AS y
  FROM cal c LEFT JOIN daily d ON d.day = c.day),
lags AS (SELECT CAST(unnest(generate_series(-{CCF_MAX_LAG},
                                            {CCF_MAX_LAG})) AS INT)
           AS lg),
pr AS (
  SELECT lg, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(f1.x) AS BIGINT) AS sx,
         CAST(sum(f2.y) AS BIGINT) AS sy,
         CAST(sum(f1.x * f1.x) AS BIGINT) AS sxx,
         CAST(sum(f2.y * f2.y) AS BIGINT) AS syy,
         CAST(sum(f1.x * f2.y) AS BIGINT) AS sxy
  FROM filled f1 CROSS JOIN lags
  JOIN filled f2 ON f2.day = f1.day + CAST(lg AS INT)
  GROUP BY lg),
r AS (
  SELECT lg, n,
         round(CASE WHEN n * sxx - sx * sx > 0
                     AND n * syy - sy * sy > 0 THEN
               CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
               END, 6) AS r
  FROM pr),
mx AS (SELECT max(r) AS r_max FROM r)
SELECT lg AS lag_days, n, r,
       CAST(CASE WHEN r = r_max THEN 1 ELSE 0 END AS INT) AS is_peak
FROM r CROSS JOIN mx
"""


def q_stats_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-day inter-arrival statistics per event stream [K: the
    queueing read under the capacity model — exponential arrivals
    have mean ~= 1.44x median; heavy right tails (mean >> median)
    mean batching/retry storms]: per event_type the same-day gap
    count, exact doubled-integer MEDIAN gap in microseconds (the
    percentile idiom — no .9-interpolation, whose lerp formula
    differs across engines), exact mean (DIV), max, and the
    mean/median burstiness ratio in ppm. Gaps are computed WITHIN
    each (type, day) — the bounded-partition window shape; the
    cross-midnight gap is documented out of scope (at 10^12 events a
    per-day reduce is the only shape that doesn't totally order a
    whole stream).

    Shape: one (type, day)-partitioned lag window (bounded by a
    day's arrivals per type), one per-type agg. Deterministic
    ordering ties broken by event_id."""
    e = _tbl(spark, sf_dir, "events")
    s = e.select("event_type", F.to_date("ts").alias("day"),
                 F.unix_micros(F.col("ts").cast("timestamp"))
                 .alias("us"), "event_id")
    w = Window.partitionBy("event_type", "day") \
        .orderBy("us", "event_id")
    g = (s.withColumn("prev", F.lag("us").over(w))
         .filter(F.col("prev").isNotNull())
         .select("event_type",
                 (F.col("us") - F.col("prev")).cast("long")
                 .alias("gap")))
    agg = (g.groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"),
                F.expr("CAST(percentile(gap * 2, 0.5) AS BIGINT)")
                .alias("med2_us"),
                F.sum("gap").cast("long").alias("s_gap"),
                F.max("gap").cast("long").alias("max_us")))
    return agg.select(
        "event_type", "n_gaps", "med2_us",
        F.expr("s_gap DIV n_gaps").cast("long").alias("mean_us"),
        "max_us",
        F.expr("(s_gap DIV n_gaps) * 2000000"
               " DIV greatest(med2_us, 1)").cast("long")
        .alias("burstiness_ppm"))


def _sql_stats_interarrival() -> str:
    return """
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         epoch_us(ts) AS us, event_id
  FROM events),
g AS (
  SELECT event_type,
         CAST(us - lag(us) OVER (PARTITION BY event_type, day
                                 ORDER BY us, event_id) AS BIGINT)
           AS gap
  FROM s),
gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(quantile_cont(gap * 2, 0.5) AS BIGINT) AS med2_us,
         CAST(sum(gap) AS BIGINT) AS s_gap,
         CAST(max(gap) AS BIGINT) AS max_us
  FROM gg GROUP BY 1)
SELECT event_type, n_gaps, med2_us,
       CAST(s_gap // n_gaps AS BIGINT) AS mean_us, max_us,
       CAST((s_gap // n_gaps) * 2000000 // greatest(med2_us, 1)
            AS BIGINT) AS burstiness_ppm
FROM agg
"""


def q_stats_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half
    of the event span [K: PSI is THE industry drift metric for scored
    populations (credit, fraud, ranking features) — <0.1 stable,
    0.1-0.2 watch, >0.2 act; here applied to the event-value
    distribution so the monitor catches a payments mix shift]:
    power-of-two cent bins (exact bit-length, no libm log in the
    binning), Laplace +1 smoothing over the union bin set (the
    standard zero-cell guard, documented), per-bin contributions
    (pa-pb)*ln(pa/pb) from exact integer counts (round 6), and the
    total PSI as a DETERMINISTIC-ORDER fold over the bin-sorted
    contribution array (the rel_user_entropy idiom) with the >0.2
    action flag.

    Shape: one map-side bin projection + (half, bin) hash agg on the
    corpus; everything after is bin-cardinality-sized (<=64 rows).
    The midpoint split is a pure column predicate — one scan."""
    e = _tbl(spark, sf_dir, "events")
    span = e.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    s = (e.crossJoin(F.broadcast(span))
         .select(
             (F.unix_timestamp(F.col("ts").cast("timestamp"))
              * 2 >= F.unix_timestamp(F.col("t0").cast("timestamp"))
              + F.unix_timestamp(F.col("t1").cast("timestamp")))
             .cast("int").alias("half"),
             F.expr("CAST(round(coalesce(value, 0.0) * 100, 0)"
                    " AS BIGINT)").alias("cents"))
         .select("half",
                 (F.length(F.bin(F.greatest(F.col("cents"), F.lit(0))
                                 + 1)) - 1).cast("int").alias("bin")))
    c = (s.groupBy("bin")
         .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
              .cast("long").alias("c_a"),
              F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
              .cast("long").alias("c_b")))
    tot = c.agg(F.sum("c_a").cast("long").alias("na"),
                F.sum("c_b").cast("long").alias("nb"),
                F.count(F.lit(1)).cast("long").alias("n_bins"))
    k = (c.crossJoin(F.broadcast(tot))
         .withColumn("na_s", (F.col("na") + F.col("n_bins"))
                     .cast("long"))
         .withColumn("nb_s", (F.col("nb") + F.col("n_bins"))
                     .cast("long"))
         .withColumn("contrib", F.round(
             ((F.col("c_a") + 1).cast("double")
              / F.col("na_s").cast("double")
              - (F.col("c_b") + 1).cast("double")
              / F.col("nb_s").cast("double"))
             * F.log(((F.col("c_a") + 1).cast("double")
                      * F.col("nb_s").cast("double"))
                     / ((F.col("c_b") + 1).cast("double")
                        * F.col("na_s").cast("double"))), 6)))
    psi = k.agg(F.round(F.aggregate(
        F.sort_array(F.collect_list(
            F.struct(F.col("bin").alias("b"),
                     F.col("contrib").alias("ct")))),
        F.lit(0.0), lambda acc, x: acc + x.ct), 6).alias("psi"))
    return (k.crossJoin(F.broadcast(psi))
            .select("bin", "c_a", "c_b",
                    F.expr("(c_a + 1) * 1000000 DIV na_s")
                    .cast("long").alias("pa_ppm"),
                    F.expr("(c_b + 1) * 1000000 DIV nb_s")
                    .cast("long").alias("pb_ppm"),
                    "contrib", "psi",
                    (F.col("psi") > 0.2).cast("int")
                    .alias("action_flag")))


def _sql_stats_psi() -> str:
    return """
WITH span AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM events),
s AS (
  SELECT CAST(CASE WHEN CAST(epoch(date_trunc('second', ts))
                        AS BIGINT) * 2
                   >= CAST(epoch(date_trunc('second', t0)) AS BIGINT)
                    + CAST(epoch(date_trunc('second', t1)) AS BIGINT)
              THEN 1 ELSE 0 END AS INT) AS half,
         CAST(length(bin(greatest(
               CAST(round(coalesce(value, 0.0) * 100, 0) AS BIGINT),
               0) + 1)) - 1 AS INT) AS bin
  FROM events CROSS JOIN span),
c AS (
  SELECT bin,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS c_a,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS c_b
  FROM s GROUP BY 1),
tot AS (
  SELECT CAST(sum(c_a) AS BIGINT) AS na,
         CAST(sum(c_b) AS BIGINT) AS nb,
         CAST(count(*) AS BIGINT) AS n_bins
  FROM c),
k AS (
  SELECT bin, c_a, c_b,
         CAST(na + n_bins AS BIGINT) AS na_s,
         CAST(nb + n_bins AS BIGINT) AS nb_s,
         round((CAST(c_a + 1 AS DOUBLE) / CAST(na + n_bins AS DOUBLE)
                - CAST(c_b + 1 AS DOUBLE) / CAST(nb + n_bins AS DOUBLE))
               * ln((CAST(c_a + 1 AS DOUBLE)
                     * CAST(nb + n_bins AS DOUBLE))
                    / (CAST(c_b + 1 AS DOUBLE)
                       * CAST(na + n_bins AS DOUBLE))), 6) AS contrib
  FROM c CROSS JOIN tot),
psi AS (
  SELECT round(coalesce(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list(contrib ORDER BY bin),
                            x -> CAST(x AS DOUBLE))),
           (a, b) -> a + b), 0.0), 6) AS psi
  FROM k)
SELECT bin, c_a, c_b,
       CAST((c_a + 1) * 1000000 // na_s AS BIGINT) AS pa_ppm,
       CAST((c_b + 1) * 1000000 // nb_s AS BIGINT) AS pb_ppm,
       contrib, psi,
       CAST(CASE WHEN psi > 0.2 THEN 1 ELSE 0 END AS INT)
         AS action_flag
FROM k CROSS JOIN psi
"""


def q_stats_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-highs/lows test on the daily order series [K: the
    records test — under an exchangeable (trendless) series the
    expected number of running records is the harmonic number H_n
    (~ln n); materially more up-records means upward drift, more
    down-records means decay; it needs NO distributional assumption
    at all]: the observed strict record-high and record-low day
    counts (a day is a record iff it strictly beats every earlier
    day — integer ties kill records, documented), H_n computed by a
    DETERMINISTIC ascending fold over 1..n, and the up/down ratios
    in exact ppm.

    Shape: one distributed daily hash agg, a triangular broadcast
    self-join of the calendar-bounded daily table (the text_gini
    idiom — no running-max window), two O(1) aggs. Only the first
    agg sees the corpus."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    rec = (daily.alias("a").join(
        F.broadcast(daily.alias("b")),
        F.col("b.day") < F.col("a.day"), "left")
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.max(F.col("a.x")).cast("long").alias("x"),
             F.sum((F.col("b.x") >= F.col("a.x")).cast("long"))
             .alias("n_ge"),
             F.sum((F.col("b.x") <= F.col("a.x")).cast("long"))
             .alias("n_le")))
    cnt = rec.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum((F.coalesce("n_ge", F.lit(0)) == 0).cast("long"))
        .cast("long").alias("n_up_records"),
        F.sum((F.coalesce("n_le", F.lit(0)) == 0).cast("long"))
        .cast("long").alias("n_down_records"))
    return cnt.select(
        "n_days", "n_up_records", "n_down_records",
        F.round(F.aggregate(
            F.sequence(F.lit(1), F.col("n_days").cast("int")),
            F.lit(0.0),
            lambda acc, k: acc + F.lit(1.0) / k.cast("double")), 6)
        .alias("h_n"),
        F.expr("n_up_records * 1000000 DIV n_days").cast("long")
        .alias("up_ppm"),
        F.expr("n_down_records * 1000000 DIV n_days").cast("long")
        .alias("down_ppm"))


def _sql_stats_records() -> str:
    return """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
rec AS (
  SELECT a.day, max(a.x) AS x,
         sum(CASE WHEN b.x >= a.x THEN 1 ELSE 0 END) AS n_ge,
         sum(CASE WHEN b.x <= a.x THEN 1 ELSE 0 END) AS n_le
  FROM daily a LEFT JOIN daily b ON b.day < a.day
  GROUP BY a.day),
cnt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(CASE WHEN coalesce(n_ge, 0) = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_up_records,
         CAST(sum(CASE WHEN coalesce(n_le, 0) = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_down_records
  FROM rec)
SELECT n_days, n_up_records, n_down_records,
       round(coalesce(list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(generate_series(1, CAST(n_days AS INT)),
                          k -> 1.0 / CAST(k AS DOUBLE))),
         (a, b) -> a + b), 0.0), 6) AS h_n,
       CAST(n_up_records * 1000000 // n_days AS BIGINT) AS up_ppm,
       CAST(n_down_records * 1000000 // n_days AS BIGINT) AS down_ppm
FROM cnt
"""


def q_stats_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-MIX anomaly detection [K: volume monitors
    (stats_dispersion, stats_anomaly_days) miss days where the total
    held but the composition flipped — an outage that converts
    purchases into errors keeps the count and breaks the mix; the
    divergence of each day's event-type distribution from the corpus
    mix is the composition alarm]: per day the event count, the mix
    entropy in bits, the Jensen-Shannon divergence to the corpus mix
    (base-2, bounded [0,1]), and a >0.1-bit shift flag. Every
    cross-type sum folds in DETERMINISTIC event_type order (the
    rel_user_entropy idiom) — type cardinality is tiny, and the fixed
    order kills the float-sum-order hazard.

    Shape: one (day, type) hash agg on the corpus, one tiny type agg
    broadcast back, per-day bounded-array folds. Only the first agg
    sees the corpus."""
    e = _tbl(spark, sf_dir, "events")
    dt = (e.select(F.to_date("ts").alias("day"), "event_type")
          .groupBy("day", "event_type")
          .agg(F.count(F.lit(1)).cast("long").alias("c")))
    tot = (dt.groupBy("event_type")
           .agg(F.sum("c").cast("long").alias("tc")))
    ntot = tot.agg(F.sum("tc").cast("long").alias("n_all"))
    j = (dt.join(F.broadcast(tot), "event_type")
         .crossJoin(F.broadcast(ntot)))
    per = (j.groupBy("day")
           .agg(F.sum("c").cast("long").alias("n_day"),
                F.sort_array(F.collect_list(F.struct(
                    F.col("event_type").alias("t"),
                    F.col("c").alias("c"),
                    F.col("tc").alias("tc"),
                    F.col("n_all").alias("n_all")))).alias("arr")))
    # H(day) = log2(n) - (1/n) * sum c*log2(c), deterministic fold
    ent = F.round(
        F.log2(F.col("n_day").cast("double"))
        - F.aggregate(F.col("arr"), F.lit(0.0),
                      lambda a, x: a + x.c.cast("double")
                      * F.log2(x.c.cast("double")))
        / F.col("n_day").cast("double"), 6)

    # JSD(P_day || P_corpus), base 2: sum over the day's types of
    # p/2*log2(p/m) + corpus-side q/2*log2(q/m) with m=(p+q)/2 —
    # corpus types absent today contribute via the q-only branch.
    def _pq(x):
        p = x.c.cast("double") / F.col("n_day").cast("double")
        q = x.tc.cast("double") / x.n_all.cast("double")
        m = (p + q) / F.lit(2.0)
        return (p / F.lit(2.0) * F.log2(p / m)
                + q / F.lit(2.0) * F.log2(q / m))

    # types with c=0 today (q-only): handled by folding over ALL
    # corpus types — arr contains only present types, so add the
    # missing-type correction from a second fold over the corpus
    # type table joined as an array.
    jsd_present = F.aggregate(F.col("arr"), F.lit(0.0),
                              lambda a, x: a + _pq(x))
    per2 = (per.crossJoin(F.broadcast(
        tot.crossJoin(F.broadcast(ntot))
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("event_type").alias("t"),
            F.col("tc").alias("tc"),
            F.col("n_all").alias("n_all")))).alias("all_types")))))
    missing = F.filter(
        F.col("all_types"),
        lambda y: ~F.exists(F.col("arr"), lambda x: x.t == y.t))
    jsd_missing = F.aggregate(
        missing, F.lit(0.0),
        lambda a, y: a + (y.tc.cast("double")
                          / y.n_all.cast("double")) / F.lit(2.0)
        * F.lit(1.0))
    jsd = F.round(jsd_present + jsd_missing, 6)
    return (per2.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_day"), ent.alias("mix_entropy"),
        jsd.alias("jsd_bits"))
        .withColumn("shifted", (F.col("jsd_bits") > 0.1).cast("int")))


def _sql_stats_mix_shift() -> str:
    return """
WITH dt AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS tc FROM dt GROUP BY 1),
ntot AS (SELECT CAST(sum(tc) AS BIGINT) AS n_all FROM tot),
j AS (
  SELECT dt.day, dt.event_type, dt.c, tot.tc, ntot.n_all
  FROM dt JOIN tot USING (event_type) CROSS JOIN ntot),
per AS (
  SELECT day, CAST(sum(c) AS BIGINT) AS n_day,
         list(struct_pack(t := event_type, c := c, tc := tc,
                          n_all := n_all)
              ORDER BY event_type) AS arr
  FROM j GROUP BY day),
alltypes AS (
  SELECT list(struct_pack(t := event_type, tc := tc, n_all := n_all)
              ORDER BY event_type) AS all_types
  FROM tot CROSS JOIN ntot),
calc AS (
  SELECT day, n_day,
         round(log2(CAST(n_day AS DOUBLE))
               - coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(arr, x ->
                     CAST(x.c AS DOUBLE)
                     * log2(CAST(x.c AS DOUBLE)))),
                   (a, b) -> a + b), 0.0)
                 / CAST(n_day AS DOUBLE), 6) AS mix_entropy,
         round(coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(arr, x ->
                   (CAST(x.c AS DOUBLE) / CAST(n_day AS DOUBLE)) / 2.0
                   * log2((CAST(x.c AS DOUBLE) / CAST(n_day AS DOUBLE))
                          / ((CAST(x.c AS DOUBLE)
                              / CAST(n_day AS DOUBLE)
                              + CAST(x.tc AS DOUBLE)
                                / CAST(x.n_all AS DOUBLE)) / 2.0))
                   + (CAST(x.tc AS DOUBLE) / CAST(x.n_all AS DOUBLE))
                     / 2.0
                   * log2((CAST(x.tc AS DOUBLE) / CAST(x.n_all AS DOUBLE))
                          / ((CAST(x.c AS DOUBLE)
                              / CAST(n_day AS DOUBLE)
                              + CAST(x.tc AS DOUBLE)
                                / CAST(x.n_all AS DOUBLE)) / 2.0)))),
                 (a, b) -> a + b), 0.0)
               + coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(
                     list_filter(all_types, y ->
                       NOT list_has_any(
                         list_transform(arr, x -> x.t), [y.t])),
                     y -> (CAST(y.tc AS DOUBLE)
                           / CAST(y.n_all AS DOUBLE)) / 2.0 * 1.0)),
                   (a, b) -> a + b), 0.0), 6) AS jsd_bits
  FROM per CROSS JOIN alltypes)
SELECT strftime(day, '%Y-%m-%d') AS day, n_day, mix_entropy, jsd_bits,
       CAST(CASE WHEN jsd_bits > 0.1 THEN 1 ELSE 0 END AS INT)
         AS shifted
FROM calc
"""


def q_stats_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user event process [K: the predictability
    read — H(next|prev) from the bigram transition matrix vs the
    marginal H(next); a big gap means behavior is sequence-
    predictable (prefetch, cache, precompute the next screen), a
    tiny one means memoryless]: one row with the transition count,
    marginal next-entropy, prev-entropy, joint bigram entropy,
    conditional entropy H(next|prev) = H(joint) - H(prev), and the
    information gain H(next) - H(next|prev). Every entropy folds its
    c*log2(c) sum in DETERMINISTIC key order (bounded type
    vocabulary — the rel_user_entropy idiom); the joint key is
    prev||'|'||next (types contain no '|').

    Shape: one user-partitioned lag window, one (prev,next) hash agg
    (type-vocabulary-sized output), three ordered folds over that
    tiny table. Only the window sees the corpus."""
    e = _tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (e.select("user_id", "ts", "event_id",
                   F.col("event_type").alias("nxt"))
          .withColumn("prev", F.lag("nxt").over(w))
          .filter(F.col("prev").isNotNull())
          .groupBy("prev", "nxt")
          .agg(F.count(F.lit(1)).cast("long").alias("c")))

    def fold_ent(pairs_col):
        return F.aggregate(pairs_col, F.lit(0.0),
                           lambda a, x: a + x.c.cast("double")
                           * F.log2(x.c.cast("double")))

    agg = tr.agg(
        F.sum("c").cast("long").alias("n"),
        F.sort_array(F.collect_list(F.struct(
            F.concat_ws("|", "prev", "nxt").alias("k"),
            F.col("c").alias("c")))).alias("joint"))
    prev_m = (tr.groupBy("prev").agg(F.sum("c").cast("long").alias("c"))
              .agg(F.sort_array(F.collect_list(F.struct(
                  F.col("prev").alias("k"), F.col("c").alias("c"))))
                  .alias("arr")))
    nxt_m = (tr.groupBy("nxt").agg(F.sum("c").cast("long").alias("c"))
             .agg(F.sort_array(F.collect_list(F.struct(
                 F.col("nxt").alias("k"), F.col("c").alias("c"))))
                 .alias("arr")))
    j = (agg.crossJoin(F.broadcast(prev_m.select(
        F.col("arr").alias("prevm"))))
        .crossJoin(F.broadcast(nxt_m.select(
            F.col("arr").alias("nxtm")))))
    ln = F.log2(F.col("n").cast("double"))
    nd = F.col("n").cast("double")
    h_joint = F.round(ln - fold_ent(F.col("joint")) / nd, 6)
    h_prev = F.round(ln - fold_ent(F.col("prevm")) / nd, 6)
    h_next = F.round(ln - fold_ent(F.col("nxtm")) / nd, 6)
    return j.select(
        F.col("n").alias("n_trans"),
        h_next.alias("h_next"), h_prev.alias("h_prev"),
        h_joint.alias("h_joint"),
        F.round(h_joint - h_prev, 6).alias("h_cond"),
        F.round(h_next - (h_joint - h_prev), 6).alias("info_gain"))


def _sql_stats_entropy_rate() -> str:
    fold = ("coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            " list_transform({src}, x -> CAST(x.c AS DOUBLE)"
            " * log2(CAST(x.c AS DOUBLE)))), (a, b) -> a + b), 0.0)")
    return f"""
WITH s AS (
  SELECT event_type AS nxt,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
tr AS (
  SELECT prev, nxt, CAST(count(*) AS BIGINT) AS c
  FROM s WHERE prev IS NOT NULL GROUP BY 1, 2),
joint AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         list(struct_pack(k := prev || '|' || nxt, c := c)
              ORDER BY prev || '|' || nxt) AS arr
  FROM tr),
prevm AS (
  SELECT list(struct_pack(k := prev, c := c) ORDER BY prev) AS arr
  FROM (SELECT prev, CAST(sum(c) AS BIGINT) AS c FROM tr GROUP BY 1)),
nxtm AS (
  SELECT list(struct_pack(k := nxt, c := c) ORDER BY nxt) AS arr
  FROM (SELECT nxt, CAST(sum(c) AS BIGINT) AS c FROM tr GROUP BY 1))
SELECT joint.n AS n_trans,
       round(log2(CAST(n AS DOUBLE))
             - {fold.format(src='nxtm.arr')} / CAST(n AS DOUBLE), 6)
         AS h_next,
       round(log2(CAST(n AS DOUBLE))
             - {fold.format(src='prevm.arr')} / CAST(n AS DOUBLE), 6)
         AS h_prev,
       round(log2(CAST(n AS DOUBLE))
             - {fold.format(src='joint.arr')} / CAST(n AS DOUBLE), 6)
         AS h_joint,
       round(round(log2(CAST(n AS DOUBLE))
                   - {fold.format(src='joint.arr')}
                     / CAST(n AS DOUBLE), 6)
             - round(log2(CAST(n AS DOUBLE))
                     - {fold.format(src='prevm.arr')}
                       / CAST(n AS DOUBLE), 6), 6) AS h_cond,
       round(round(log2(CAST(n AS DOUBLE))
                   - {fold.format(src='nxtm.arr')}
                     / CAST(n AS DOUBLE), 6)
             - (round(log2(CAST(n AS DOUBLE))
                      - {fold.format(src='joint.arr')}
                        / CAST(n AS DOUBLE), 6)
                - round(log2(CAST(n AS DOUBLE))
                        - {fold.format(src='prevm.arr')}
                          / CAST(n AS DOUBLE), 6)), 6) AS info_gain
FROM joint CROSS JOIN prevm CROSS JOIN nxtm
"""


def q_stats_transition_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-dynamics drift: exact L1 distance between the bigram
    transition distributions of the first and second half of the
    span [K: composition monitors (stats_psi, stats_mix_shift) watch
    WHAT happens; this watches what-FOLLOWS-what — a bot that keeps
    the event mix but loops a fixed sequence flips exactly this
    matrix]: per (prev,next) pair the half-counts and probabilities
    in exact ppm, and the total L1 computed with ZERO floats — the
    common-denominator identity sum|c1*N2 - c2*N1| * 1e6 DIV (N1*N2)
    (BIGINT-safe to ~1e9 transitions per half; beyond that, divide
    first — documented).

    Shape: one user-partitioned lag window, one (prev,next) hash agg
    with conditional half-sums (type-vocabulary-sized), one 1-row
    exact agg broadcast back. Only the window sees the corpus."""
    e = _tbl(spark, sf_dir, "events")
    span = e.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (e.crossJoin(F.broadcast(span))
          .select("user_id", "ts", "event_id",
                  F.col("event_type").alias("nxt"),
                  (F.unix_timestamp(F.col("ts").cast("timestamp")) * 2
                   >= F.unix_timestamp(F.col("t0").cast("timestamp"))
                   + F.unix_timestamp(F.col("t1").cast("timestamp")))
                  .cast("int").alias("half"))
          .withColumn("prev", F.lag("nxt").over(w))
          .filter(F.col("prev").isNotNull())
          .groupBy("prev", "nxt")
          .agg(F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
               .cast("long").alias("c1"),
               F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
               .cast("long").alias("c2")))
    tot = tr.agg(F.sum("c1").cast("long").alias("n1"),
                 F.sum("c2").cast("long").alias("n2"))
    k = tr.crossJoin(F.broadcast(tot))
    l1 = k.agg(F.sum(F.abs(F.col("c1") * F.col("n2")
                           - F.col("c2") * F.col("n1")))
               .cast("long").alias("num"),
               F.max(F.col("n1") * F.col("n2")).cast("long")
               .alias("den"))
    return (k.crossJoin(F.broadcast(l1))
            .select("prev", "nxt", "c1", "c2",
                    F.expr("c1 * 1000000 DIV greatest(n1, 1)")
                    .cast("long").alias("p1_ppm"),
                    F.expr("c2 * 1000000 DIV greatest(n2, 1)")
                    .cast("long").alias("p2_ppm"),
                    F.expr("num * 1000000 DIV greatest(den, 1)")
                    .cast("long").alias("l1_ppm"),
                    F.expr("CASE WHEN num * 1000000"
                           " DIV greatest(den, 1) > 200000"
                           " THEN 1 ELSE 0 END").cast("int")
                    .alias("drifted")))


def _sql_stats_transition_drift() -> str:
    return """
WITH span AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM events),
s AS (
  SELECT user_id, ts, event_id, event_type AS nxt,
         CAST(CASE WHEN CAST(epoch(date_trunc('second', ts))
                        AS BIGINT) * 2
                   >= CAST(epoch(date_trunc('second', t0)) AS BIGINT)
                    + CAST(epoch(date_trunc('second', t1)) AS BIGINT)
              THEN 1 ELSE 0 END AS INT) AS half
  FROM events CROSS JOIN span),
l AS (
  SELECT half, nxt,
         lag(nxt) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS prev
  FROM s),
tr AS (
  SELECT prev, nxt,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS c1,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS c2
  FROM l WHERE prev IS NOT NULL GROUP BY 1, 2),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2
  FROM tr),
l1 AS (
  SELECT CAST(sum(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS num,
         CAST(max(n1 * n2) AS BIGINT) AS den
  FROM tr CROSS JOIN tot)
SELECT prev, nxt, c1, c2,
       CAST(c1 * 1000000 // greatest(n1, 1) AS BIGINT) AS p1_ppm,
       CAST(c2 * 1000000 // greatest(n2, 1) AS BIGINT) AS p2_ppm,
       CAST(num * 1000000 // greatest(den, 1) AS BIGINT) AS l1_ppm,
       CAST(CASE WHEN num * 1000000 // greatest(den, 1) > 200000
            THEN 1 ELSE 0 END AS INT) AS drifted
FROM tr CROSS JOIN tot CROSS JOIN l1
"""


def q_stats_circadian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circadian concentration per event stream [K: the bot-vs-human
    rhythm read — human activity peaks in a daily cycle (high mean
    resultant length R), scripted traffic is flat (R ~ 0) or
    hyper-peaked cron spikes; abuse triage reads exactly this
    circular statistic]: per event_type the event count, the modal
    hour and its share, and the mean resultant length R in ppm —
    computed from EXACT nano-unit integer cos/sin sums (the 24 trig
    constants are Python-generated literals shared verbatim by both
    engines; only the final sqrt is floating point).

    Shape: one (type, hour) hash agg on the corpus, a 24-entry
    broadcast trig join, one per-type agg. Exact integers until the
    last sqrt."""
    e = _tbl(spark, sf_dir, "events")
    hh = (e.select(F.col("event_type").alias("et"),
                   F.hour("ts").cast("int").alias("h"))
          .groupBy("et", "h")
          .agg(F.count(F.lit(1)).cast("long").alias("c")))
    trig = spark.createDataFrame(
        [(h, CIRCADIAN_COS_NANO[h], CIRCADIAN_SIN_NANO[h])
         for h in range(24)], "h int, cn long, sn long")
    j = hh.join(F.broadcast(trig), "h")
    per = (j.groupBy("et")
           .agg(F.sum("c").cast("long").alias("n"),
                F.sum(F.col("c") * F.col("cn")).cast("long")
                .alias("cx"),
                F.sum(F.col("c") * F.col("sn")).cast("long")
                .alias("cy"),
                F.max(F.struct(F.col("c"), (-F.col("h")).alias("nh")))
                .alias("peak")))
    return per.select(
        F.col("et").alias("event_type"), "n",
        (-F.col("peak.nh")).cast("int").alias("peak_hour"),
        F.expr("peak.c * 1000000 DIV n").cast("long")
        .alias("peak_share_ppm"),
        F.expr("CAST(round(sqrt(CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE)"
               " + CAST(cy AS DOUBLE) * CAST(cy AS DOUBLE))"
               " / (CAST(n AS DOUBLE) * 1000.0), 0) AS BIGINT)")
        .alias("r_ppm"))


def _sql_stats_circadian() -> str:
    rows = ", ".join(
        f"({h}, {CIRCADIAN_COS_NANO[h]}, {CIRCADIAN_SIN_NANO[h]})"
        for h in range(24))
    return f"""
WITH trig(h, cn, sn) AS (VALUES {rows}),
hh AS (
  SELECT event_type AS et, CAST(hour(ts) AS INT) AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
j AS (SELECT et, hh.h, c, cn, sn FROM hh JOIN trig ON trig.h = hh.h),
per AS (
  SELECT et, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * cn) AS BIGINT) AS cx,
         CAST(sum(c * sn) AS BIGINT) AS cy,
         first(h ORDER BY c DESC, h ASC) AS peak_hour,
         CAST(max(c) AS BIGINT) AS peak_c
  FROM j GROUP BY 1)
SELECT et AS event_type, n, CAST(peak_hour AS INT) AS peak_hour,
       CAST(peak_c * 1000000 // n AS BIGINT) AS peak_share_ppm,
       CAST(round(sqrt(CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE)
                       + CAST(cy AS DOUBLE) * CAST(cy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * 1000.0), 0) AS BIGINT)
         AS r_ppm
FROM per
"""


def q_stats_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over user lifetimes [K: THE
    censoring-aware retention curve — naive 'average lifetime'
    understates retention because users still active at the
    observation edge haven't died yet; KM multiplies (1 - d/n) over
    event times and handles exactly that]: lifetime = days between a
    user's first and last active day, DEATH if the user has been
    silent for > 14 days at corpus end, CENSORED otherwise; per
    distinct lifetime the at-risk count, deaths, censored, and the
    KM survival estimate S(t) — a DETERMINISTIC ascending-time fold
    over the calendar-bounded lifetime table (the product, like the
    entropy sums, must not be a hash-agg float reduction).

    Shape: one (user) agg from the (user,day) distinct, one tiny
    per-lifetime agg, cumulative at-risk via the triangular
    broadcast idiom, one ordered product fold. Only the first agg
    sees the corpus."""
    e = _tbl(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    gmax = ud.agg(F.max("day").alias("gday"))
    life = (ud.groupBy("user_id")
            .agg(F.min("day").alias("fd"), F.max("day").alias("ld"))
            .crossJoin(F.broadcast(gmax))
            .select(F.datediff("ld", "fd").cast("long").alias("t"),
                    (F.datediff("gday", "ld")
                     > SURVIVAL_CENSOR_DAYS).cast("int").alias("dead")))
    per = (life.groupBy("t")
           .agg(F.sum("dead").cast("long").alias("d"),
                F.sum(1 - F.col("dead")).cast("long").alias("c")))
    # at risk at t = all users with lifetime >= t
    risk = (per.alias("a").join(F.broadcast(per.alias("b")),
                                F.col("b.t") >= F.col("a.t"))
            .groupBy(F.col("a.t").alias("t"))
            .agg(F.max(F.col("a.d")).cast("long").alias("d"),
                 F.max(F.col("a.c")).cast("long").alias("c"),
                 F.sum(F.col("b.d") + F.col("b.c")).cast("long")
                 .alias("n_risk")))
    # S(t) = prod over t' <= t with d>0 of (1 - d/n): ordered fold
    km = (risk.agg(F.sort_array(F.collect_list(F.struct(
        F.col("t"), F.col("d"), F.col("n_risk")))).alias("arr")))
    joined = risk.crossJoin(F.broadcast(km))
    surv = F.round(F.aggregate(
        F.filter(F.col("arr"),
                 lambda x: (x.t <= F.col("t")) & (x.d > 0)),
        F.lit(1.0),
        lambda acc, x: acc * (F.lit(1.0) - x.d.cast("double")
                              / x.n_risk.cast("double"))), 6)
    return joined.select("t", "n_risk", "d", "c",
                         surv.alias("s_km"))


def _sql_stats_survival() -> str:
    return f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
gmax AS (SELECT max(day) AS gday FROM ud),
life AS (
  SELECT CAST(datediff('day', fd, ld) AS BIGINT) AS t,
         CAST(CASE WHEN datediff('day', ld, gday)
                        > {SURVIVAL_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS INT) AS dead
  FROM (SELECT user_id, min(day) AS fd, max(day) AS ld
        FROM ud GROUP BY 1) CROSS JOIN gmax),
per AS (
  SELECT t, CAST(sum(dead) AS BIGINT) AS d,
         CAST(sum(1 - dead) AS BIGINT) AS c
  FROM life GROUP BY 1),
risk AS (
  SELECT a.t, max(a.d) AS d, max(a.c) AS c,
         CAST(sum(b.d + b.c) AS BIGINT) AS n_risk
  FROM per a JOIN per b ON b.t >= a.t
  GROUP BY a.t),
km AS (
  SELECT list(struct_pack(t := t, d := d, n_risk := n_risk)
              ORDER BY t) AS arr
  FROM risk)
SELECT r.t, r.n_risk, r.d, r.c,
       round(coalesce(list_reduce(
         list_prepend(CAST(1.0 AS DOUBLE),
           list_transform(
             list_filter(arr, x -> x.t <= r.t AND x.d > 0),
             x -> 1.0 - CAST(x.d AS DOUBLE)
                  / CAST(x.n_risk AS DOUBLE))),
         (a, b) -> a * b), 1.0), 6) AS s_km
FROM risk r CROSS JOIN km
"""


def q_stats_qq_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile QQ-shift table between the two halves of the daily
    series [K: PSI (stats_psi) bins by VALUE and can alias; the
    quantile-by-quantile comparison reads WHERE the distribution
    moved — a pure location shift moves every decile equally, a tail
    event moves only the top]: per decile the TYPE-1 (lower order
    statistic — no interpolation, whose lerp formula is the known
    cross-engine hazard) daily-count quantile of each half and the
    delta in exact per-mille of the first half's median.

    Shape: one daily hash agg split by the span midpoint, a
    triangular broadcast rank on the calendar-bounded halves, a
    9-row decile join. Exact integers end to end."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    lab = (daily.crossJoin(F.broadcast(span))
           .select("x", (F.datediff("day", "d0") * 2
                         >= F.datediff("d1", "d0")).cast("int")
                   .alias("half")))
    per = (lab.groupBy("half", "x")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    cum = (per.alias("p").join(
        F.broadcast(per.alias("q")),
        (F.col("q.half") == F.col("p.half"))
        & (F.col("q.x") <= F.col("p.x")))
        .groupBy(F.col("p.half").alias("half"),
                 F.col("p.x").alias("x"))
        .agg(F.sum(F.col("q.c")).cast("long").alias("cum")))
    tot = (per.groupBy("half")
           .agg(F.sum("c").cast("long").alias("n")))
    ds = spark.createDataFrame([(d,) for d in QQ_DECILES], "pct int")
    # type-1 quantile: smallest x with cum*100 >= pct*n
    qv = (cum.join(F.broadcast(tot), "half")
          .crossJoin(F.broadcast(ds))
          .filter(F.col("cum") * 100 >= F.col("pct") * F.col("n"))
          .groupBy("half", "pct")
          .agg(F.min("x").cast("long").alias("qx")))
    h0 = qv.filter(F.col("half") == 0).select(
        "pct", F.col("qx").alias("q_first"))
    h1 = qv.filter(F.col("half") == 1).select(
        "pct", F.col("qx").alias("q_second"))
    med0 = h0.filter(F.col("pct") == 50).select(
        F.col("q_first").alias("m0"))
    return (h0.join(h1, "pct").crossJoin(F.broadcast(med0))
            .select("pct", "q_first", "q_second",
                    (F.col("q_second") - F.col("q_first")).cast("long")
                    .alias("delta"),
                    F.expr("(q_second - q_first) * 1000"
                           " DIV greatest(m0, 1)").cast("long")
                    .alias("delta_permille_of_med")))


def _sql_stats_qq_shift() -> str:
    ds = ", ".join(f"({d})" for d in QQ_DECILES)
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
lab AS (
  SELECT x, CAST(CASE WHEN datediff('day', d0, day) * 2
                      >= datediff('day', d0, d1)
                 THEN 1 ELSE 0 END AS INT) AS half
  FROM daily CROSS JOIN span),
per AS (
  SELECT half, x, CAST(count(*) AS BIGINT) AS c
  FROM lab GROUP BY 1, 2),
cum AS (
  SELECT p.half, p.x, CAST(sum(q.c) AS BIGINT) AS cum
  FROM per p JOIN per q ON q.half = p.half AND q.x <= p.x
  GROUP BY 1, 2),
tot AS (SELECT half, CAST(sum(c) AS BIGINT) AS n FROM per GROUP BY 1),
ds(pct) AS (VALUES {ds}),
qv AS (
  SELECT cum.half, pct, CAST(min(x) AS BIGINT) AS qx
  FROM cum JOIN tot USING (half) CROSS JOIN ds
  WHERE cum * 100 >= pct * n
  GROUP BY 1, 2),
h0 AS (SELECT pct, qx AS q_first FROM qv WHERE half = 0),
h1 AS (SELECT pct, qx AS q_second FROM qv WHERE half = 1),
med0 AS (SELECT q_first AS m0 FROM h0 WHERE pct = 50)
SELECT pct, q_first, q_second,
       CAST(q_second - q_first AS BIGINT) AS delta,
       CAST((q_second - q_first) * 1000 // greatest(m0, 1) AS BIGINT)
         AS delta_permille_of_med
FROM h0 JOIN h1 USING (pct) CROSS JOIN med0
"""


def q_stats_longmemory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-memory (Hurst) read on the daily series via the
    aggregated-variance method [K: if daily volumes have long-range
    dependence, variance of m-day block MEANS decays like m^(2H-2)
    instead of 1/m — H near 1 means shocks persist for weeks and
    capacity buffers sized from daily sigma are wrong; the
    block-variance ladder is the standard estimator]: per dyadic
    block size m in {4,8,16} the complete-block count, the exact
    integer variance numerator of block SUMS, the block-mean
    variance (round 6), and the Hurst estimate from the adjacent
    size pair H = 1 + log2(var(2m)/var(m))/2 (NULL on the first
    row).

    Shape: one daily agg, a calendar gap-fill, three bounded
    (blk) -> sum aggs, a 3-row ladder self-join. Exact integers
    until the final divisions."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    filled = (span.select(F.explode(F.expr("sequence(d0, d1)"))
                          .alias("day"))
              .join(daily, "day", "left")
              .crossJoin(F.broadcast(span))
              .select(F.coalesce("x", F.lit(0)).cast("long").alias("x"),
                      F.datediff("day", "d0").cast("long").alias("i")))
    outs = []
    for m in LONGMEM_BLOCKS:
        blocks = (filled.withColumn("blk", F.expr(f"i DIV {m}"))
                  .groupBy("blk")
                  .agg(F.count(F.lit(1)).cast("long").alias("c"),
                       F.sum("x").cast("long").alias("s"))
                  .filter(F.col("c") == m))
        agg = blocks.agg(
            F.lit(m).cast("int").alias("m"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum("s").cast("long").alias("s1"),
            F.sum(F.col("s") * F.col("s")).cast("long").alias("s2"))
        outs.append(agg.select(
            "m", "n_blocks",
            (F.col("n_blocks") * F.col("s2")
             - F.col("s1") * F.col("s1")).cast("long")
            .alias("var_num"),
            # block-MEAN variance = var_num / (n*(n-1)*m^2)
            F.round((F.col("n_blocks") * F.col("s2")
                     - F.col("s1") * F.col("s1")).cast("double")
                    / (F.col("n_blocks").cast("double")
                       * (F.col("n_blocks") - 1).cast("double")
                       * F.lit(float(m * m))), 6).alias("var_mean")))
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    prev = out.select(F.col("m").alias("pm"),
                      F.col("var_mean").alias("prev_var"))
    return (out.join(F.broadcast(prev),
                     out["m"] == prev["pm"] * 2, "left")
            .select("m", "n_blocks", "var_num", "var_mean",
                    F.round(F.lit(1.0)
                            + F.log2(F.col("var_mean")
                                     / F.col("prev_var")) / F.lit(2.0),
                            6).alias("hurst_est")))


def _sql_stats_longmemory() -> str:
    blocks = []
    for m in LONGMEM_BLOCKS:
        blocks.append(f"""
SELECT {m} AS m, CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(count(*) * sum(s * s) - sum(s) * sum(s) AS BIGINT)
         AS var_num,
       round(CAST(count(*) * sum(s * s) - sum(s) * sum(s) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE)
                * CAST(count(*) - 1 AS DOUBLE) * {float(m * m)}), 6)
         AS var_mean
FROM (SELECT i // {m} AS blk, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(x) AS BIGINT) AS s
      FROM filled GROUP BY 1)
WHERE c = {m}""")
    body = "\nUNION ALL\n".join(blocks)
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
filled AS (
  SELECT CAST(coalesce(daily.x, 0) AS BIGINT) AS x,
         CAST(datediff('day', d0, c.day) AS BIGINT) AS i
  FROM (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
               AS DATE) AS day, d0
        FROM span) c
  LEFT JOIN daily ON daily.day = c.day),
base AS (
{body})
SELECT b.m, b.n_blocks, b.var_num, b.var_mean,
       round(1.0 + log2(b.var_mean / p.var_mean) / 2.0, 6)
         AS hurst_est
FROM base b LEFT JOIN base p ON b.m = p.m * 2
"""


def q_stats_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM sequential changepoint monitor on the daily
    series [K: the offline split test (rel_changepoint) finds ONE
    break after the fact; Page's one-sided CUSUM with reset is the
    ONLINE monitor — it accumulates only above-slack deviations,
    resets at zero, and alarms when the sum crosses h; ops teams run
    exactly this on daily volume]: per day the raw count, the upper
    and lower CUSUM statistics in exact DOUBLED-count units
    (reference mu = corpus median via the doubled idiom, slack k =
    MAD/2, threshold h = 5*MAD — all exact integers; the recurrence
    max(0, S + x - mu - k) folds over the calendar-bounded day array
    in date order), and the alarm flags.

    Shape: one daily agg, two O(1) percentile aggs, ONE ordered fold
    producing the full alarm series as an array, re-exploded with
    its index. Only the first agg sees the corpus."""
    o = _tbl(spark, sf_dir, "orders")
    daily = (o.select(F.to_date("o_orderdate").alias("day"))
             .groupBy("day")
             .agg(F.count(F.lit(1)).cast("long").alias("x")))
    m1 = daily.agg(F.expr("CAST(percentile(x * 2, 0.5) AS BIGINT)")
                   .alias("med2"))
    dv = (daily.crossJoin(F.broadcast(m1))
          .withColumn("dev2", F.abs(2 * F.col("x") - F.col("med2"))))
    m2 = dv.agg(F.expr("CAST(percentile(2 * dev2, 0.5) AS BIGINT)")
                .alias("mad4"))
    arr = (dv.crossJoin(F.broadcast(m2))
           .groupBy("med2", "mad4")
           .agg(F.sort_array(F.collect_list(F.struct(
               "day", "x"))).alias("days")))
    # scale everything x4: x4 = 4x, mu4 = 2*med2, k4 = mad4/2 -> use
    # 8x units to keep k integral: x8 = 8x, mu8 = 4*med2, k8 = mad4,
    # h8 = 10*mad4
    folded = arr.select(
        "med2", "mad4",
        F.expr(
            "aggregate(days, "
            " named_struct('su', CAST(0 AS BIGINT),"
            "              'sl', CAST(0 AS BIGINT),"
            "              'out', CAST(array() AS"
            "   ARRAY<STRUCT<day: DATE, x: BIGINT, su: BIGINT,"
            "                sl: BIGINT>>)),"
            " (acc, d) -> named_struct("
            "   'su', greatest(CAST(0 AS BIGINT),"
            "         acc.su + 8 * d.x - 4 * med2 - mad4),"
            "   'sl', greatest(CAST(0 AS BIGINT),"
            "         acc.sl - 8 * d.x + 4 * med2 - mad4),"
            "   'out', concat(acc.out, array(named_struct("
            "     'day', d.day, 'x', d.x,"
            "     'su', greatest(CAST(0 AS BIGINT),"
            "           acc.su + 8 * d.x - 4 * med2 - mad4),"
            "     'sl', greatest(CAST(0 AS BIGINT),"
            "           acc.sl - 8 * d.x + 4 * med2 - mad4))))),"
            " acc -> acc.out)").alias("out"))
    ex = folded.select("med2", "mad4",
                       F.explode("out").alias("r"))
    return ex.select(
        F.date_format(F.col("r.day"), "yyyy-MM-dd").alias("day"),
        F.col("r.x").cast("long").alias("x"),
        F.col("r.su").cast("long").alias("cusum_up8"),
        F.col("r.sl").cast("long").alias("cusum_dn8"),
        (F.col("r.su") > 10 * F.col("mad4")).cast("int")
        .alias("alarm_up"),
        (F.col("r.sl") > 10 * F.col("mad4")).cast("int")
        .alias("alarm_dn"))


def _sql_stats_cusum() -> str:
    return """
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
m1 AS (SELECT CAST(quantile_cont(x * 2, 0.5) AS BIGINT) AS med2
       FROM daily),
dv AS (SELECT day, x, abs(2 * x - med2) AS dev2, med2
       FROM daily CROSS JOIN m1),
m2 AS (SELECT CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
       FROM dv),
di AS (
  SELECT row_number() OVER (ORDER BY day) AS i, day, x, med2, mad4
  FROM dv CROSS JOIN m2),
rec AS (
  SELECT i, day, x, med2, mad4,
         greatest(CAST(0 AS BIGINT), 8 * x - 4 * med2 - mad4) AS su,
         greatest(CAST(0 AS BIGINT), -8 * x + 4 * med2 - mad4) AS sl
  FROM di WHERE i = 1
  UNION ALL
  SELECT d.i, d.day, d.x, d.med2, d.mad4,
         greatest(CAST(0 AS BIGINT),
                  r.su + 8 * d.x - 4 * d.med2 - d.mad4),
         greatest(CAST(0 AS BIGINT),
                  r.sl - 8 * d.x + 4 * d.med2 - d.mad4)
  FROM rec r JOIN di d ON d.i = r.i + 1)
SELECT strftime(day, '%Y-%m-%d') AS day, x,
       CAST(su AS BIGINT) AS cusum_up8,
       CAST(sl AS BIGINT) AS cusum_dn8,
       CAST(CASE WHEN su > 10 * mad4 THEN 1 ELSE 0 END AS INT)
         AS alarm_up,
       CAST(CASE WHEN sl > 10 * mad4 THEN 1 ELSE 0 END AS INT)
         AS alarm_dn
FROM rec
"""
