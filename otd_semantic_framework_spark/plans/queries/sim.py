"""Driver queries: `sim` domain."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from ._shared import *  # noqa: F401,F403


def q_sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k with pure higher-order functions
    (JVM-side — SURVEY §2B array fns; the scale path is the LSH variant)."""
    e = _tbl(spark, sf_dir, "embeddings")
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("qid"), dbl("embedding").alias("qv")))
    c = (e.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("cid"), dbl("embedding").alias("cv")))
    dot = F.aggregate(F.zip_with("qv", "cv", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    norm = lambda col: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(col), lambda x: x * x), F.lit(0.0), lambda a, v: a + v))
    sim = (q.crossJoin(F.broadcast(c))
           .withColumn("cos", F.round(dot / (norm("qv") * norm("cv")), 6)))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (sim.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= SIM_TOP_K)
            .select("qid", "cid", "cos", "rk"))


SQL_SIM_TOPK = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id >= {N_QUERY_VECS}),
pairs AS (
  SELECT q.qid, c.cid,
         round(
           (SELECT sum(cast(x AS DOUBLE) * cast(y AS DOUBLE))
            FROM (SELECT unnest(q.qv) AS x, unnest(c.cv) AS y))
           / (sqrt((SELECT sum(cast(x AS DOUBLE) * cast(x AS DOUBLE)) FROM (SELECT unnest(q.qv) AS x)))
              * sqrt((SELECT sum(cast(y AS DOUBLE) * cast(y AS DOUBLE)) FROM (SELECT unnest(c.cv) AS y)))),
           6) AS cos
  FROM q CROSS JOIN c
)
SELECT qid, cid, cos, rk FROM (
  SELECT qid, cid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rk
  FROM pairs
) WHERE rk <= {SIM_TOP_K}
"""

def _sql_vec_lit(vec) -> str:
    return "[" + ",".join(repr(float(x)) for x in vec) + "]"


def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN. Paired: the hyperplanes are deterministic
    hash-derived constants, so DuckDB recomputes the identical sign
    buckets via list_dot_product with the plane vectors as literals
    (decision margins are ~1e-4, far above float noise)."""
    from ...operators.simsearch import ann_lsh_topk
    e = _tbl(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")))
    c = (e.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")))
    return ann_lsh_topk(q, c, k=ANN_K, n_planes=ANN_N_PLANES)


def _sql_sim_ann_lsh() -> str:
    from ...operators.simsearch import hyperplanes
    planes = hyperplanes(ANN_N_PLANES, 64)

    def bucket(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({col}, {_sql_vec_lit(p)}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes))

    return f"""
WITH q AS (SELECT vec_id AS qid, cast(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
c AS (SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id >= {N_QUERY_VECS}),
qb AS (SELECT qid, qv, {bucket('qv')} AS bucket FROM q),
cb AS (SELECT cid, cv, {bucket('cv')} AS bucket FROM c),
pairs AS (
  SELECT qb.qid, cb.cid,
         round(list_cosine_similarity(qb.qv, cb.cv), 6) AS cos
  FROM qb JOIN cb USING (bucket)
)
SELECT qid, cid, cos, rk FROM (
  SELECT qid, cid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rk
  FROM pairs
) WHERE rk <= {ANN_K}
"""


def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN. Paired: centroids are deterministic constants;
    cell assignment (argmax dot, first-wins ties) and n_probe cell
    selection (stable argsort) replay in SQL as rank-over-unpivoted
    dot products with index tie-break."""
    from ...operators.simsearch import ann_ivf_topk
    e = _tbl(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")))
    c = (e.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")))
    return ann_ivf_topk(q, c, k=ANN_K, n_cells=IVF_N_CELLS,
                        n_probe=IVF_N_PROBE)


def _sql_sim_ann_ivf(k: int = ANN_K) -> str:
    from ...operators.simsearch import ivf_centroids
    C = ivf_centroids(IVF_N_CELLS, 64)
    cent_rows = ",\n    ".join(
        f"({i}, {_sql_vec_lit(C[i])}::DOUBLE[])" for i in range(IVF_N_CELLS))
    return f"""
WITH cent(cell, cvec) AS (
  VALUES
    {cent_rows}
),
q AS (SELECT vec_id AS qid, cast(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
c AS (SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id >= {N_QUERY_VECS}),
cc AS (
  SELECT cid, cv, cell,
         row_number() OVER (PARTITION BY cid
             ORDER BY list_dot_product(cv, cvec) DESC, cell ASC) AS rnk
  FROM c CROSS JOIN cent
),
cassign AS (SELECT cid, cv, cell FROM cc WHERE rnk = 1),
qc AS (
  SELECT qid, qv, cell,
         row_number() OVER (PARTITION BY qid
             ORDER BY list_dot_product(qv, cvec) DESC, cell ASC) AS rnk
  FROM q CROSS JOIN cent
),
qprobe AS (SELECT qid, qv, cell FROM qc WHERE rnk <= {IVF_N_PROBE}),
pairs AS (
  SELECT p.qid, a.cid,
         round(list_cosine_similarity(p.qv, a.cv), 6) AS cos
  FROM qprobe p JOIN cassign a USING (cell)
)
SELECT qid, cid, cos, rk FROM (
  SELECT qid, cid, cos,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rk
  FROM pairs
) WHERE rk <= {k}
"""


def q_sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized brute-force top-k (operators/simsearch.py
    quantize_embeddings + quantized_topk): integer dot products are
    exact, so the ranking is fully deterministic — the 4x-smaller
    shard format ANN sweeps ship at scale."""
    from ...operators.simsearch import quantize_embeddings, quantized_topk
    e = _tbl(spark, sf_dir, "embeddings")
    qz = quantize_embeddings(e)
    q = (qz.filter(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("qid"), F.col("qvec").alias("qv")))
    c = (qz.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("cid"), F.col("qvec").alias("cv")))
    return quantized_topk(q, c, k=SIM_TOP_K)


def q_sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction top-k (operators/simsearch.py
    token_slices + maxsim_topk): each int8-quantized vector is split
    into MAXSIM_TOKENS contiguous token slices and relevance is the
    ColBERT-style MaxSim — sum over query tokens of max over candidate
    tokens of the integer dot product. The whole score is one nested
    JVM higher-order-function expression over a broadcast candidate
    shortlist (the re-rank stage of a retrieval stack), so ranking is
    exact-integer deterministic on any engine."""
    from ...operators.simsearch import quantize_embeddings, token_slices
    from ...operators.simsearch import maxsim_topk
    qz = token_slices(quantize_embeddings(_tbl(spark, sf_dir, "embeddings")),
                      n_tokens=MAXSIM_TOKENS)
    q = (qz.filter(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("qid"), "toks"))
    c = (qz.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("cid"), "toks"))
    return maxsim_topk(q, c, k=SIM_TOP_K)


SQL_SIM_MAXSIM_TOPK = """
WITH q8 AS (
  SELECT vec_id,
         CASE WHEN ma = 0 THEN list_transform(d, x -> 0)
              ELSE list_transform(d, x -> CAST(round(x * 127.0 / ma, 0) AS INT))
         END AS qvec
  FROM (SELECT vec_id, d,
               list_max(list_transform(d, x -> abs(x))) AS ma
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d
              FROM embeddings))),
sim AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         CAST(list_sum(list_transform(range(0, {t}), t ->
           list_max(list_transform(range(0, {t}), s ->
             list_dot_product(
               CAST(list_slice(q.qvec, t*{w} + 1, (t+1)*{w}) AS DOUBLE[]),
               CAST(list_slice(c.qvec, s*{w} + 1, (s+1)*{w}) AS DOUBLE[]))))))
              AS BIGINT) AS maxsim
  FROM q8 q, q8 c
  WHERE q.vec_id < {n_query} AND c.vec_id >= {n_query})
SELECT qid, cid, maxsim, rk FROM (
  SELECT qid, cid, maxsim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY maxsim DESC, cid ASC) AS rk
  FROM sim) WHERE rk <= {k}
""".format(
    t=MAXSIM_TOKENS, w=64 // MAXSIM_TOKENS, n_query=N_QUERY_VECS, k=SIM_TOP_K)


SQL_SIM_QUANTIZED_TOPK = """
WITH q8 AS (
  SELECT vec_id,
         CASE WHEN ma = 0 THEN list_transform(d, x -> 0)
              ELSE list_transform(d, x -> CAST(round(x * 127.0 / ma, 0) AS INT))
         END AS qvec
  FROM (SELECT vec_id, d,
               list_max(list_transform(d, x -> abs(x))) AS ma
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d
              FROM embeddings))),
sim AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         CAST(list_dot_product(CAST(q.qvec AS DOUBLE[]),
                               CAST(c.qvec AS DOUBLE[])) AS BIGINT) AS qdot
  FROM q8 q, q8 c
  WHERE q.vec_id < {n_query} AND c.vec_id >= {n_query})
SELECT qid, cid, qdot, rk FROM (
  SELECT qid, cid, qdot,
         row_number() OVER (PARTITION BY qid
                            ORDER BY qdot DESC, cid ASC) AS rk
  FROM sim) WHERE rk <= {k}
""".format(n_query=N_QUERY_VECS, k=SIM_TOP_K)


def q_sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN self-evaluation: recall@k of the LSH ANN against the exact
    brute-force top-k, per query vector — the metric that justifies the
    approximate path's bucket-join plan at scale. Pure composition of
    the two paired queries; recall emitted as an exact ppm integer."""
    bf = q_sim_topk_cosine(spark, sf_dir).select("qid", "cid")
    ann = q_sim_ann_lsh(spark, sf_dir).select(
        F.col("qid").alias("aqid"), F.col("cid").alias("acid"))
    hits = (bf.join(ann, (F.col("qid") == F.col("aqid"))
                    & (F.col("cid") == F.col("acid")))
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hits")))
    return (bf.select("qid").distinct()
            .join(hits, "qid", "left")
            .select("qid",
                    F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
                    .alias("n_hits"))
            .withColumn("recall_ppm",
                        F.expr(f"(n_hits * 1000000L) DIV {SIM_TOP_K}")))


def _sql_sim_recall() -> str:
    return f"""
WITH bf AS ({SQL_SIM_TOPK}),
ann AS ({_sql_sim_ann_lsh()}),
hits AS (
  SELECT bf.qid, count(*) AS n_hits
  FROM bf JOIN ann ON ann.qid = bf.qid AND ann.cid = bf.cid
  GROUP BY bf.qid)
SELECT q.qid, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((coalesce(h.n_hits, 0) * 1000000) // {SIM_TOP_K} AS BIGINT)
         AS recall_ppm
FROM (SELECT DISTINCT qid FROM bf) q LEFT JOIN hits h ON h.qid = q.qid
"""


def q_sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-integer Lloyd k-means over the quantized
    embedding table (operators/simsearch.py:kmeans_lloyd_exact) — the
    IVF coarse-quantizer training step as pure DataFrame algebra,
    bit-identical on any engine/partitioning. Two synchronous updates
    + final assignment; the oracle replays the identical unrolled
    rounds."""
    from ...operators.simsearch import kmeans_lloyd_exact, \
        quantize_embeddings
    qz = quantize_embeddings(_tbl(spark, sf_dir, "embeddings"))
    return kmeans_lloyd_exact(qz, k=KMEANS_K, iters=KMEANS_ITERS)


def _sql_kmeans_dist() -> str:
    """Integer squared-L2 between q8 row alias ``v`` and centroid
    alias ``c`` — shared by the kmeans and silhouette oracles."""
    return (f"CAST(list_sum(list_transform(range(1, {KMEANS_DIM + 1}),"
            f" i -> CAST(v.qvec[i] - c.cvec[i] AS BIGINT)"
            f" * (v.qvec[i] - c.cvec[i]))) AS BIGINT)")


def _sql_kmeans_ctes() -> tuple[str, str]:
    """The unrolled-Lloyd CTE block (quantize → seed → KMEANS_ITERS
    synchronous updates). Returns (with_body, final_centroid_cte) so
    both the kmeans and silhouette oracles replay the identical
    training."""
    k, dim = KMEANS_K, KMEANS_DIM
    dist = _sql_kmeans_dist()
    rounds = []
    prev = "c0"
    for i in range(1, KMEANS_ITERS + 1):
        rounds.append(f"""a{i} AS MATERIALIZED (
  SELECT v.vec_id, c.cid AS cluster, {dist} AS sq
  FROM q8 v, {prev} c
  QUALIFY row_number() OVER (PARTITION BY v.vec_id
                             ORDER BY sq, c.cid) = 1),
sums{i} AS (
  SELECT a.cluster, r.i AS pos, sum(v.qvec[r.i]) AS s, count(*) AS n
  FROM a{i} a JOIN q8 v USING (vec_id),
       lateral unnest(range(1, {dim + 1})) AS r(i)
  GROUP BY 1, 2),
newc{i} AS (
  SELECT cluster AS cid,
         list(CAST((s + 127 * n) // n - 127 AS INT) ORDER BY pos) AS cvec
  FROM sums{i} GROUP BY cluster),
c{i} AS MATERIALIZED (
  SELECT c.cid, coalesce(n.cvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN newc{i} n USING (cid))""")
        prev = f"c{i}"
    body = f"""q8 AS MATERIALIZED (
  SELECT vec_id,
         CASE WHEN ma = 0 THEN list_transform(d, x -> 0)
              ELSE list_transform(d, x -> CAST(round(x * 127.0 / ma, 0)
                                               AS INT))
         END AS qvec
  FROM (SELECT vec_id, d,
               list_max(list_transform(d, x -> abs(x))) AS ma
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d
              FROM embeddings))),
c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) AS cid, qvec AS cvec
  FROM (SELECT vec_id, qvec FROM q8 ORDER BY vec_id LIMIT {k})),
{', '.join(rounds)}"""
    return body, prev


def _sql_sim_kmeans() -> str:
    body, prev = _sql_kmeans_ctes()
    dist = _sql_kmeans_dist()
    return f"""
WITH {body}
SELECT v.vec_id, c.cid AS cluster, {dist} AS sq_dist
FROM q8 v, {prev} c
QUALIFY row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY sq_dist, c.cid) = 1
"""


def q_sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per point over the deterministic Lloyd
    clustering (operators/simsearch.py:silhouette_simplified) — the
    clustering-quality read an IVF index build should gate on. Exact
    BIGINT a/b distances; the oracle re-trains the identical unrolled
    kmeans (shared CTE block with sim_kmeans) and replays the same
    ratio."""
    from ...operators.simsearch import quantize_embeddings, \
        silhouette_simplified
    qz = quantize_embeddings(_tbl(spark, sf_dir, "embeddings"))
    return silhouette_simplified(qz, k=KMEANS_K, iters=KMEANS_ITERS)


def _sql_sim_silhouette() -> str:
    body, prev = _sql_kmeans_ctes()
    dist = _sql_kmeans_dist()
    return f"""
WITH {body},
asg AS MATERIALIZED (
  SELECT v.vec_id, c.cid AS cluster, {dist} AS a_sq
  FROM q8 v, {prev} c
  QUALIFY row_number() OVER (PARTITION BY v.vec_id
                             ORDER BY a_sq, c.cid) = 1),
alld AS (
  SELECT v.vec_id, c.cid, {dist} AS sq FROM q8 v, {prev} c),
bb AS (
  SELECT d.vec_id, min(d.sq) AS b_sq
  FROM alld d JOIN asg a ON a.vec_id = d.vec_id AND d.cid <> a.cluster
  GROUP BY d.vec_id)
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
       CAST(a.a_sq AS BIGINT) AS a_sq, CAST(b.b_sq AS BIGINT) AS b_sq,
       round((b.b_sq - a.a_sq)
             / greatest(a.a_sq, b.b_sq, 1), 6) + 0.0 AS s
FROM asg a JOIN bb b USING (vec_id)
"""


# ---------------------------------------------------------------------------
# Round-4 wave 7: time-series gap-fill, weighted shortest paths, temporal
# KG snapshot, SPARQL aggregates, product-quantization ANN
# ---------------------------------------------------------------------------

def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k (operators/simsearch.py
    pq_codebook + pq_encode + pq_adc_topk): candidates collapse to
    PQ_SUBS tiny codes against a deterministic sampled codebook, and
    each query scans codes through its precomputed integer
    squared-L2 lookup table (ADC) — the memory-bound billion-vector
    serving shape, where the scoring stage never touches a raw
    vector. Exact integer math end to end (int8 slices, integer
    squared distances, first-index argmin tie-break), so the DuckDB
    replay is bit-identical."""
    from ...operators.simsearch import (pq_adc_topk, pq_codebook, pq_encode,
                                       quantize_embeddings)
    qz = quantize_embeddings(_tbl(spark, sf_dir, "embeddings"))
    q = (qz.filter(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("qid"), F.col("qvec").alias("qv")))
    c = (qz.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("cid"), F.col("qvec").alias("cv")))
    cb = pq_codebook(c, PQ_SUBS, PQ_CODES)
    enc = pq_encode(c, cb, PQ_SUBS, PQ_CODES)
    return pq_adc_topk(q, enc, cb, PQ_SUBS, PQ_CODES, k=SIM_TOP_K)


SQL_SIM_PQ_TOPK = """
WITH q8 AS (
  SELECT vec_id,
         CASE WHEN ma = 0 THEN list_transform(d, x -> 0)
              ELSE list_transform(d, x -> CAST(round(x * 127.0 / ma, 0) AS INT))
         END AS qvec
  FROM (SELECT vec_id, d,
               list_max(list_transform(d, x -> abs(x))) AS ma
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d
              FROM embeddings))),
cand AS (SELECT vec_id AS cid, qvec FROM q8 WHERE vec_id >= {n_query}),
qry AS (SELECT vec_id AS qid, qvec FROM q8 WHERE vec_id < {n_query}),
cb AS (SELECT row_number() OVER (ORDER BY cid) - 1 AS code, qvec
       FROM (SELECT cid, qvec FROM cand ORDER BY cid LIMIT {K})),
ms AS (SELECT unnest(range(0, {M})) AS m),
cbs AS (SELECT cb.code, ms.m,
               list_slice(cb.qvec, ms.m * {w} + 1, (ms.m + 1) * {w}) AS cent
        FROM cb, ms),
encd AS (
  SELECT c.cid, s.m, s.code,
         CAST(list_sum(list_transform(range(1, {w} + 1), i ->
           CAST(c.qvec[s.m * {w} + i] - s.cent[i] AS BIGINT)
           * CAST(c.qvec[s.m * {w} + i] - s.cent[i] AS BIGINT)))
           AS BIGINT) AS d
  FROM cand c, cbs s),
codes AS (
  SELECT cid, m, code FROM (
    SELECT cid, m, code,
           row_number() OVER (PARTITION BY cid, m
                              ORDER BY d ASC, code ASC) AS rk
    FROM encd) WHERE rk = 1),
lut AS (
  SELECT q.qid, s.m, s.code,
         CAST(list_sum(list_transform(range(1, {w} + 1), i ->
           CAST(q.qvec[s.m * {w} + i] - s.cent[i] AS BIGINT)
           * CAST(q.qvec[s.m * {w} + i] - s.cent[i] AS BIGINT)))
           AS BIGINT) AS d
  FROM qry q, cbs s),
dist AS (
  SELECT l.qid, cd.cid, CAST(sum(l.d) AS BIGINT) AS adc_dist
  FROM codes cd JOIN lut l ON l.m = cd.m AND l.code = cd.code
  GROUP BY 1, 2)
SELECT qid, cid, adc_dist, rk FROM (
  SELECT qid, cid, adc_dist,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adc_dist ASC, cid ASC) AS rk
  FROM dist) WHERE rk <= {k}
""".format(
    n_query=N_QUERY_VECS, K=PQ_CODES, M=PQ_SUBS, w=64 // PQ_SUBS,
    k=SIM_TOP_K)


# ---------------------------------------------------------------------------
# Round-4 wave 8: skip-gram training pairs, KG link prediction,
# collocation lift, CUSUM changepoint
# ---------------------------------------------------------------------------

def q_sim_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — THE production ANN architecture: a cheap
    recall stage (IVF-probed cells, float dots against deterministic
    centroids) produces a per-query shortlist of 15, and an exact
    integer re-rank stage (int8 quantized dot product over the
    BROADCAST shortlist) picks the final top-5. Composes the paired
    building blocks end-to-end; the re-rank is exact integers, so the
    final ranking is deterministic even though stage 1 scores are
    floats (stage-1 SET membership replays in SQL, stage-2 order is
    integer math). At scale stage 1 touches only probed cells and
    stage 2 only k₁ candidates per query — neither stage ever sees the
    full corpus per query."""
    from ...operators.simsearch import ann_ivf_topk, quantize_embeddings
    e = _tbl(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    c = (e.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("cid"),
                 F.col("embedding").alias("cv")))
    shortlist = (ann_ivf_topk(q, c, k=TWO_STAGE_SHORTLIST,
                              n_cells=IVF_N_CELLS, n_probe=IVF_N_PROBE)
                 .select("qid", "cid"))
    qz = quantize_embeddings(e)
    q8 = qz.select(F.col("vec_id").alias("qid"),
                   F.col("qvec").alias("q8"))
    c8 = qz.select(F.col("vec_id").alias("cid"),
                   F.col("qvec").alias("c8"))
    qdot = F.aggregate(
        F.zip_with("q8", "c8", lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    scored = (shortlist.join(q8, "qid").join(c8, "cid")
              .withColumn("qdot", qdot))
    w = Window.partitionBy("qid").orderBy(F.desc("qdot"), F.asc("cid"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= SIM_TOP_K)
            .select("qid", "cid", "qdot", "rk"))


def _sql_sim_two_stage() -> str:
    ivf = _sql_sim_ann_ivf(k=TWO_STAGE_SHORTLIST)
    return f"""
WITH stage1 AS MATERIALIZED (
  SELECT qid, cid FROM ({ivf})
),
q8 AS (
  SELECT vec_id,
         CASE WHEN ma = 0 THEN list_transform(d, x -> 0)
              ELSE list_transform(d, x -> CAST(round(x * 127.0 / ma, 0) AS INT))
         END AS qvec
  FROM (SELECT vec_id, d,
               list_max(list_transform(d, x -> abs(x))) AS ma
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d
              FROM embeddings))),
scored AS (
  SELECT s.qid, s.cid,
         CAST(list_dot_product(CAST(a.qvec AS DOUBLE[]),
                               CAST(b.qvec AS DOUBLE[])) AS BIGINT) AS qdot
  FROM stage1 s
  JOIN q8 a ON a.vec_id = s.qid
  JOIN q8 b ON b.vec_id = s.cid)
SELECT qid, cid, qdot, rk FROM (
  SELECT qid, cid, qdot,
         row_number() OVER (PARTITION BY qid
                            ORDER BY qdot DESC, cid ASC) AS rk
  FROM scored) WHERE rk <= {SIM_TOP_K}
"""


def q_sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval reciprocal-rank fusion (Cormack-Clarke RRF
    [K]): fuse the lexical BM25 ranking (operators/curation.py
    bm25_topk over the fixed BM25_TERMS query) with the semantic
    embedding-cosine ranking (query vector = vec_id 0 against the
    candidate corpus) by rrf = sum over legs of 1e6 // (C + rank) —
    pure BIGINT once each leg's rank is fixed, so fusion is bit-exact
    cross-engine. Docs surfaced by only one leg keep that leg's term
    (standard union semantics); the fused top-RRF_TOP is returned with
    both leg ranks for audit.

    Shape: each leg is a distributed score + TakeOrdered limit; rank
    windows run over the <= RRF_N-row limited result only (the
    limit-then-rank discipline); the fusion join is a full outer join
    of two constant-size rank lists."""
    from ...operators.curation import bm25_topk
    lex = bm25_topk(_docs(spark, sf_dir), BM25_TERMS, k=RRF_N)
    wl = Window.orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    lex_rk = (lex.withColumn("lex_rk", F.row_number().over(wl))
              .select("doc_id", "lex_rk"))
    e = _tbl(spark, sf_dir, "embeddings")
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    q = (e.filter(F.col("vec_id") == 0)
         .select(dbl("embedding").alias("qv")))
    c = (e.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("doc_id"), dbl("embedding").alias("cv")))
    dot = F.aggregate(F.zip_with("qv", "cv", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    norm = lambda col: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(col), lambda x: x * x), F.lit(0.0),
        lambda a, v: a + v))
    sem_top = (c.crossJoin(F.broadcast(q))
               .withColumn("cos", F.round(dot / (norm("qv") * norm("cv")), 6))
               .orderBy(F.desc("cos"), F.asc("doc_id")).limit(RRF_N))
    ws = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    sem_rk = (sem_top.withColumn("sem_rk", F.row_number().over(ws))
              .select("doc_id", "sem_rk"))
    fused = (lex_rk.join(sem_rk, "doc_id", "full_outer")
             .withColumn("rrf_ppm", F.expr(
                 f"coalesce(1000000 DIV ({RRF_C} + lex_rk), 0)"
                 f" + coalesce(1000000 DIV ({RRF_C} + sem_rk), 0)")))
    top = fused.orderBy(F.desc("rrf_ppm"), F.asc("doc_id")).limit(RRF_TOP)
    wf = Window.orderBy(F.desc("rrf_ppm"), F.asc("doc_id"))
    return (top.withColumn("fused_rank", F.row_number().over(wf))
            .select("doc_id", "lex_rk", "sem_rk", "rrf_ppm", "fused_rank"))


def _sql_sim_rrf_fusion() -> str:
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
       JOIN dlen dl ON dl.doc_id = q.doc_id CROSS JOIN stats s),
lex AS (
  SELECT doc_id, CAST(sum(term_ppm) AS BIGINT) AS score_ppm
  FROM scored GROUP BY doc_id
  ORDER BY score_ppm DESC, doc_id ASC LIMIT {RRF_N}),
lex_rk AS (
  SELECT doc_id, row_number() OVER (ORDER BY score_ppm DESC, doc_id ASC)
           AS lex_rk
  FROM lex),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sem AS (
  SELECT c.vec_id AS doc_id,
         round(
           (SELECT sum(cast(x AS DOUBLE) * cast(y AS DOUBLE))
            FROM (SELECT unnest(q.qv) AS x, unnest(c.embedding) AS y))
           / (sqrt((SELECT sum(cast(x AS DOUBLE) * cast(x AS DOUBLE))
                    FROM (SELECT unnest(q.qv) AS x)))
              * sqrt((SELECT sum(cast(y AS DOUBLE) * cast(y AS DOUBLE))
                      FROM (SELECT unnest(c.embedding) AS y)))),
           6) AS cos
  FROM embeddings c CROSS JOIN qv q
  WHERE c.vec_id >= {N_QUERY_VECS}
  ORDER BY cos DESC, doc_id ASC LIMIT {RRF_N}),
sem_rk AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC)
           AS sem_rk
  FROM sem),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.lex_rk, s.sem_rk,
         coalesce(1000000 // ({RRF_C} + l.lex_rk), 0)
         + coalesce(1000000 // ({RRF_C} + s.sem_rk), 0) AS rrf_ppm
  FROM lex_rk l FULL OUTER JOIN sem_rk s ON s.doc_id = l.doc_id),
top AS (SELECT * FROM fused ORDER BY rrf_ppm DESC, doc_id ASC
        LIMIT {RRF_TOP})
SELECT doc_id, CAST(lex_rk AS INT) AS lex_rk,
       CAST(sem_rk AS INT) AS sem_rk,
       CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
       CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id ASC) AS INT)
         AS fused_rank
FROM top
"""


def q_sim_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-stability evaluation via the Adjusted Rand Index
    (Hubert-Arabie ARI [K]) between the 1-round and KMEANS_ITERS-round
    exact-integer Lloyd clusterings — "how much does one more
    synchronous update reshuffle the partition", the convergence
    diagnostic an IVF-training pipeline watches. Both clusterings
    share the deterministic seed and training prefix, so the
    contingency table is reproducible bit-for-bit; all pair counts
    (C(x,2)) are exact BIGINT and only the final signed ratio is a
    double under the repo's round(x,6) + 0.0 convention (plain /,
    never integer DIV — the sign makes floor-vs-truncate an engine
    hazard). The BIGINT sums are promoted to DOUBLE before the big
    products so the formula stays overflow-safe at corpus scale.

    Shape: two broadcast-centroid assignments, one (c1, c2)-keyed
    contingency agg (at most k*k rows), margin aggs over k rows, and a
    crossJoin of four 1-row aggregates. Nothing global, no windows."""
    from ...operators.simsearch import kmeans_lloyd_exact, \
        quantize_embeddings
    qz = quantize_embeddings(_tbl(spark, sf_dir, "embeddings"))
    f1 = (kmeans_lloyd_exact(qz, k=KMEANS_K, iters=1)
          .select("vec_id", F.col("cluster").alias("ca")))
    f2 = (kmeans_lloyd_exact(qz, k=KMEANS_K, iters=KMEANS_ITERS)
          .select("vec_id", F.col("cluster").alias("cb")))
    j = f1.join(f2, "vec_id")
    ct = j.groupBy("ca", "cb").agg(F.count(F.lit(1)).alias("nij"))
    idx = ct.agg(F.sum(F.expr("nij * (nij - 1) DIV 2")).alias("idx"))
    a2 = (j.groupBy("ca").agg(F.count(F.lit(1)).alias("cnt"))
          .agg(F.sum(F.expr("cnt * (cnt - 1) DIV 2")).alias("a2")))
    b2 = (j.groupBy("cb").agg(F.count(F.lit(1)).alias("cnt"))
          .agg(F.sum(F.expr("cnt * (cnt - 1) DIV 2")).alias("b2")))
    nn = j.agg(F.count(F.lit(1)).alias("n"))
    return (idx.crossJoin(a2).crossJoin(b2).crossJoin(nn)
            .select("n", "idx", "a2", "b2",
                    F.expr("""
        round((2.0 * (CAST(idx AS DOUBLE) * (CAST(n AS DOUBLE)
                      * (n - 1.0) / 2.0)
                      - CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE)))
              / ((CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE))
                 * (CAST(n AS DOUBLE) * (n - 1.0) / 2.0)
                 - 2.0 * CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE)),
              6) + 0.0""").alias("ari")))


def _sql_sim_cluster_ari() -> str:
    body, prev = _sql_kmeans_ctes()
    dist = _sql_kmeans_dist()
    prev1 = f"c{KMEANS_ITERS - 1}"
    return f"""
WITH {body},
fa AS (
  SELECT v.vec_id, c.cid AS ca, {dist} AS sq
  FROM q8 v, {prev1} c
  QUALIFY row_number() OVER (PARTITION BY v.vec_id
                             ORDER BY sq, c.cid) = 1),
fb AS (
  SELECT v.vec_id, c.cid AS cb, {dist} AS sq
  FROM q8 v, {prev} c
  QUALIFY row_number() OVER (PARTITION BY v.vec_id
                             ORDER BY sq, c.cid) = 1),
jj AS (SELECT fa.vec_id, fa.ca, fb.cb FROM fa JOIN fb USING (vec_id)),
ctab AS (SELECT ca, cb, count(*) AS nij FROM jj GROUP BY 1, 2),
s_idx AS (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS idx FROM ctab),
s_a2 AS (SELECT CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS a2
       FROM (SELECT ca, count(*) AS cnt FROM jj GROUP BY ca)),
s_b2 AS (SELECT CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS b2
       FROM (SELECT cb, count(*) AS cnt FROM jj GROUP BY cb)),
s_nn AS (SELECT count(*) AS n FROM jj)
SELECT n, idx, a2, b2,
       round((2.0 * (CAST(idx AS DOUBLE) * (CAST(n AS DOUBLE)
                     * (n - 1.0) / 2.0)
                     - CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE)))
             / ((CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE))
                * (CAST(n AS DOUBLE) * (n - 1.0) / 2.0)
                - 2.0 * CAST(a2 AS DOUBLE) * CAST(b2 AS DOUBLE)),
             6) + 0.0 AS ari
FROM s_idx CROSS JOIN s_a2 CROSS JOIN s_b2 CROSS JOIN s_nn
"""


def q_sim_prefix_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation [K: MRL]: recall@k of
    cosine top-k computed on the first PREFIX_DIMS dimensions against
    the full-dimension top-k, per query — the measurement that decides
    how many dimensions a cheap first-pass ANN index can drop. Overlap
    and recall are exact integers (ppm); both rankings share the
    deterministic (cos desc, cid asc) tie discipline.

    Shape: identical to the brute cosine baseline — the tiny query set
    broadcast against the corpus, per-query keyed rank windows, then
    one equi-join of the two k-row-per-query lists and a qid-keyed
    count. The prefix leg reads the SAME column sliced, so no second
    scan materializes at the storage layer."""
    e = _tbl(spark, sf_dir, "embeddings")
    dbl = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("qid"),
                 dbl(F.col("embedding")).alias("qv"),
                 dbl(F.slice("embedding", 1, PREFIX_DIMS)).alias("qp")))
    c = (e.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("cid"),
                 dbl(F.col("embedding")).alias("cv"),
                 dbl(F.slice("embedding", 1, PREFIX_DIMS)).alias("cp")))

    def cos(a, b):
        dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, v: acc + v)
        nrm = lambda col: F.sqrt(F.aggregate(  # noqa: E731
            F.transform(col, lambda x: x * x), F.lit(0.0),
            lambda acc, v: acc + v))
        return F.round(dot / (nrm(a) * nrm(b)), 6)

    pairs = (q.crossJoin(F.broadcast(c))
             .withColumn("cos_full", cos(F.col("qv"), F.col("cv")))
             .withColumn("cos_pre", cos(F.col("qp"), F.col("cp"))))
    wf = Window.partitionBy("qid").orderBy(F.desc("cos_full"),
                                           F.asc("cid"))
    wp = Window.partitionBy("qid").orderBy(F.desc("cos_pre"),
                                           F.asc("cid"))
    full_k = (pairs.withColumn("rk", F.row_number().over(wf))
              .filter(F.col("rk") <= PREFIX_RECALL_K)
              .select("qid", "cid"))
    pre_k = (pairs.withColumn("rk", F.row_number().over(wp))
             .filter(F.col("rk") <= PREFIX_RECALL_K)
             .select("qid", "cid"))
    hits = (full_k.join(pre_k, ["qid", "cid"], "left_semi")
            .groupBy("qid").agg(F.count(F.lit(1)).alias("overlap")))
    return (full_k.select("qid").distinct()
            .join(hits, "qid", "left")
            .select("qid",
                    F.coalesce(F.col("overlap"), F.lit(0))
                    .cast("long").alias("overlap"))
            .withColumn("recall_ppm", F.expr(
                f"overlap * 1000000 DIV {PREFIX_RECALL_K}")))


def _sql_sim_prefix_recall() -> str:
    def cos_sql(qcol, ccol):
        return f"""round(
           (SELECT sum(cast(x AS DOUBLE) * cast(y AS DOUBLE))
            FROM (SELECT unnest({qcol}) AS x, unnest({ccol}) AS y))
           / (sqrt((SELECT sum(cast(x AS DOUBLE) * cast(x AS DOUBLE))
                    FROM (SELECT unnest({qcol}) AS x)))
              * sqrt((SELECT sum(cast(y AS DOUBLE) * cast(y AS DOUBLE))
                      FROM (SELECT unnest({ccol}) AS y)))), 6)"""
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv,
                  embedding[1:{PREFIX_DIMS}] AS qp
           FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
c AS (SELECT vec_id AS cid, embedding AS cv,
             embedding[1:{PREFIX_DIMS}] AS cp
      FROM embeddings WHERE vec_id >= {N_QUERY_VECS}),
pairs AS MATERIALIZED (
  SELECT q.qid, c.cid,
         {cos_sql('q.qv', 'c.cv')} AS cos_full,
         {cos_sql('q.qp', 'c.cp')} AS cos_pre
  FROM q CROSS JOIN c),
full_k AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid
           ORDER BY cos_full DESC, cid ASC) AS rk FROM pairs)
  WHERE rk <= {PREFIX_RECALL_K}),
pre_k AS (
  SELECT qid, cid FROM (
    SELECT qid, cid, row_number() OVER (PARTITION BY qid
           ORDER BY cos_pre DESC, cid ASC) AS rk FROM pairs)
  WHERE rk <= {PREFIX_RECALL_K}),
hits AS (
  SELECT f.qid, count(*) AS overlap
  FROM full_k f JOIN pre_k p ON p.qid = f.qid AND p.cid = f.cid
  GROUP BY 1)
SELECT f.qid, CAST(coalesce(h.overlap, 0) AS BIGINT) AS overlap,
       CAST(coalesce(h.overlap, 0) * 1000000 // {PREFIX_RECALL_K}
            AS BIGINT) AS recall_ppm
FROM (SELECT DISTINCT qid FROM full_k) f
LEFT JOIN hits h ON h.qid = f.qid
"""


def q_sim_conv_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical embedding pooling + bucketed neighbor join: mean-
    pool the int8-quantized document embeddings per conversation
    (exact integer mean via the (sum+127*n)//n-127 shift — the same
    engine-portable trick as the Lloyd update), then find each
    conversation's POOL_TOP nearest conversations by integer dot
    product among SIGN-BUCKET collisions (first POOL_SIGN_BITS pooled
    dims) — the doc->passage->corpus rollup a retrieval pipeline runs
    to build coarse conversation-level routing.

    Shape: pooling is one (conv, dim)-keyed hash agg + one conv-keyed
    re-assembly; the candidate join is an equi-join on the sign bucket
    (never all-pairs — the LSH-family argument every ANN path in this
    repo uses); ranking windows are conv-keyed."""
    from ...operators.simsearch import quantize_embeddings
    qz = quantize_embeddings(_tbl(spark, sf_dir, "embeddings"))
    dims = (qz.select((F.col("vec_id") % N_CONVS).cast("int")
                      .alias("conv"),
                      F.posexplode("qvec").alias("pos", "v"))
            .groupBy("conv", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")))
    pool = (dims.withColumn("pv", F.expr("(s + 127 * n) DIV n - 127"))
            .groupBy("conv")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "pv"))),
                lambda x: x.pv).alias("pvec")))
    bucket = sum((F.when(F.element_at("pvec", i + 1) >= 0, 2 ** i)
                  .otherwise(0)) for i in range(POOL_SIGN_BITS))
    pb = pool.withColumn("bucket", bucket.cast("int"))
    a = pb.select(F.col("conv").alias("ca"), F.col("pvec").alias("va"),
                  "bucket")
    b = pb.select(F.col("conv").alias("cb"), F.col("pvec").alias("vb"),
                  "bucket")
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0).cast("long"), lambda acc, v: acc + v)
    pairs = (a.join(b, "bucket").filter(F.col("ca") < F.col("cb"))
             .withColumn("dot", dot).select("ca", "cb", "dot"))
    both = (pairs.select(F.col("ca").alias("conv"),
                         F.col("cb").alias("neighbor"), "dot")
            .unionByName(pairs.select(F.col("cb").alias("conv"),
                                      F.col("ca").alias("neighbor"),
                                      "dot")))
    w = Window.partitionBy("conv").orderBy(F.desc("dot"),
                                           F.asc("neighbor"))
    return (both.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= POOL_TOP)
            .select("conv", "neighbor", "dot", "rk"))


def _sql_sim_conv_pool() -> str:
    bits = " + ".join(
        f"CASE WHEN pvec[{i + 1}] >= 0 THEN {2 ** i} ELSE 0 END"
        for i in range(POOL_SIGN_BITS))
    return f"""
WITH q8 AS (
  SELECT vec_id,
         CASE WHEN ma = 0 THEN list_transform(d, x -> 0)
              ELSE list_transform(d, x -> CAST(round(x * 127.0 / ma, 0)
                                               AS INT))
         END AS qvec
  FROM (SELECT vec_id, d,
               list_max(list_transform(d, x -> abs(x))) AS ma
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS d
              FROM embeddings))),
dims AS (
  SELECT CAST(vec_id % {N_CONVS} AS INT) AS conv, r.i AS pos,
         sum(qvec[r.i]) AS s, count(*) AS n
  FROM q8, lateral unnest(range(1, {KMEANS_DIM + 1})) AS r(i)
  GROUP BY 1, 2),
pool AS (
  SELECT conv,
         list(CAST((s + 127 * n) // n - 127 AS BIGINT) ORDER BY pos)
           AS pvec
  FROM dims GROUP BY conv),
pb AS (SELECT conv, pvec, CAST({bits} AS INT) AS bucket FROM pool),
pairs AS (
  SELECT a.conv AS ca, b.conv AS cb,
         CAST(list_sum(list_transform(range(1, {KMEANS_DIM + 1}),
              i -> a.pvec[i] * b.pvec[i])) AS BIGINT) AS dot
  FROM pb a JOIN pb b ON b.bucket = a.bucket AND a.conv < b.conv),
sym AS (
  SELECT ca AS conv, cb AS neighbor, dot FROM pairs
  UNION ALL
  SELECT cb, ca, dot FROM pairs)
SELECT conv, neighbor, dot, rk FROM (
  SELECT conv, neighbor, dot,
         CAST(row_number() OVER (PARTITION BY conv
              ORDER BY dot DESC, neighbor ASC) AS INT) AS rk
  FROM sym)
WHERE rk <= {POOL_TOP}
"""


def q_sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor [K: the snapshot-vs-snapshot
    centroid check a feature-store QA job runs — if a class centroid
    rotates, the upstream encoder or the data mix changed]: split each
    label's vectors into two deterministic halves (vec_id parity),
    quantize components to DRIFT_SCALE fixed-point integers, and report
    the cosine between the two half-centroids per label. Cosine is
    scale-invariant, so the component SUMS stand in for the centroids
    and no division ever happens before the final double cosine of
    exact integers — bit-identical on any engine, any row order.

    Shape: one posexplode scan -> one (label, half, pos) hash agg
    (64*2*|labels| rows) -> one pos-keyed self-join of that tiny table
    -> one |labels|-row agg. The explode is the standard columnar
    unpivot for component-wise math; everything after the first agg is
    broadcast-sized."""
    e = _tbl(spark, sf_dir, "embeddings")
    q = (e.select("vec_id", "label",
                  F.posexplode(F.col("embedding")).alias("pos", "x"))
         .select("label", (F.col("vec_id") % 2).cast("int").alias("half"),
                 "pos",
                 F.floor(F.col("x").cast("double") * DRIFT_SCALE)
                 .cast("long").alias("qv")))
    s = q.groupBy("label", "half", "pos").agg(
        F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
    a = (s.filter(F.col("half") == 0)
         .select("label", "pos", F.col("s").alias("sa"),
                 F.col("n").alias("na_rows")))
    b = (s.filter(F.col("half") == 1)
         .select("label", "pos", F.col("s").alias("sb"),
                 F.col("n").alias("nb_rows")))
    j = a.join(b, ["label", "pos"])
    agg = j.groupBy("label").agg(
        F.sum(F.col("sa") * F.col("sb")).alias("dot"),
        F.sum(F.col("sa") * F.col("sa")).alias("na"),
        F.sum(F.col("sb") * F.col("sb")).alias("nb"),
        F.max("na_rows").cast("long").alias("n_a"),
        F.max("nb_rows").cast("long").alias("n_b"))
    return agg.select(
        F.col("label").cast("int").alias("label"), "n_a", "n_b",
        F.round(F.col("dot").cast("double")
                / (F.sqrt(F.col("na").cast("double"))
                   * F.sqrt(F.col("nb").cast("double"))), 6)
        .alias("drift_cos"))


def _sql_sim_centroid_drift() -> str:
    return f"""
WITH q AS (
  SELECT label, CAST(vec_id % 2 AS INT) AS half,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {DRIFT_SCALE})
              AS BIGINT) AS qv
  FROM embeddings),
s AS (
  SELECT label, half, pos, sum(qv) AS s, count(*) AS n
  FROM q GROUP BY 1, 2, 3),
j AS (
  SELECT a.label, a.s AS sa, b.s AS sb, a.n AS na_rows, b.n AS nb_rows
  FROM (SELECT * FROM s WHERE half = 0) a
  JOIN (SELECT * FROM s WHERE half = 1) b
    ON a.label = b.label AND a.pos = b.pos)
SELECT CAST(label AS INT) AS label,
       CAST(max(na_rows) AS BIGINT) AS n_a,
       CAST(max(nb_rows) AS BIGINT) AS n_b,
       round(CAST(sum(sa * sb) AS DOUBLE)
             / (sqrt(CAST(sum(sa * sa) AS DOUBLE))
                * sqrt(CAST(sum(sb * sb) AS DOUBLE))), 6) AS drift_cos
FROM j GROUP BY label
"""


def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN graph over the embedding corpus
    (operators/simsearch.py:knn_graph) [K: LSH-bucketed kNN-graph
    construction — the edge artifact GNN training / semantic clustering
    consumes]. Paired: the 3 hyperplanes are deterministic constants,
    so DuckDB recomputes identical sign buckets and the identical
    (cos DESC, dst ASC) rank; the mutual flag replays as a reversed
    self-join of the top-k set."""
    from ...operators.simsearch import knn_graph
    return knn_graph(_tbl(spark, sf_dir, "embeddings"),
                     k=KNNG_K, n_planes=KNNG_N_PLANES)


def _sql_sim_knn_graph() -> str:
    from ...operators.simsearch import hyperplanes
    planes = hyperplanes(KNNG_N_PLANES, 64)

    def bucket(col: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({col}, {_sql_vec_lit(p)}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes))

    return f"""
WITH v AS (SELECT vec_id AS nid, cast(embedding AS DOUBLE[]) AS nv
           FROM embeddings),
b AS (SELECT nid, nv, {bucket('nv')} AS bucket FROM v),
pairs AS (
  SELECT a.nid AS src, c.nid AS dst,
         round(list_cosine_similarity(a.nv, c.nv), 6) AS cos
  FROM b a JOIN b c USING (bucket)
  WHERE a.nid <> c.nid),
topk AS (
  SELECT src, dst, cos, rk FROM (
    SELECT src, dst, cos,
           row_number() OVER (PARTITION BY src
                              ORDER BY cos DESC, dst ASC) AS rk
    FROM pairs) WHERE rk <= {KNNG_K})
SELECT t.src, t.dst, t.cos, t.rk,
       CAST(CASE WHEN r.src IS NULL THEN 0 ELSE 1 END AS INT) AS mutual
FROM topk t
LEFT JOIN (SELECT dst AS src, src AS dst FROM topk) r
  ON r.src = t.src AND r.dst = t.dst
"""


def q_sim_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering of the embedding corpus [K: the SemDeDup /
    semantic-dedup family — build a mutual-kNN graph, take connected
    components, treat each component as one semantic group]: the
    mutual subset of the wave-41 kNN graph (high-precision edges —
    both endpoints chose each other) fed through the iterative
    min-label connected-components operator, with each vector's
    cluster id (= min reachable vec_id) and cluster size. Isolated
    vectors form singletons — the honest denominator for "how much
    would semantic dedup collapse".

    Shape: the kNN graph's bucketed self-join, a map-side mutual
    filter, then O(diameter) rounds of join + min-agg (mutual-kNN
    components are near-cliques, so the diameter is tiny), and one
    broadcast size join back. Oracle: DuckDB recursive-CTE transitive
    closure + min label (the dedup_components convention)."""
    from ...operators.dedup import connected_components
    g = q_sim_knn_graph(spark, sf_dir)
    pairs = (g.filter((F.col("mutual") == 1)
                      & (F.col("src") < F.col("dst")))
             .select(F.col("src").alias("doc_a"),
                     F.col("dst").alias("doc_b")))
    nodes = _tbl(spark, sf_dir, "embeddings").select("vec_id")
    comp = connected_components(pairs, nodes)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return (comp.select(F.col("doc_id").alias("vec_id"),
                        F.col("component").cast("long").alias("cluster"))
            .join(F.broadcast(sizes.select(
                F.col("component").cast("long").alias("cluster"),
                "cluster_size")), "cluster")
            .select("vec_id", "cluster", "cluster_size"))


def _sql_sim_semantic_clusters() -> str:
    knn = _sql_sim_knn_graph().strip().rstrip(";")
    return f"""
WITH RECURSIVE knn AS MATERIALIZED ({knn}),
medges AS (
  SELECT src, dst FROM knn WHERE mutual = 1
  UNION
  SELECT dst AS src, src AS dst FROM knn WHERE mutual = 1),
nodes AS (SELECT vec_id FROM embeddings),
reach(a, b) AS (
  SELECT vec_id, vec_id FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN medges e ON e.src = r.b),
comp AS (SELECT a AS vec_id, min(b) AS cluster FROM reach GROUP BY a),
sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY 1)
SELECT c.vec_id, CAST(c.cluster AS BIGINT) AS cluster, s.cluster_size
FROM comp c JOIN sizes s USING (cluster)
"""


def q_sim_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-distance embedding outlier detection
    (operators/simsearch.py:knn_outliers) over the corpus embeddings:
    per-node mean cosine to its wave-41 kNN-graph neighbors, robust
    MAD-fenced one-sided (far-from-neighbors only); isolated nodes
    (no in-bucket neighbor) are flagged with a NULL score. See the
    operator docstring for the determinism and scale notes."""
    from ...operators.simsearch import knn_outliers
    return knn_outliers(_tbl(spark, sf_dir, "embeddings"),
                        k=KNNG_K, n_planes=KNNG_N_PLANES)


def _sql_sim_outliers() -> str:
    knn = _sql_sim_knn_graph().strip().rstrip(";")
    return f"""
WITH knn AS MATERIALIZED ({knn}),
score AS (
  SELECT src, CAST(count(*) AS BIGINT) AS k_used,
         CAST(sum(CAST(round(cos * 1000000, 0) AS BIGINT))
              // count(*) AS BIGINT) AS mean_cos_ppm
  FROM knn GROUP BY 1),
s AS (
  SELECT e.vec_id AS src, score.k_used, score.mean_cos_ppm
  FROM embeddings e LEFT JOIN score ON score.src = e.vec_id),
have AS (SELECT * FROM s WHERE mean_cos_ppm IS NOT NULL),
m1 AS (SELECT CAST(quantile_cont(mean_cos_ppm * 2, 0.5) AS BIGINT)
         AS med2 FROM have),
dv AS (
  SELECT src, k_used, mean_cos_ppm,
         abs(mean_cos_ppm * 2 - med2) AS dev2, med2
  FROM have CROSS JOIN m1),
m2 AS (SELECT CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
       FROM dv)
SELECT src AS vec_id, k_used, mean_cos_ppm,
       CAST(CASE WHEN dev2 * 10000 > 22239 * mad4
                  AND mean_cos_ppm * 2 < med2
                 THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM dv CROSS JOIN m2
UNION ALL
SELECT src AS vec_id, CAST(0 AS BIGINT) AS k_used,
       CAST(NULL AS BIGINT) AS mean_cos_ppm, CAST(1 AS INT) AS is_outlier
FROM s WHERE mean_cos_ppm IS NULL
"""


def q_sim_ann_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH plane-count tuning sweep [K: the recall-vs-cost curve every
    ANN deployment plots before fixing its index parameters — more
    hyperplanes mean smaller buckets, fewer candidates, lower recall]:
    for each plane count in the grid, the candidate-pair count (the
    cost axis) and recall@k of the bucketed ANN against the exact
    brute-force top-k (the quality axis), as one row per grid point
    in exact ppm. The expensive exact truth is computed ONCE and
    shared across the grid (the dedup_threshold_sweep philosophy).

    Shape: per grid point one bucket pandas_udf pass + one bucket
    equi-join + the standard per-query rank; the grid is a compile-
    time constant so the union is a fixed-width plan. Nothing beyond
    the ann_lsh_topk machinery itself."""
    from ...operators.simsearch import ann_lsh_topk, hyperplanes, \
        lsh_bucket
    e = _tbl(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    c = (e.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("cid"),
                 F.col("embedding").alias("cv")))
    bf = q_sim_topk_cosine(spark, sf_dir).select("qid", "cid")
    parts = []
    for np_ in ANN_SWEEP_PLANES:
        planes = hyperplanes(np_, 64)
        cand = (lsh_bucket(q, "qv", planes)
                .join(lsh_bucket(c, "cv", planes), "bucket"))
        n_cand = cand.agg(F.count(F.lit(1)).cast("long")
                          .alias("n_candidates"))
        topk = ann_lsh_topk(q, c, k=ANN_K, n_planes=np_) \
            .select(F.col("qid").alias("aqid"),
                    F.col("cid").alias("acid"))
        hits = (bf.join(topk, (F.col("qid") == F.col("aqid"))
                        & (F.col("cid") == F.col("acid")))
                .agg(F.count(F.lit(1)).cast("long").alias("total_hits")))
        parts.append(
            n_cand.crossJoin(hits).select(
                F.lit(np_).cast("int").alias("n_planes"),
                "n_candidates", "total_hits",
                F.expr(f"total_hits * 1000000L"
                       f" DIV {N_QUERY_VECS * ANN_K}").cast("long")
                .alias("recall_ppm")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sql_sim_ann_sweep() -> str:
    from ...operators.simsearch import hyperplanes
    bf = SQL_SIM_TOPK.strip().rstrip(";")
    blocks = []
    for np_ in ANN_SWEEP_PLANES:
        planes = hyperplanes(np_, 64)

        def bucket(col):
            return " + ".join(
                f"(CASE WHEN list_dot_product({col}, {_sql_vec_lit(p)})"
                f" >= 0 THEN {1 << i} ELSE 0 END)"
                for i, p in enumerate(planes))

        blocks.append(f"""
SELECT {np_} AS n_planes,
  (SELECT CAST(count(*) AS BIGINT)
   FROM (SELECT qid, qv, {bucket('qv')} AS bucket FROM q) qb
   JOIN (SELECT cid, cv, {bucket('cv')} AS bucket FROM c) cb
     USING (bucket)) AS n_candidates,
  (SELECT CAST(count(*) AS BIGINT) FROM bf
   JOIN (
     SELECT qid, cid FROM (
       SELECT qb.qid, cb.cid,
              row_number() OVER (
                PARTITION BY qb.qid
                ORDER BY round(list_cosine_similarity(qb.qv, cb.cv), 6)
                  DESC, cb.cid ASC) AS rk
       FROM (SELECT qid, qv, {bucket('qv')} AS bucket FROM q) qb
       JOIN (SELECT cid, cv, {bucket('cv')} AS bucket FROM c) cb
         USING (bucket))
     WHERE rk <= {ANN_K}) ann
   ON ann.qid = bf.qid AND ann.cid = bf.cid) AS total_hits""")
    body = "\nUNION ALL\n".join(
        f"SELECT n_planes, n_candidates, total_hits,"
        f" CAST(total_hits * 1000000 // {N_QUERY_VECS * ANN_K}"
        f" AS BIGINT) AS recall_ppm FROM ({b})" for b in blocks)
    return f"""
WITH q AS (SELECT vec_id AS qid, cast(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
c AS (SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id >= {N_QUERY_VECS}),
bf AS MATERIALIZED (SELECT qid, cid FROM ({bf}))
{body}
"""


def q_sim_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-balance audit for the ANN index [K: the skew read
    that decides whether an index config ships — a hot bucket is a
    hot-task straggler at query time, and empty buckets are wasted
    selectivity]: occupancy of every 2^ANN_N_PLANES sign bucket over
    the full embedding corpus (a constant bucket spine keeps EMPTY
    buckets in the result — they are the signal groupBy would drop),
    per-bucket share in exact ppm, and the chi-square statistic
    against the uniform ideal computed with an EXACT BIGINT numerator:
    chi2 = sum_b (n_b*B - n)^2 / (B*n) — the algebraic form whose
    cross-row sum is integer, leaving one double division at the end.

    Shape: one bucket pandas_udf pass + one <=2^planes-row hash agg +
    a constant spine left join + two O(1) crossJoins. The audit costs
    one corpus scan."""
    from ...operators.simsearch import hyperplanes, lsh_bucket
    e = _tbl(spark, sf_dir, "embeddings") \
        .select("vec_id", F.col("embedding").alias("nv"))
    planes = hyperplanes(ANN_N_PLANES, 64)
    b = lsh_bucket(e, "nv", planes)
    g = b.groupBy("bucket").agg(F.count(F.lit(1)).cast("long")
                                .alias("n_vecs"))
    spine = spark.createDataFrame(
        [(i,) for i in range(1 << ANN_N_PLANES)], "bucket long")
    full = (spine.join(g, "bucket", "left")
            .select("bucket",
                    F.coalesce("n_vecs", F.lit(0)).cast("long")
                    .alias("n_vecs")))
    nb = 1 << ANN_N_PLANES
    chi = (full.crossJoin(F.broadcast(
        full.agg(F.sum("n_vecs").cast("long").alias("n"))))
        .select(((F.col("n_vecs") * nb - F.col("n"))
                 * (F.col("n_vecs") * nb - F.col("n")))
                .cast("long").alias("dev2"), F.col("n"))
        .groupBy("n")
        .agg(F.sum("dev2").cast("long").alias("chi_num")))
    return (full.crossJoin(F.broadcast(chi))
            .select("bucket", "n_vecs",
                    F.expr("n_vecs * 1000000L DIV n").cast("long")
                    .alias("share_ppm"),
                    F.round(F.col("chi_num").cast("double")
                            / (F.lit(float(nb))
                               * F.col("n").cast("double")), 6)
                    .alias("chi2_uniform")))


def _sql_sim_bucket_balance() -> str:
    from ...operators.simsearch import hyperplanes
    planes = hyperplanes(ANN_N_PLANES, 64)
    nb = 1 << ANN_N_PLANES
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(nv, {_sql_vec_lit(p)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    spine_rows = ", ".join(f"({i})" for i in range(nb))
    return f"""
WITH v AS (SELECT cast(embedding AS DOUBLE[]) AS nv FROM embeddings),
b AS (SELECT {bucket} AS bucket FROM v),
g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs
      FROM b GROUP BY 1),
spine(bucket) AS (VALUES {spine_rows}),
occ AS (
  SELECT CAST(spine.bucket AS BIGINT) AS bucket,
         CAST(coalesce(g.n_vecs, 0) AS BIGINT) AS n_vecs
  FROM spine LEFT JOIN g ON g.bucket = spine.bucket),
tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n FROM occ),
chi AS (
  SELECT CAST(sum((n_vecs * {nb} - n) * (n_vecs * {nb} - n))
              AS BIGINT) AS chi_num
  FROM occ CROSS JOIN tot)
SELECT bucket, n_vecs,
       CAST(n_vecs * 1000000 // n AS BIGINT) AS share_ppm,
       round(CAST(chi_num AS DOUBLE)
             / (CAST({nb} AS DOUBLE) * CAST(n AS DOUBLE)), 6)
         AS chi2_uniform
FROM occ CROSS JOIN tot CROSS JOIN chi
"""


def q_sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ANN self-evaluation: recall@k of the product-quantized ADC
    path against the exact brute-force cosine top-k, per query, exact
    ppm [K: the eval that decides whether the memory-bound PQ serving
    shape is accurate enough to ship — the sim_recall read for the PQ
    index instead of the LSH one]. Pure composition of two paired
    queries; the truth and the approximate path each keep their own
    plan."""
    bf = q_sim_topk_cosine(spark, sf_dir).select("qid", "cid")
    pq = q_sim_pq_topk(spark, sf_dir).select(
        F.col("qid").alias("aqid"), F.col("cid").alias("acid"))
    hits = (bf.join(pq, (F.col("qid") == F.col("aqid"))
                    & (F.col("cid") == F.col("acid")))
            .groupBy("qid").agg(F.count(F.lit(1)).alias("n_hits")))
    return (bf.select("qid").distinct()
            .join(hits, "qid", "left")
            .select("qid",
                    F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
                    .cast("long").alias("n_hits"))
            .withColumn("recall_ppm",
                        F.expr(f"n_hits * 1000000L DIV {SIM_TOP_K}")
                        .cast("long")))


def _sql_sim_pq_recall() -> str:
    bf = SQL_SIM_TOPK.strip().rstrip(";")
    pq = SQL_SIM_PQ_TOPK.strip().rstrip(";")
    return f"""
WITH bf AS MATERIALIZED (SELECT qid, cid FROM ({bf})),
pq AS MATERIALIZED (SELECT qid, cid FROM ({pq})),
hits AS (
  SELECT bf.qid, CAST(count(*) AS BIGINT) AS n_hits
  FROM bf JOIN pq ON pq.qid = bf.qid AND pq.cid = bf.cid
  GROUP BY 1)
SELECT q.qid, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // {SIM_TOP_K} AS BIGINT)
         AS recall_ppm
FROM (SELECT DISTINCT qid FROM bf) q
LEFT JOIN hits h ON h.qid = q.qid
"""


def q_sim_label_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-metric calibration against labels [K: the kg_
    calibration read for the VECTOR space — if higher cosine between
    neighbors doesn't raise the same-label rate, the embedding
    carries no class signal and every cosine-thresholded pipeline
    downstream is noise]: the wave-41 kNN edges joined to both
    endpoints' labels, binned by cosine (exact integer binning over
    the round6 ppm cosine), per bin: edge count, same-label count and
    rate in exact ppm.

    Shape: the kNN graph + two broadcast label joins + one <=8-row
    hash agg. Nothing beyond the graph build itself."""
    g = q_sim_knn_graph(spark, sf_dir)
    e = _tbl(spark, sf_dir, "embeddings")
    la = e.select(F.col("vec_id").alias("src"),
                  F.col("label").alias("label_a"))
    lb = e.select(F.col("vec_id").alias("dst"),
                  F.col("label").alias("label_b"))
    j = (g.join(F.broadcast(la), "src").join(F.broadcast(lb), "dst")
         .select(
             F.expr(f"CAST(floor((round(cos * 1000000, 0) + 1000000)"
                    f" / ({CAL_BIN_W} * 100000)) AS INT)").alias("bin"),
             (F.col("label_a") == F.col("label_b")).cast("long")
             .alias("same")))
    return (j.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_edges"),
                 F.sum("same").cast("long").alias("n_same_label"),
                 F.expr("sum(same) * 1000000 DIV count(1)")
                 .cast("long").alias("same_rate_ppm")))


def _sql_sim_label_calibration() -> str:
    knn = _sql_sim_knn_graph().strip().rstrip(";")
    return f"""
WITH knn AS MATERIALIZED ({knn}),
j AS (
  SELECT CAST(floor((round(k.cos * 1000000, 0) + 1000000)
              / ({CAL_BIN_W} * 100000)) AS INT) AS bin,
         CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS same
  FROM knn k
  JOIN embeddings a ON a.vec_id = k.src
  JOIN embeddings b ON b.vec_id = k.dst)
SELECT bin, CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(same) AS BIGINT) AS n_same_label,
       CAST(sum(same) * 1000000 // count(*) AS BIGINT)
         AS same_rate_ppm
FROM j GROUP BY 1
"""


def q_sim_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding variance profile [K: the dead-unit /
    collapsed-dimension check an embedding QA job runs — a dimension
    whose variance is a tiny fraction of the mean carries no signal
    and hints at training collapse or a truncation bug]: components
    quantized to DIMVAR_SCALE fixed-point integers (the centroid-
    drift convention), per-position exact (n, S, SS) BIGINTs, sample
    variance in micro-units via integer cross-multiplied division so
    the 64-row mean-variance reference is itself an exact integer
    mean, and the dead flag compares each dim against
    DIMVAR_DEAD_PPM of that reference without ever leaving integers.

    Shape: one posexplode scan -> one 64-row hash agg -> one O(1)
    reference agg crossJoined back. The columnar unpivot is the whole
    cost."""
    e = _tbl(spark, sf_dir, "embeddings")
    q = (e.select(F.posexplode(F.col("embedding")).alias("pos", "v"))
         .select("pos",
                 F.floor(F.col("v").cast("double") * DIMVAR_SCALE)
                 .cast("long").alias("qv")))
    g = q.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qv").cast("long").alias("s"),
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("ss"))
    # sample variance in exact micro-units of DIMVAR_SCALE^2:
    # var_u = (n*SS - S^2) * 1e6 DIV (n*(n-1))
    gv = g.select("pos", "n",
                  F.expr("(n * ss - s * s) * 1000000L"
                         " DIV (n * (n - 1))").cast("long")
                  .alias("var_u"))
    ref = gv.agg(F.count(F.lit(1)).cast("long").alias("dims"),
                 F.expr("sum(var_u) DIV count(1)").cast("long")
                 .alias("mean_var_u"))
    return (gv.crossJoin(F.broadcast(ref))
            .select(F.col("pos").cast("int").alias("pos"),
                    "var_u", "mean_var_u",
                    F.expr("var_u * 1000000L DIV greatest(mean_var_u, 1)")
                    .cast("long").alias("var_share_ppm"),
                    F.expr(f"CAST(var_u * 1000000L"
                           f" DIV greatest(mean_var_u, 1)"
                           f" < {DIMVAR_DEAD_PPM} AS INT)")
                    .alias("is_dead")))


def _sql_sim_dim_variance() -> str:
    return f"""
WITH q AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {DIMVAR_SCALE})
              AS BIGINT) AS qv
  FROM embeddings),
g AS (
  SELECT pos, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qv) AS BIGINT) AS s,
         CAST(sum(qv * qv) AS BIGINT) AS ss
  FROM q GROUP BY 1),
gv AS (
  SELECT pos, n,
         CAST((n * ss - s * s) * 1000000 // (n * (n - 1)) AS BIGINT)
           AS var_u
  FROM g),
ref AS (SELECT CAST(count(*) AS BIGINT) AS dims,
               CAST(sum(var_u) // count(*) AS BIGINT) AS mean_var_u
        FROM gv)
SELECT CAST(pos AS INT) AS pos, var_u, mean_var_u,
       CAST(var_u * 1000000 // greatest(mean_var_u, 1) AS BIGINT)
         AS var_share_ppm,
       CAST(CASE WHEN var_u * 1000000 // greatest(mean_var_u, 1)
                      < {DIMVAR_DEAD_PPM}
            THEN 1 ELSE 0 END AS INT) AS is_dead
FROM gv CROSS JOIN ref
"""


def q_sim_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-example triplet mining over the labeled embedding corpus
    (operators/simsearch.py:triplet_mining) [K: batch-hard mining of
    metric-learning — per anchor the hardest same-label positive
    (lowest cosine) and hardest different-label negative (highest
    cosine) within the anchor's LSH bucket, plus the margin-violation
    flag that selects gradient-carrying triplets]. Paired: the 3
    hyperplanes are deterministic constants, so DuckDB recomputes the
    identical sign buckets, round-6 cosines, exact ppm integers, and
    the identical (cos, id) tiebreaks."""
    from ...operators.simsearch import triplet_mining
    return triplet_mining(_tbl(spark, sf_dir, "embeddings"),
                          n_planes=TRIPLET_N_PLANES,
                          margin_ppm=TRIPLET_MARGIN_PPM)


def _sql_sim_triplet_mining() -> str:
    from ...operators.simsearch import hyperplanes
    planes = hyperplanes(TRIPLET_N_PLANES, 64)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(nv, {_sql_vec_lit(p)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
WITH v AS (SELECT vec_id AS nid, cast(embedding AS DOUBLE[]) AS nv,
                  label FROM embeddings),
b AS (SELECT nid, nv, label, {bucket} AS bucket FROM v),
pairs AS (
  SELECT a.nid AS aid, a.label AS albl, c.nid AS cid,
         c.label AS clbl,
         CAST(round(round(list_cosine_similarity(a.nv, c.nv), 6)
                    * 1000000, 0) AS BIGINT) AS cos_ppm
  FROM b a JOIN b c USING (bucket)
  WHERE a.nid <> c.nid),
pos AS (
  SELECT aid, cid AS pos_id, cos_ppm AS pos_ppm FROM (
    SELECT aid, cid, cos_ppm,
           row_number() OVER (PARTITION BY aid
                              ORDER BY cos_ppm ASC, cid ASC) AS rk
    FROM pairs WHERE albl = clbl) WHERE rk = 1),
neg AS (
  SELECT aid, cid AS neg_id, cos_ppm AS neg_ppm FROM (
    SELECT aid, cid, cos_ppm,
           row_number() OVER (PARTITION BY aid
                              ORDER BY cos_ppm DESC, cid ASC) AS rk
    FROM pairs WHERE albl <> clbl) WHERE rk = 1),
cnt AS (
  SELECT aid, max(albl) AS label,
         CAST(sum(CASE WHEN albl = clbl THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos_cand,
         CAST(sum(CASE WHEN albl <> clbl THEN 1 ELSE 0 END) AS BIGINT)
           AS n_neg_cand
  FROM pairs GROUP BY aid)
SELECT cnt.aid AS vec_id, cnt.label, pos.pos_id, pos.pos_ppm,
       neg.neg_id, neg.neg_ppm, cnt.n_pos_cand, cnt.n_neg_cand,
       CAST(CASE WHEN neg.neg_ppm + {TRIPLET_MARGIN_PPM} > pos.pos_ppm
            THEN 1 ELSE 0 END AS INT) AS violation
FROM cnt JOIN pos USING (aid) JOIN neg USING (aid)
"""


def q_sim_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the kNN graph [K: the curse-of-dimensionality
    read — in high-dim embedding spaces a few 'hub' points appear in
    everyone's top-k while antihubs appear in nobody's; a right-skewed
    k-occurrence distribution degrades kNN search/cluster quality and
    is THE standard diagnostic (Radovanovic et al.)]: the k-occurrence
    histogram (in-degree over kNN edges, zero-in-degree nodes
    included) with the distribution's mean in exact ppm and its
    moment skewness from EXACT integer power sums (n^2*S3 - 3n*S1*S2
    + 2*S1^3 over the variance^1.5, written v*sqrt(v) — sqrt is
    IEEE-correctly-rounded where libm pow(x,1.5) is not, a
    cross-engine hash hazard — round 6).

    Shape: the kNN graph's bucketed join, one in-degree hash agg, a
    left join from the node list (antihubs count), one histogram agg,
    two O(1)-row moment aggs broadcast back. Never all-pairs."""
    from ...operators.simsearch import knn_graph
    vecs = _tbl(spark, sf_dir, "embeddings")
    g = knn_graph(vecs, k=KNNG_K, n_planes=KNNG_N_PLANES)
    indeg = g.groupBy("dst").agg(F.count(F.lit(1)).cast("long")
                                 .alias("k_occ"))
    occ = (vecs.select(F.col("vec_id").alias("dst"))
           .join(indeg, "dst", "left")
           .select(F.coalesce("k_occ", F.lit(0)).cast("long")
                   .alias("k_occ")))
    mom = occ.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k_occ").cast("long").alias("s1"),
        F.sum(F.col("k_occ") * F.col("k_occ")).cast("long").alias("s2"),
        F.sum(F.col("k_occ") * F.col("k_occ") * F.col("k_occ"))
        .cast("long").alias("s3"),
        F.max("k_occ").cast("long").alias("max_k_occ"))
    hist = occ.groupBy("k_occ").agg(F.count(F.lit(1)).cast("long")
                                    .alias("n_nodes"))
    return (hist.crossJoin(F.broadcast(mom))
            .select("k_occ", "n_nodes",
                    F.expr("s1 * 1000000 DIV n").cast("long")
                    .alias("mean_ppm"),
                    "max_k_occ", "n",
                    F.round(F.when(
                        F.col("n") * F.col("s2") - F.col("s1")
                        * F.col("s1") > 0,
                        (F.col("n") * F.col("n") * F.col("s3")
                         - 3 * F.col("n") * F.col("s1") * F.col("s2")
                         + 2 * F.col("s1") * F.col("s1") * F.col("s1"))
                        .cast("double")
                        / (F.col("n").cast("double")
                           * ((F.col("n") * F.col("s2")
                               - F.col("s1") * F.col("s1"))
                              .cast("double")
                              * F.sqrt((F.col("n") * F.col("s2")
                                        - F.col("s1") * F.col("s1"))
                                       .cast("double"))))),
                        6).alias("skew_g")))


def _sql_sim_hubness() -> str:
    from ...operators.simsearch import hyperplanes
    planes = hyperplanes(KNNG_N_PLANES, 64)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(nv, {_sql_vec_lit(p)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
WITH v AS (SELECT vec_id AS nid, cast(embedding AS DOUBLE[]) AS nv
           FROM embeddings),
b AS (SELECT nid, nv, {bucket} AS bucket FROM v),
pairs AS (
  SELECT a.nid AS src, c.nid AS dst,
         round(list_cosine_similarity(a.nv, c.nv), 6) AS cos
  FROM b a JOIN b c USING (bucket)
  WHERE a.nid <> c.nid),
topk AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY cos DESC, dst ASC) AS rk
    FROM pairs) WHERE rk <= {KNNG_K}),
occ AS (
  SELECT CAST(coalesce(i.k_occ, 0) AS BIGINT) AS k_occ
  FROM v LEFT JOIN (SELECT dst, CAST(count(*) AS BIGINT) AS k_occ
                    FROM topk GROUP BY dst) i ON i.dst = v.nid),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(k_occ) AS BIGINT) AS s1,
         CAST(sum(k_occ * k_occ) AS BIGINT) AS s2,
         CAST(sum(k_occ * k_occ * k_occ) AS BIGINT) AS s3,
         CAST(max(k_occ) AS BIGINT) AS max_k_occ
  FROM occ),
hist AS (
  SELECT k_occ, CAST(count(*) AS BIGINT) AS n_nodes
  FROM occ GROUP BY 1)
SELECT k_occ, n_nodes,
       CAST(s1 * 1000000 // n AS BIGINT) AS mean_ppm,
       max_k_occ, n,
       round(CASE WHEN n * s2 - s1 * s1 > 0 THEN
             CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
                  AS DOUBLE)
             / (CAST(n AS DOUBLE)
                * (CAST(n * s2 - s1 * s1 AS DOUBLE)
                   * sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))))
             END, 6) AS skew_g
FROM hist CROSS JOIN mom
"""


def q_sim_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding norm-hygiene audit [K: the vector-store intake check
    — zero vectors poison cosine (0/0), near-zero norms amplify
    quantization error, NaN components corrupt every distance; and a
    multimodal norm histogram reveals mixed encoder versions sharing
    one table]: the power-of-two histogram of squared norms in exact
    micro-units (bit-length binning, no libm), with corpus-wide
    zero / near-zero / NaN counts and the extreme norms attached.
    The squared norm folds over the vector's OWN component order
    (deterministic on both engines — arrays are ordered; no sort, no
    cross-engine sum-order hazard).

    Shape: map-only per-vector fold + one bin histogram agg + one
    O(1) corpus agg broadcast back. One scan, no shuffle beyond the
    tiny bin agg."""
    v = _tbl(spark, sf_dir, "embeddings")
    arr = F.expr("CAST(embedding AS ARRAY<DOUBLE>)")
    base = v.select(
        F.expr("CAST(round(aggregate(CAST(embedding AS ARRAY<DOUBLE>),"
               " CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)"
               " * 1000000, 0) AS BIGINT)").alias("n2_u"),
        F.exists(arr, lambda x: F.isnan(x)).cast("int").alias("has_nan"))
    b = base.select(
        (F.length(F.bin(F.col("n2_u") + 1)) - 1).cast("int")
        .alias("bin"), "n2_u", "has_nan")
    hist = b.groupBy("bin").agg(F.count(F.lit(1)).cast("long")
                                .alias("n_vecs"))
    tot = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("n2_u") == 0).cast("long")).cast("long")
        .alias("n_zero"),
        F.sum((F.col("n2_u") < 1000).cast("long")).cast("long")
        .alias("n_tiny"),
        F.sum("has_nan").cast("long").alias("n_nan"),
        F.min("n2_u").cast("long").alias("min_n2_u"),
        F.max("n2_u").cast("long").alias("max_n2_u"))
    return (hist.crossJoin(F.broadcast(tot))
            .select("bin", "n_vecs", "n", "n_zero", "n_tiny", "n_nan",
                    "min_n2_u", "max_n2_u"))


def _sql_sim_norm_audit() -> str:
    return """
WITH base AS (
  SELECT CAST(round(coalesce(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> x * x)),
           (a, b) -> a + b), 0.0) * 1000000, 0) AS BIGINT) AS n2_u,
         CAST(CASE WHEN len(list_filter(CAST(embedding AS DOUBLE[]),
                                        x -> isnan(x))) > 0
              THEN 1 ELSE 0 END AS INT) AS has_nan
  FROM embeddings),
b AS (
  SELECT CAST(length(bin(n2_u + 1)) - 1 AS INT) AS bin, n2_u, has_nan
  FROM base),
hist AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_vecs FROM b GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN n2_u = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero,
         CAST(sum(CASE WHEN n2_u < 1000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tiny,
         CAST(sum(has_nan) AS BIGINT) AS n_nan,
         CAST(min(n2_u) AS BIGINT) AS min_n2_u,
         CAST(max(n2_u) AS BIGINT) AS max_n2_u
  FROM b)
SELECT bin, n_vecs, n, n_zero, n_tiny, n_nan, min_n2_u, max_n2_u
FROM hist CROSS JOIN tot
"""


def q_sim_knn_label_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-noise detection [K: the classic Wilson-editing /
    confident-learning-lite QA on labeled training vectors — if a
    point's k nearest neighbors vote for a DIFFERENT label by a
    clear margin, the point's label is suspect; data teams run
    exactly this before fine-tuning on weak labels]: per node its own
    label, the neighbor-majority label (deterministic tie -> smallest
    label id), the vote counts, and the suspect flag (majority
    disagrees AND wins by >= 2 votes).

    Shape: the kNN graph's bucketed join, one broadcast label join
    onto the edge list, one (node, neighbor-label) agg, one struct-
    max per node (no rank window). Never all-pairs."""
    from ...operators.simsearch import knn_graph
    vecs = _tbl(spark, sf_dir, "embeddings")
    g = knn_graph(vecs, k=KNNG_K, n_planes=KNNG_N_PLANES)
    lbl = vecs.select(F.col("vec_id").alias("dst"),
                      F.col("label").alias("nlbl"))
    own = vecs.select("vec_id", "label")
    votes = (g.join(F.broadcast(lbl), "dst")
             .groupBy(F.col("src").alias("vec_id"), "nlbl")
             .agg(F.count(F.lit(1)).cast("long").alias("v")))
    best = (votes.groupBy("vec_id")
            .agg(F.max(F.struct(F.col("v"),
                                (-F.col("nlbl")).alias("nl")))
                 .alias("top"),
                 F.sum("v").cast("long").alias("k_used")))
    j = (own.join(best, "vec_id", "left")
         .select("vec_id", "label",
                 (-F.col("top.nl")).cast("int").alias("majority_label"),
                 F.coalesce(F.col("top.v"), F.lit(0)).cast("long")
                 .alias("majority_votes"),
                 F.coalesce("k_used", F.lit(0)).cast("long")
                 .alias("k_used")))
    own_votes = (votes.select(F.col("vec_id"),
                              F.col("nlbl").cast("int").alias("label"),
                              F.col("v").alias("own_v")))
    return (j.join(own_votes, ["vec_id", "label"], "left")
            .select("vec_id", "label", "majority_label",
                    "majority_votes",
                    F.coalesce("own_v", F.lit(0)).cast("long")
                    .alias("own_votes"),
                    "k_used",
                    ((F.col("majority_label") != F.col("label"))
                     & (F.col("majority_votes")
                        - F.coalesce("own_v", F.lit(0)) >= 2)
                     & (F.col("k_used") > 0)).cast("int")
                    .alias("suspect")))


def _sql_sim_knn_label_smooth() -> str:
    from ...operators.simsearch import hyperplanes
    planes = hyperplanes(KNNG_N_PLANES, 64)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(nv, {_sql_vec_lit(p)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
WITH v AS (SELECT vec_id AS nid, cast(embedding AS DOUBLE[]) AS nv,
                  label FROM embeddings),
b AS (SELECT nid, nv, label, {bucket} AS bucket FROM v),
pairs AS (
  SELECT a.nid AS src, c.nid AS dst, c.label AS nlbl,
         round(list_cosine_similarity(a.nv, c.nv), 6) AS cos
  FROM b a JOIN b c USING (bucket)
  WHERE a.nid <> c.nid),
topk AS (
  SELECT src, dst, nlbl FROM (
    SELECT src, dst, nlbl,
           row_number() OVER (PARTITION BY src
                              ORDER BY cos DESC, dst ASC) AS rk
    FROM pairs) WHERE rk <= {KNNG_K}),
votes AS (
  SELECT src AS vec_id, nlbl, CAST(count(*) AS BIGINT) AS vv
  FROM topk GROUP BY 1, 2),
best AS (
  SELECT vec_id,
         first(nlbl ORDER BY vv DESC, nlbl ASC) AS majority_label,
         CAST(max(vv) AS BIGINT) AS majority_votes,
         CAST(sum(vv) AS BIGINT) AS k_used
  FROM votes GROUP BY vec_id),
own AS (SELECT nid AS vec_id, label FROM v)
SELECT own.vec_id, own.label,
       CAST(best.majority_label AS INT) AS majority_label,
       CAST(coalesce(best.majority_votes, 0) AS BIGINT)
         AS majority_votes,
       CAST(coalesce(ov.vv, 0) AS BIGINT) AS own_votes,
       CAST(coalesce(best.k_used, 0) AS BIGINT) AS k_used,
       CAST(CASE WHEN best.majority_label <> own.label
                  AND coalesce(best.majority_votes, 0)
                      - coalesce(ov.vv, 0) >= 2
                  AND coalesce(best.k_used, 0) > 0
            THEN 1 ELSE 0 END AS INT) AS suspect
FROM own LEFT JOIN best USING (vec_id)
LEFT JOIN votes ov ON ov.vec_id = own.vec_id
                  AND ov.nlbl = own.label
"""


def q_sim_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding manifold
    [K: Facco et al.'s two-nearest-neighbor MLE — ID ~= n / sum
    ln(r2/r1); embeddings that nominally live in 64-d usually
    concentrate on a much lower-dimensional manifold, and the ID
    number drives index choice (IVF cell counts, HNSW M) and
    compression budgets]: per anchor the two nearest in-bucket
    cosine DISTANCES as exact ppm integers, the log-ratio
    INTEGERIZED to nano-units per anchor (round(ln(d2/d1)*1e9) —
    an exact BIGINT sum is order-invariant where a raw double sum is
    engine-order-dependent), anchors with d1=0 (exact duplicates) or
    fewer than 2 bucket mates excluded and counted.

    Shape: the kNN graph's bucketed join (never all-pairs), one
    per-anchor agg, one exact integer 1-row sum. The estimator
    quality is bucket-local, same recall trade as ann_lsh_topk."""
    from ...operators.simsearch import knn_graph
    vecs = _tbl(spark, sf_dir, "embeddings")
    g = knn_graph(vecs, k=2, n_planes=KNNG_N_PLANES)
    d = g.select("src", "rk",
                 (F.lit(1000000)
                  - F.expr("CAST(round(cos * 1000000, 0) AS BIGINT)"))
                 .alias("d_ppm"))
    per = (d.groupBy("src")
           .agg(F.count(F.lit(1)).cast("long").alias("k_found"),
                F.min(F.when(F.col("rk") == 1, F.col("d_ppm")))
                .cast("long").alias("d1"),
                F.min(F.when(F.col("rk") == 2, F.col("d_ppm")))
                .cast("long").alias("d2")))
    usable = per.filter((F.col("k_found") >= 2) & (F.col("d1") > 0))
    n_all = vecs.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    s = usable.select(F.expr(
        "CAST(round(ln(CAST(d2 AS DOUBLE) / CAST(d1 AS DOUBLE))"
        " * 1000000000, 0) AS BIGINT)").alias("ln_nano"))
    agg = s.agg(F.count(F.lit(1)).cast("long").alias("n_used"),
                F.sum("ln_nano").cast("long").alias("sum_ln_nano"))
    return (agg.crossJoin(F.broadcast(n_all))
            .select("n_used", "sum_ln_nano", "n_vecs",
                    (F.col("n_vecs") - F.col("n_used")).cast("long")
                    .alias("n_skipped"),
                    F.round(F.when(
                        F.col("sum_ln_nano") > 0,
                        F.col("n_used").cast("double") * 1.0e9
                        / F.col("sum_ln_nano").cast("double")), 6)
                    .alias("id_hat")))


def _sql_sim_intrinsic_dim() -> str:
    from ...operators.simsearch import hyperplanes
    planes = hyperplanes(KNNG_N_PLANES, 64)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(nv, {_sql_vec_lit(p)}) >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
WITH v AS (SELECT vec_id AS nid, cast(embedding AS DOUBLE[]) AS nv
           FROM embeddings),
b AS (SELECT nid, nv, {bucket} AS bucket FROM v),
pairs AS (
  SELECT a.nid AS src, c.nid AS dst,
         round(list_cosine_similarity(a.nv, c.nv), 6) AS cos
  FROM b a JOIN b c USING (bucket)
  WHERE a.nid <> c.nid),
topk AS (
  SELECT src, rk,
         CAST(1000000 - CAST(round(cos * 1000000, 0) AS BIGINT)
              AS BIGINT) AS d_ppm
  FROM (
    SELECT src, dst, cos,
           row_number() OVER (PARTITION BY src
                              ORDER BY cos DESC, dst ASC) AS rk
    FROM pairs) WHERE rk <= 2),
per AS (
  SELECT src, CAST(count(*) AS BIGINT) AS k_found,
         CAST(min(CASE WHEN rk = 1 THEN d_ppm END) AS BIGINT) AS d1,
         CAST(min(CASE WHEN rk = 2 THEN d_ppm END) AS BIGINT) AS d2
  FROM topk GROUP BY 1),
usable AS (SELECT * FROM per WHERE k_found >= 2 AND d1 > 0),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_used,
         CAST(coalesce(sum(CAST(round(ln(CAST(d2 AS DOUBLE)
                                          / CAST(d1 AS DOUBLE))
                                      * 1000000000, 0) AS BIGINT)),
                       0) AS BIGINT) AS sum_ln_nano
  FROM usable),
na AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM v)
SELECT n_used, sum_ln_nano, n_vecs,
       CAST(n_vecs - n_used AS BIGINT) AS n_skipped,
       round(CASE WHEN sum_ln_nano > 0
             THEN CAST(n_used AS DOUBLE) * 1.0e9
                  / CAST(sum_ln_nano AS DOUBLE) END, 6) AS id_hat
FROM agg CROSS JOIN na
"""


def q_sim_ivf_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe recall/cost sweep [K: the index-tuning curve every
    vector-store operator reads before fixing nprobe — recall@k
    climbs with probed cells while scan cost climbs linearly, and
    the knee of this curve IS the production setting; the LSH analog
    is sim_ann_sweep, this is the IVF side]: for each nprobe in
    {1,2,4,8} the mean recall@k vs the exact top-k (exact ppm —
    integer overlap counts over n_queries*k), the mean candidates
    scanned per query (exact DIV), and the total overlap.

    Shape: per nprobe one IVF bucketed join (equi-join on probed
    cell — never all-pairs) plus one broadcast-bounded exact pass
    shared across the sweep; unions of tiny per-probe aggregates.
    The exact side is the same N_QUERY_VECS-bounded brute pass
    sim_recall uses."""
    from ...operators.simsearch import ann_ivf_topk, cosine_topk
    e = _tbl(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    c = (e.filter(F.col("vec_id") >= N_QUERY_VECS)
         .select(F.col("vec_id").alias("cid"),
                 F.col("embedding").alias("cv")))
    exact = cosine_topk(q, c, k=ANN_K).select(
        "qid", F.col("cid").alias("ecid"))
    outs = []
    for npb in IVF_SWEEP_PROBES:
        approx = ann_ivf_topk(q, c, k=ANN_K, n_cells=IVF_N_CELLS,
                              n_probe=npb)
        hit = (approx.join(exact,
                           (approx["qid"] == exact["qid"])
                           & (approx["cid"] == exact["ecid"]))
               .agg(F.count(F.lit(1)).cast("long").alias("overlap")))
        # candidates scanned = candidate rows inside probed cells
        from ...operators.simsearch import ivf_centroids
        C = ivf_centroids(IVF_N_CELLS, 64)
        cent = spark.createDataFrame(
            [(i, [float(x) for x in C[i]]) for i in range(IVF_N_CELLS)],
            "cell int, cvec array<double>")
        dot = F.expr("aggregate(zip_with(CAST(v AS ARRAY<DOUBLE>),"
                     " cvec, (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
                     " (a, x) -> a + x)")
        ca = (c.select(F.col("cid"), F.col("cv").alias("v"))
              .crossJoin(F.broadcast(cent)).withColumn("d", dot)
              .withColumn("rnk", F.row_number().over(
                  Window.partitionBy("cid")
                  .orderBy(F.desc("d"), F.asc("cell"))))
              .filter(F.col("rnk") == 1)
              .select("cid", "cell"))
        qa = (q.select(F.col("qid"), F.col("qv").alias("v"))
              .crossJoin(F.broadcast(cent)).withColumn("d", dot)
              .withColumn("rnk", F.row_number().over(
                  Window.partitionBy("qid")
                  .orderBy(F.desc("d"), F.asc("cell"))))
              .filter(F.col("rnk") <= npb)
              .select("qid", "cell"))
        scan = (qa.join(ca, "cell")
                .agg(F.count(F.lit(1)).cast("long").alias("scanned")))
        nq = q.agg(F.count(F.lit(1)).cast("long").alias("nq"))
        outs.append(
            hit.crossJoin(F.broadcast(scan)).crossJoin(F.broadcast(nq))
            .select(F.lit(npb).cast("int").alias("n_probe"),
                    F.col("nq").cast("long").alias("n_queries"),
                    "overlap",
                    F.expr(f"overlap * 1000000 DIV (nq * {ANN_K})")
                    .cast("long").alias("recall_ppm"),
                    F.expr("scanned DIV nq").cast("long")
                    .alias("mean_candidates")))
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


def _sql_sim_ivf_sweep() -> str:
    from ...operators.simsearch import ivf_centroids
    C = ivf_centroids(IVF_N_CELLS, 64)
    cent_rows = ",\n    ".join(
        f"({i}, {_sql_vec_lit(C[i])}::DOUBLE[])"
        for i in range(IVF_N_CELLS))
    blocks = []
    for npb in IVF_SWEEP_PROBES:
        blocks.append(f"""
SELECT {npb} AS n_probe,
       (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_queries,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT p.qid, a.cid,
                     row_number() OVER (PARTITION BY p.qid
                         ORDER BY round(list_cosine_similarity(
                             p.qv, a.cv), 6) DESC, a.cid ASC) AS rk
              FROM (SELECT qid, qv, cell FROM qc
                    WHERE rnk <= {npb}) p
              JOIN cassign a USING (cell)) ap
        JOIN exact ON exact.qid = ap.qid AND exact.ecid = ap.cid
        WHERE ap.rk <= {ANN_K}) AS overlap,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT p.qid, a.cid,
                     row_number() OVER (PARTITION BY p.qid
                         ORDER BY round(list_cosine_similarity(
                             p.qv, a.cv), 6) DESC, a.cid ASC) AS rk
              FROM (SELECT qid, qv, cell FROM qc
                    WHERE rnk <= {npb}) p
              JOIN cassign a USING (cell)) ap
        JOIN exact ON exact.qid = ap.qid AND exact.ecid = ap.cid
        WHERE ap.rk <= {ANN_K})
       * 1000000 // ((SELECT count(*) FROM q) * {ANN_K})
         AS recall_ppm,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT qid, cell FROM qc WHERE rnk <= {npb}) pp
        JOIN cassign a USING (cell))
       // (SELECT count(*) FROM q) AS mean_candidates""")
    body = "\nUNION ALL\n".join(blocks)
    return f"""
WITH cent(cell, cvec) AS (
  VALUES
    {cent_rows}
),
q AS (SELECT vec_id AS qid, cast(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
c AS (SELECT vec_id AS cid, cast(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id >= {N_QUERY_VECS}),
cc AS (
  SELECT cid, cv, cell,
         row_number() OVER (PARTITION BY cid
             ORDER BY list_dot_product(cv, cvec) DESC, cell ASC)
           AS rnk
  FROM c CROSS JOIN cent),
cassign AS (SELECT cid, cv, cell FROM cc WHERE rnk = 1),
qc AS (
  SELECT qid, qv, cell,
         row_number() OVER (PARTITION BY qid
             ORDER BY list_dot_product(qv, cvec) DESC, cell ASC)
           AS rnk
  FROM q CROSS JOIN cent),
exact AS (
  SELECT qid, cid AS ecid FROM (
    SELECT q.qid, c.cid,
           row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6)
                        DESC, c.cid ASC) AS rk
    FROM q CROSS JOIN c) WHERE rk <= {ANN_K})
{body}
"""


def q_sim_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anisotropy audit [K: Ethayarajh's finding —
    contextual embeddings huddle in a narrow cone, so the MEAN
    PAIRWISE COSINE sits far above 0 and similarity scores lose
    contrast; the fix (mean-centering / whitening) starts from
    exactly this number]: the mean pairwise cosine over all n(n-1)
    ordered pairs WITHOUT an all-pairs join, via the identity
    sum_pairs cos = ||sum u||^2 - n over unit vectors — per-vector
    components are normalized then INTEGERIZED to nano-units so the
    per-dimension sums are exact BIGINTs (order-invariant), and
    ||sum u||^2 folds over the 64 dims in index order. Also emits
    the most biased dimension (the rogue-dimension read) with its
    mean component in ppm.

    Shape: one map-side normalize + posexplode (64x bounded), one
    per-dim hash agg (64 rows), one ordered fold. Never a pair
    join."""
    v = _tbl(spark, sf_dir, "embeddings")
    unit = v.select(
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> "
            "CAST(round(x / sqrt(aggregate(CAST(embedding AS"
            " ARRAY<DOUBLE>), CAST(0.0 AS DOUBLE),"
            " (a, y) -> a + y * y)) * 1000000000, 0) AS BIGINT))")
        .alias("u"))
    dims = (unit.select(F.posexplode("u").alias("pos", "c"))
            .groupBy("pos")
            .agg(F.sum("c").cast("long").alias("s")))
    n = unit.agg(F.count(F.lit(1)).cast("long").alias("n"))
    arr = dims.agg(F.sort_array(F.collect_list(F.struct(
        F.col("pos"), F.col("s")))).alias("arr"))
    j = arr.crossJoin(F.broadcast(n))
    norm2 = F.aggregate(
        F.col("arr"), F.lit(0.0),
        lambda a, x: a + (x.s.cast("double") / 1.0e9)
        * (x.s.cast("double") / 1.0e9))
    biased = dims.agg(F.max(F.struct(F.abs(F.col("s")).alias("a"),
                                     (-F.col("pos")).alias("np"),
                                     F.col("s"))).alias("b"))
    return (j.crossJoin(F.broadcast(biased))
            .crossJoin(F.broadcast(n.select(
                F.col("n").alias("n2"))))
            .select(
                F.col("n"),
                F.round((norm2 - F.col("n").cast("double"))
                        / (F.col("n").cast("double")
                           * (F.col("n") - 1).cast("double")), 6)
                .alias("mean_pairwise_cos"),
                (-F.col("b.np")).cast("int").alias("biased_dim"),
                F.expr("CAST(b.s DIV (n2 * 1000) AS BIGINT)")
                .alias("biased_dim_mean_ppm")))


def _sql_sim_anisotropy() -> str:
    return """
WITH unit AS (
  SELECT list_transform(cast(embedding AS DOUBLE[]), x ->
           CAST(round(x / sqrt(coalesce(list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(cast(embedding AS DOUBLE[]),
                              y -> y * y)),
             (a, b) -> a + b), 0.0)) * 1000000000, 0) AS BIGINT))
         AS u
  FROM embeddings),
dims AS (
  SELECT pos - 1 AS pos, CAST(sum(c) AS BIGINT) AS s
  FROM (SELECT unnest(u) AS c,
               generate_subscripts(u, 1) AS pos
        FROM unit)
  GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM unit),
arr AS (
  SELECT list(struct_pack(pos := pos, s := s) ORDER BY pos) AS arr
  FROM dims),
biased AS (
  SELECT first(pos ORDER BY abs(s) DESC, pos ASC) AS biased_dim,
         first(s ORDER BY abs(s) DESC, pos ASC) AS bs
  FROM dims)
SELECT n,
       round((coalesce(list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(arr, x ->
                    (CAST(x.s AS DOUBLE) / 1.0e9)
                    * (CAST(x.s AS DOUBLE) / 1.0e9))),
                (a, b) -> a + b), 0.0) - CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6)
         AS mean_pairwise_cos,
       CAST(biased_dim AS INT) AS biased_dim,
       CAST(bs // (n * 1000) AS BIGINT) AS biased_dim_mean_ppm
FROM arr CROSS JOIN n CROSS JOIN biased
"""


def q_sim_mahalanobis_ood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-Mahalanobis OOD scoring [K: the model-based
    out-of-distribution detector — score = sum_i (x_i - mu_i)^2 /
    var_i is chi^2(d)-distributed for in-distribution gaussians, so
    anything far above d + 3*sqrt(2d) is OOD; complements the
    NEIGHBOR-based sim_outliers with a parametric read that needs no
    join at query time]: per vector the score (round 6) and the OOD
    flag, plus corpus d and the fence on every row. The per-dim
    mean/variance come from exact integer micro-unit moments
    (n, S, SS per position — the sim_dim_variance idiom) and the
    per-vector score folds over dims in index order (deterministic).

    Shape: one bounded posexplode + per-dim hash agg (64 rows,
    broadcast back as a sorted array), then a map-side fold per
    vector. At 10^12 vectors the stats pass is one scan and scoring
    is embarrassingly parallel."""
    v = _tbl(spark, sf_dir, "embeddings")
    comp = v.select(F.posexplode(
        F.expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x ->"
               " CAST(round(x * 1000000, 0) AS BIGINT))"))
        .alias("pos", "c"))
    stats = (comp.groupBy("pos")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("c").cast("long").alias("s"),
                  F.sum(F.col("c") * F.col("c")).cast("long")
                  .alias("ss")))
    arr = stats.agg(F.sort_array(F.collect_list(F.struct(
        "pos", "n", "s", "ss"))).alias("st"),
        F.count(F.lit(1)).cast("long").alias("d"))
    j = v.crossJoin(F.broadcast(arr))
    # mu_u = s/n (micro-units, double); var_u2 = (n*ss - s*s)/(n*(n-1))
    score = F.aggregate(
        F.expr("arrays_zip(transform(CAST(embedding AS ARRAY<DOUBLE>),"
               " x -> CAST(round(x * 1000000, 0) AS BIGINT)), st)"),
        F.lit(0.0),
        lambda a, z: a
        + (z["0"].cast("double") - z.st.s.cast("double")
           / z.st.n.cast("double"))
        * (z["0"].cast("double") - z.st.s.cast("double")
           / z.st.n.cast("double"))
        / ((z.st.n.cast("double") * z.st.ss.cast("double")
            - z.st.s.cast("double") * z.st.s.cast("double"))
           / (z.st.n.cast("double") * (z.st.n.cast("double")
                                       - F.lit(1.0)))))
    fence = (F.col("d").cast("double")
             + F.lit(3.0) * F.sqrt(F.lit(2.0)
                                   * F.col("d").cast("double")))
    return j.select(
        "vec_id",
        F.round(score, 6).alias("m2_score"),
        F.col("d").cast("int").alias("d"),
        F.round(fence, 6).alias("fence"),
        (score > fence).cast("int").alias("is_ood"))


def _sql_sim_mahalanobis_ood() -> str:
    return """
WITH comp AS (
  SELECT pos - 1 AS pos, c
  FROM (SELECT unnest(list_transform(cast(embedding AS DOUBLE[]),
                 x -> CAST(round(x * 1000000, 0) AS BIGINT))) AS c,
               generate_subscripts(cast(embedding AS DOUBLE[]), 1)
                 AS pos
        FROM embeddings)),
stats AS (
  SELECT pos, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM comp GROUP BY 1),
arr AS (
  SELECT list(struct_pack(pos := pos, n := n, s := s, ss := ss)
              ORDER BY pos) AS st,
         CAST(count(*) AS BIGINT) AS d
  FROM stats)
SELECT vec_id,
       round(coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(
           list_zip(list_transform(cast(embedding AS DOUBLE[]),
                      x -> CAST(round(x * 1000000, 0) AS BIGINT)),
                    st),
           z -> (CAST(z[1] AS DOUBLE)
                 - CAST(z[2].s AS DOUBLE) / CAST(z[2].n AS DOUBLE))
                * (CAST(z[1] AS DOUBLE)
                   - CAST(z[2].s AS DOUBLE) / CAST(z[2].n AS DOUBLE))
                / ((CAST(z[2].n AS DOUBLE) * CAST(z[2].ss AS DOUBLE)
                    - CAST(z[2].s AS DOUBLE) * CAST(z[2].s AS DOUBLE))
                   / (CAST(z[2].n AS DOUBLE)
                      * (CAST(z[2].n AS DOUBLE) - 1.0))))),
         (a, b) -> a + b), 0.0), 6) AS m2_score,
       CAST(d AS INT) AS d,
       round(CAST(d AS DOUBLE) + 3.0 * sqrt(2.0 * CAST(d AS DOUBLE)),
             6) AS fence,
       CAST(CASE WHEN coalesce(list_reduce(list_prepend(
              CAST(0.0 AS DOUBLE),
              list_transform(
                list_zip(list_transform(cast(embedding AS DOUBLE[]),
                           x -> CAST(round(x * 1000000, 0)
                                     AS BIGINT)),
                         st),
                z -> (CAST(z[1] AS DOUBLE)
                      - CAST(z[2].s AS DOUBLE)
                        / CAST(z[2].n AS DOUBLE))
                     * (CAST(z[1] AS DOUBLE)
                        - CAST(z[2].s AS DOUBLE)
                          / CAST(z[2].n AS DOUBLE))
                     / ((CAST(z[2].n AS DOUBLE)
                         * CAST(z[2].ss AS DOUBLE)
                         - CAST(z[2].s AS DOUBLE)
                           * CAST(z[2].s AS DOUBLE))
                        / (CAST(z[2].n AS DOUBLE)
                           * (CAST(z[2].n AS DOUBLE) - 1.0))))),
              (a, b) -> a + b), 0.0)
            > CAST(d AS DOUBLE) + 3.0 * sqrt(2.0 * CAST(d AS DOUBLE))
            THEN 1 ELSE 0 END AS INT) AS is_ood
FROM embeddings CROSS JOIN arr
"""
