"""Driver queries: `multimodal` domain."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from ._shared import *  # noqa: F401,F403


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary media columns (operators/multimodal) —
    paired since r2: the synthetic media attachment and the relational
    frame explode are deterministic arithmetic, so DuckDB replays them
    exactly (only the byte-DECODING inside a frame stays behind the
    documented stub seam)."""
    from ...operators.multimodal import attach_fake_media, frame_sample
    return frame_sample(attach_fake_media(_docs(spark, sf_dir)), every_n=40)


SQL_MULTIMODAL_FRAMES = f"""
WITH media AS ({_MEDIA_CTE})
SELECT doc_id, media_type, f.frame_idx,
       doc_id || ':' || cast(f.frame_idx AS VARCHAR) AS frame_key
FROM media, unnest(generate_series(0,
     greatest(cast(floor(n_bytes / 40) AS INT) - 1, 0))) AS f(frame_idx)
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas media decode (operators/multimodal.py) — paired
    since r2: the deterministic fake decode is md5 arithmetic, so the
    oracle replays it digit-by-digit (hex decode → byte values →
    width/height mod; features = byte/255 CAST AS FLOAT so DuckDB
    reproduces the float32 rounding — verified identical for all 256
    byte values before pairing). A REAL codec stays behind the stub
    seam and would return this query to rows-only."""
    from ...operators.multimodal import attach_fake_media, decode_media
    decoded = decode_media(attach_fake_media(_docs(spark, sf_dir)))
    return decoded.select(
        "doc_id", "media_type", "n_bytes", "width", "height",
        F.concat_ws(
            ",", F.transform("features", lambda x: F.format_string("%.6f", x))
        ).alias("features_csv"))


def _sql_multimodal_decode() -> str:
    digits = ", ".join(
        f"instr('0123456789abcdef', substring(h, {p + 1}, 1)) - 1 AS d{p}"
        for p in range(16))
    feats = ", ".join(
        f"printf('%.6f', CAST((16 * d{2 * i} + d{2 * i + 1}) / 255.0 AS FLOAT))"
        for i in range(8))
    return f"""
WITH hx AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         strlen(text) AS n_bytes,
         md5(text) AS h
  FROM documents
),
d AS (SELECT doc_id, media_type, n_bytes, {digits} FROM hx)
SELECT doc_id, media_type, n_bytes,
       16 + (16 * d0 + d1) % 64 AS width,
       16 + (16 * d2 + d3) % 64 AS height,
       concat_ws(',', {feats}) AS features_csv
FROM d
"""


def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata rollup over the media table: per-type counts and
    exact byte-size stats — the catalog view a media-curation pipeline
    maintains; pure relational over the binary column's metadata."""
    from ...operators.multimodal import attach_fake_media
    m = attach_fake_media(_docs(spark, sf_dir))
    return (m.groupBy(F.col("meta.media_type").alias("media_type"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg(F.col("meta.n_bytes")), 6).alias("avg_bytes"),
                 F.round(F.percentile(F.col("meta.n_bytes"), F.lit(0.5)), 6)
                 .alias("median_bytes")))


SQL_MULTIMODAL_STATS = f"""
WITH media AS ({_MEDIA_CTE})
SELECT media_type, count(*) AS n,
       round(avg(n_bytes), 6) AS avg_bytes,
       round(quantile_cont(n_bytes, 0.5), 6) AS median_bytes
FROM media GROUP BY media_type
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize over the media table
    (operators/multimodal.py:resize_media): exact-integer target dims,
    pixel resample stubbed behind the decode seam. Oracle replays the
    md5-derived source dims digit-by-digit and the same integer math."""
    from ...operators.multimodal import attach_fake_media, resize_media
    return resize_media(attach_fake_media(_docs(spark, sf_dir)),
                        max_side=RESIZE_MAX_SIDE)


def _sql_multimodal_resize() -> str:
    digits = ", ".join(
        f"instr('0123456789abcdef', substring(h, {p + 1}, 1)) - 1 AS d{p}"
        for p in range(4))
    return f"""
WITH hx AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         md5(text) AS h
  FROM documents
),
d AS (SELECT doc_id, media_type, {digits} FROM hx),
dims AS (
  SELECT doc_id, media_type,
         CAST(16 + (16 * d0 + d1) % 64 AS INT) AS width,
         CAST(16 + (16 * d2 + d3) % 64 AS INT) AS height
  FROM d
),
resized AS (
  SELECT *,
         CAST(greatest(1, (width * least({RESIZE_MAX_SIDE},
                                         greatest(width, height)))
                          // greatest(width, height)) AS INT) AS out_w,
         CAST(greatest(1, (height * least({RESIZE_MAX_SIDE},
                                          greatest(width, height)))
                          // greatest(width, height)) AS INT) AS out_h
  FROM dims
)
SELECT doc_id, media_type, width, height, out_w, out_h,
       md5(cast(doc_id AS VARCHAR) || ':' || cast(out_w AS VARCHAR)
           || ':' || cast(out_h AS VARCHAR)) AS resized_fp
FROM resized
"""


def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over media payloads
    (operators/multimodal.py:phash_media +
    operators/dedup.py:simhash_near_pairs_chunks): 64-bit pHash from
    the deterministic stub decode, pigeonhole candidate join on equal
    16-bit chunks, exact hamming verify on candidates only. With a real
    codec the pixels become an 8x8 grayscale downsample behind the same
    seam; the join shape is unchanged. The demo threshold (24) is set
    where the synthetic corpus has signal — the stub's pixels are
    hash-noise, so truly-near payloads only exist as exact duplicates
    (hamming 0, present at sf0.1)."""
    from ...operators.dedup import simhash_near_pairs_chunks
    from ...operators.multimodal import attach_fake_media, phash_media
    chunks = phash_media(attach_fake_media(_docs(spark, sf_dir)))
    return simhash_near_pairs_chunks(chunks,
                                     max_hamming=PHASH_MAX_HAMMING)


def _sql_multimodal_phash() -> str:
    # pixel p (0..63) = byte p%8 of md5(text || chr(p//8 + 1)); byte b
    # is hex digits 2b, 2b+1. Decode each digit via instr like the
    # portable simhash oracle.
    px_cols = []
    for k in range(1, 9):
        px_cols.append(f"md5(coalesce(text, '') || chr({k})) AS h{k}")
    px_exprs = []
    for p in range(64):
        h = f"h{p // 8 + 1}"
        j = (p % 8) * 2
        px_exprs.append(
            f"((instr('0123456789abcdef', substring({h}, {j + 1}, 1)) - 1)"
            f" * 16 +"
            f" instr('0123456789abcdef', substring({h}, {j + 2}, 1)) - 1)"
            f" AS p{p}")
    total = " + ".join(f"p{p}" for p in range(64))
    chunk_exprs = []
    for i in range(4):
        terms = " + ".join(
            f"CASE WHEN p{i * 16 + j} * 64 > total"
            f" THEN {1 << j} ELSE 0 END" for j in range(16))
        chunk_exprs.append(f"CAST({terms} AS INT) AS c{i}")
    return f"""
WITH hx AS MATERIALIZED (
  SELECT doc_id, {', '.join(px_cols)} FROM documents),
px AS MATERIALIZED (
  SELECT doc_id, {', '.join(px_exprs)} FROM hx),
tot AS (SELECT *, {total} AS total FROM px),
ch AS MATERIALIZED (
  SELECT doc_id, {', '.join(chunk_exprs)} FROM tot),
bands AS (
  SELECT doc_id, c0, c1, c2, c3, r.i AS chunk_idx,
         CASE r.i WHEN 0 THEN c0 WHEN 1 THEN c1
                  WHEN 2 THEN c2 ELSE c3 END AS chunk
  FROM ch, lateral unnest(range(0, 4)) AS r(i)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.c0 AS a0, a.c1 AS a1, a.c2 AS a2, a.c3 AS a3,
         b.c0 AS b0, b.c1 AS b1, b.c2 AS b2, b.c3 AS b3
  FROM bands a JOIN bands b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
            + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) AS INT)
         AS hamming
FROM pairs
WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
      + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3))
      <= {PHASH_MAX_HAMMING}
"""


def q_multimodal_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch-grid extraction plumbing: run the mapInPandas
    decode seam (stub decoder — a real codec drops in behind the same
    seam), then explode each media item into its ceil(w/P) x ceil(h/P)
    patch grid with edge patches clipped to the image bounds — the
    exact (batching, shape, clip) arithmetic a vision preprocessor
    ships to the trainer. Every output is integer; the oracle replays
    the stub's md5-derived dimensions digit-by-digit like the other
    multimodal pairings.

    Shape: decode is one Arrow-batched mapInPandas pass; the grid is a
    map-side sequence explode (fan-out bounded by n_patches <= 25 at
    the stub's max 80x80); no shuffle at all after the scan."""
    from ...operators.multimodal import attach_fake_media, decode_media
    dec = decode_media(attach_fake_media(_docs(spark, sf_dir)))
    p = MM_PATCH
    g = dec.select(
        "doc_id", "width", "height",
        F.expr(f"CAST((width + {p - 1}) DIV {p} AS INT)").alias("px"),
        F.expr(f"CAST((height + {p - 1}) DIV {p} AS INT)").alias("py"))
    e = g.withColumn("pid", F.explode(F.expr("sequence(0, px * py - 1)")))
    return e.select(
        "doc_id",
        F.col("pid").cast("int").alias("patch_id"),
        F.expr("CAST(pid DIV px AS INT)").alias("prow"),
        F.expr("CAST(pid % px AS INT)").alias("pcol"),
        F.expr(f"CAST(least({p}, width - (pid % px) * {p}) AS INT)")
        .alias("pw"),
        F.expr(f"CAST(least({p}, height - (pid DIV px) * {p}) AS INT)")
        .alias("ph"),
        F.expr("CAST(px * py AS INT)").alias("n_patches"))


def _sql_multimodal_patches() -> str:
    p = MM_PATCH
    digits = ", ".join(
        f"instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1 AS d{i}"
        for i in range(4))
    return f"""
WITH hx AS (SELECT doc_id, md5(text) AS h FROM documents),
dims AS (
  SELECT doc_id,
         16 + (16 * d0 + d1) % 64 AS width,
         16 + (16 * d2 + d3) % 64 AS height
  FROM (SELECT doc_id, {digits} FROM hx)),
grid AS (
  SELECT doc_id, width, height,
         (width + {p - 1}) // {p} AS px,
         (height + {p - 1}) // {p} AS py
  FROM dims)
SELECT g.doc_id,
       CAST(r.pid AS INT) AS patch_id,
       CAST(r.pid // g.px AS INT) AS prow,
       CAST(r.pid % g.px AS INT) AS pcol,
       CAST(least({p}, g.width - (r.pid % g.px) * {p}) AS INT) AS pw,
       CAST(least({p}, g.height - (r.pid // g.px) * {p}) AS INT) AS ph,
       CAST(g.px * g.py AS INT) AS n_patches
FROM grid g, lateral unnest(range(0, g.px * g.py)) AS r(pid)
"""
