"""P1 ingest variants + P6 embedding providers."""

import pytest
from pyspark.sql import functions as F

from otd_semantic_framework_spark import semantics as S
from otd_semantic_framework_spark.operators.embed import (
    hash_embedding_table, mention_embeddings, train_word2vec)
from otd_semantic_framework_spark.sources.ingest import (
    read_transcripts, validate_transcripts)


def _roundtrip(spark, tiny_df, tmp_path, fmt):
    p = str(tmp_path / f"t_{fmt}")
    w = tiny_df.write.mode("overwrite")
    if fmt == "parquet":
        w.parquet(p)
    elif fmt == "json":
        tiny_df.select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("ts"),
        ).write.mode("overwrite").json(p)
    else:
        tiny_df.select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        ).write.mode("overwrite").option("header", "true").csv(p)
    return read_transcripts(spark, p, fmt)


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv"])
def test_ingest_roundtrip(spark, tiny_df, tmp_path, fmt):
    got = _roundtrip(spark, tiny_df, tmp_path, fmt)
    # sources relax nullability; names+types must match exactly
    assert [(f.name, f.dataType) for f in got.schema.fields] == \
        [(f.name, f.dataType) for f in tiny_df.schema.fields]
    assert got.count() == tiny_df.count()
    a = sorted((r.conv_id, r.turn_idx, r.text or "") for r in got.collect())
    b = sorted((r.conv_id, r.turn_idx, r.text or "") for r in tiny_df.collect())
    assert a == b  # per-turn text equality through ingest


def test_validation_drops_bad_rows(spark):
    from otd_semantic_framework_spark.schemas import TRANSCRIPTS
    import datetime as dt
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", "ok", None, ts),
        (None, 1, "user", "no conv", None, ts),
        ("c1", -1, "user", "neg turn", None, ts),
        ("c1", 2, "robot", "bad role", None, ts),
    ]
    from pyspark.sql import types as T
    nullable = T.StructType([
        T.StructField(f.name, f.dataType, True) for f in TRANSCRIPTS.fields])
    df = spark.createDataFrame(rows, nullable)
    out = validate_transcripts(df)
    assert out.count() == 1
    assert out.collect()[0].text == "ok"


def test_hash_embedding_table_matches_semantics(spark):
    tbl = {r.token: r.vector for r in hash_embedding_table(spark).collect()}
    assert len(tbl) == len(S.VOCAB)
    import numpy as np
    assert np.allclose(tbl["bus"], S.token_vector("bus"), atol=1e-6)


def test_mention_embeddings_dataframe_path(spark, tiny_df):
    """The pure-DataFrame mean-pool must equal semantics.phrase_vector."""
    from otd_semantic_framework_spark.operators.mentions import (
        detect_mentions_exploded)
    from otd_semantic_framework_spark.operators.normalize import normalize_turns
    import numpy as np
    gaz = S.build_gazetteer(S.build_ontology())
    mentions = detect_mentions_exploded(
        normalize_turns(tiny_df), gaz).limit(50).cache()
    out = mention_embeddings(mentions, hash_embedding_table(spark))
    surfaces = {r.mention_id: r.surface for r in mentions.collect()}
    for r in out.collect():
        want = S.phrase_vector(surfaces[r.mention_id])
        assert np.allclose(r.embedding, want, atol=1e-5), surfaces[r.mention_id]
    mentions.unpersist()


def test_word2vec_flagged_path(spark, small_df):
    """MLlib Word2Vec trains and produces vectors for frequent vocab
    tokens — the experimentation path, never correctness-gated."""
    model, vecs = train_word2vec(small_df, dim=16, min_count=5)
    n = vecs.count()
    assert n > 50
    row = vecs.limit(1).collect()[0]
    assert len(row.vector) == 16
