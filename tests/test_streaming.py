"""M5 — Structured Streaming variants: session windows match the batch
gaps-and-islands semantics; streaming dedup drops replays; incremental
foreachBatch triples equal the batch pipeline output."""

import pytest
from pyspark.sql import functions as F

from otd_semantic_framework_spark.sources.fixtures import ontology_pandas
from otd_semantic_framework_spark.streaming.sessions import (
    conversation_sessions, incremental_triples, read_transcript_stream,
    run_stream_to_table, running_conv_stats, streaming_dedup_turns,
    windowed_turn_counts)


@pytest.fixture(scope="module")
def stream_input(spark, tiny_df, tmp_path_factory):
    # conversation-aligned files (the bucket(conv_id) layout contract):
    # each conv_id lives entirely in one file
    p = str(tmp_path_factory.mktemp("stream_in"))
    tiny_df.repartition(4, "conv_id").write.mode("overwrite").parquet(p)
    return p


def test_session_window_matches_batch(spark, tiny_df, stream_input, tmp_path):
    """Append-mode session windows only emit once the watermark passes a
    session's end — correct streaming semantics. Drain once (partial),
    then append a far-future flush row and drain again: the union must
    equal the batch gaps-and-islands result exactly."""
    import datetime as dt
    out = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "sessions_ckpt")
    in_dir = str(tmp_path / "session_in")
    tiny_df.repartition(4, "conv_id").write.mode("overwrite").parquet(in_dir)

    stream = read_transcript_stream(spark, in_dir)
    assert stream.isStreaming
    run_stream_to_table(conversation_sessions(stream), ckpt, out)
    got1 = spark.read.parquet(out)

    batch = (tiny_df.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                             "conv_id")
             .agg(F.count(F.lit(1)).alias("n_turns")))
    k_batch = sorted((r.conv_id, r.n_turns) for r in batch.collect())
    k_got1 = sorted((r.conv_id, r.n_turns) for r in got1.collect())
    assert set(k_got1) <= set(k_batch)  # never emits a wrong session

    # flush: a row far past every session end pushes the watermark
    max_ts = tiny_df.agg(F.max("ts")).collect()[0][0]
    flush = spark.createDataFrame(
        [("__flush__", 0, "user", "x", None, max_ts + dt.timedelta(days=10))],
        schema=tiny_df.schema)
    flush.write.mode("append").parquet(in_dir)
    run_stream_to_table(conversation_sessions(
        read_transcript_stream(spark, in_dir)), ckpt, out)

    got2 = spark.read.parquet(out).filter(F.col("conv_id") != "__flush__")
    k_got = sorted((r.conv_id, r.n_turns) for r in got2.collect())
    assert k_got == k_batch
    assert sum(n for _, n in k_got) == tiny_df.count()


def test_streaming_dedup_drops_replays(spark, tiny_df, tmp_path):
    p = str(tmp_path / "dup_in")
    tiny_df.unionAll(tiny_df).repartition(3).write.mode("overwrite").parquet(p)
    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    stream = read_transcript_stream(spark, p)
    run_stream_to_table(streaming_dedup_turns(stream), ckpt, out)
    got = spark.read.parquet(out)
    assert got.count() == tiny_df.count()
    assert got.select("conv_id", "turn_idx").distinct().count() == tiny_df.count()


@pytest.mark.parametrize("slide", [None, "5 minutes"])
def test_windowed_counts_match_batch(spark, tiny_df, tmp_path, slide):
    """Tumbling (slide=None) and sliding windows drained with a
    far-future flush row equal the batch window() aggregation."""
    import datetime as dt
    tag = "tumble" if slide is None else "slide"
    in_dir = str(tmp_path / f"win_in_{tag}")
    out = str(tmp_path / f"win_out_{tag}")
    ckpt = str(tmp_path / f"win_ckpt_{tag}")
    tiny_df.repartition(4, "conv_id").write.mode("overwrite").parquet(in_dir)
    size = "10 minutes"
    max_ts = tiny_df.agg(F.max("ts")).collect()[0][0]
    flush = spark.createDataFrame(
        [("__flush__", 0, "user", "x", None, max_ts + dt.timedelta(days=10))],
        schema=tiny_df.schema)
    flush.write.mode("append").parquet(in_dir)
    run_stream_to_table(windowed_turn_counts(
        read_transcript_stream(spark, in_dir), size, slide), ckpt, out)
    got = (spark.read.parquet(out)
           .filter(F.col("win_start") <= max_ts))
    w = F.window("ts", size) if slide is None else F.window("ts", size, slide)
    want = (tiny_df.groupBy(w.alias("w"), "role")
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select(F.col("w.start").alias("win_start"),
                    F.col("w.end").alias("win_end"), "role", "n_turns"))
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, want.collect())))


def test_stateful_running_stats(spark, tiny_df, tmp_path):
    """applyInPandasWithState carries per-conv state across micro-batches:
    conversations split over several input files accumulate, and the
    final running totals equal the batch groupBy."""
    p = str(tmp_path / "state_in")
    # round-robin split → each conv spans several files → several batches
    tiny_df.repartition(4).write.mode("overwrite").parquet(p)
    out = str(tmp_path / "state_out")
    ckpt = str(tmp_path / "state_ckpt")
    stream = read_transcript_stream(spark, p, max_files_per_trigger=1)
    run_stream_to_table(running_conv_stats(stream), ckpt, out)
    got = spark.read.parquet(out)

    final = (got.groupBy("conv_id")
             .agg(F.max("turns_seen").alias("turns"),
                  F.max("max_turn_idx").alias("mx")))
    batch = (tiny_df.groupBy("conv_id")
             .agg(F.count(F.lit(1)).alias("turns"),
                  F.max("turn_idx").alias("mx")))
    assert (sorted(map(tuple, final.collect()))
            == sorted(map(tuple, batch.collect())))
    # state persisted across batches: some conv emitted more than once
    multi = got.groupBy("conv_id").count().filter(F.col("count") > 1).count()
    assert multi > 0
    # emitted totals are running (monotone): per conv, batch_rows sums to total
    sums = got.groupBy("conv_id").agg(F.sum("batch_rows").alias("s"))
    assert (sorted((r.conv_id, r.s) for r in sums.collect())
            == sorted((r.conv_id, r.turns) for r in batch.collect()))


def test_incremental_triples_equal_batch(spark, tiny_df, stream_input, tmp_path):
    from otd_semantic_framework_spark.plans.pipeline import run_pipeline
    run_dir = str(tmp_path / "inc")
    incremental_triples(spark, stream_input, run_dir, ontology_pandas())
    got = spark.read.parquet(f"{run_dir}/triples_stream.parquet")
    batch = run_pipeline(spark, tiny_df, str(tmp_path / "batch")).triples
    k_got = sorted((r.subj, r.pred, r.obj, round(r.score, 6))
                   for r in got.collect())
    k_batch = sorted((r.subj, r.pred, r.obj, round(r.score, 6))
                     for r in batch.collect())
    assert k_got == k_batch
