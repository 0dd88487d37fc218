"""Structured Streaming variants of the pipeline front-end (SURVEY.md
§2B S-ops): file-source transcript ingestion, watermarked session
windows per conversation, streaming dedup, and an incremental
triple-extraction micro-batch that reuses the batch operators.

Production shape: ``readStream`` from the Iceberg transcripts table
(CDC), watermark on ts, exactly-once sink via checkpointLocation.
Locally: file source over a parquet directory, ``trigger(availableNow)``
so tests drain the stream deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TRANSCRIPTS


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream.schema(TRANSCRIPTS)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def conversation_sessions(stream: DataFrame, gap: str = "30 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Sessionize turns per conv_id with a watermark for late data."""
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), F.col("conv_id"))
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.min("turn_idx").alias("first_turn"),
                 F.max("turn_idx").alias("last_turn")))


def streaming_dedup_turns(stream: DataFrame,
                          watermark: str = "10 minutes") -> DataFrame:
    """Exactly-once turn stream: drop replayed (conv_id, turn_idx) within
    the watermark (P13's streaming counterpart)."""
    return (stream.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"]))


def windowed_turn_counts(stream: DataFrame, size: str = "5 minutes",
                         slide: str | None = None,
                         watermark: str = "10 minutes") -> DataFrame:
    """Tumbling (slide=None) or sliding windowed per-role turn counts
    with a watermark for late data — the §2B tumbling/sliding S-ops.
    Batch equivalent: the same ``window()`` groupBy on a static frame
    (pinned in tests)."""
    w = (F.window("ts", size) if slide is None
         else F.window("ts", size, slide))
    return (stream.withWatermark("ts", watermark)
            .groupBy(w.alias("w"), F.col("role"))
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select(F.col("w.start").alias("win_start"),
                    F.col("w.end").alias("win_end"), "role", "n_turns"))


def running_conv_stats(stream: DataFrame,
                       watermark: str = "10 minutes") -> DataFrame:
    """Arbitrary-state streaming op (SURVEY §2B S-ops:
    applyInPandasWithState): running per-conversation turn assembly
    stats. State = (turns_seen, max_turn_idx) per conv_id, carried
    across micro-batches; each batch emits the updated running totals
    plus how many rows that batch contributed. The batch equivalent is a
    plain groupBy count — pinned in tests."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turns_seen", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
        T.StructField("batch_rows", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("turns_seen", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
    ])

    def update(key, pdfs, state):
        (conv_id,) = key
        turns, mx = state.get if state.exists else (0, -1)
        n_batch = 0
        for pdf in pdfs:
            n_batch += len(pdf)
            if len(pdf):
                mx = max(mx, int(pdf["turn_idx"].max()))
        turns += n_batch
        state.update((turns, mx))
        yield pd.DataFrame({"conv_id": [conv_id], "turns_seen": [turns],
                            "max_turn_idx": [mx], "batch_rows": [n_batch]})

    return (stream.withWatermark("ts", watermark)
            .groupBy("conv_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def run_stream_to_table(result: DataFrame, checkpoint_dir: str,
                        out_path: str, output_mode: str = "append") -> None:
    """Drain with availableNow (test/incremental-batch mode), exactly-once
    via the checkpoint dir."""
    q = (result.writeStream.outputMode(output_mode)
         .trigger(availableNow=True)
         .option("checkpointLocation", checkpoint_dir)
         .format("parquet").option("path", out_path).start())
    q.awaitTermination()


def incremental_triples(spark: SparkSession, in_path: str, run_dir: str,
                        ontology_pdf, max_files_per_trigger: int = 1) -> None:
    """foreachBatch micro-batch triple extraction: each batch runs the
    batch hot path ``build_triples_fast`` — streaming reuses the exact
    batch semantics, checkpointed by the engine's offsets.

    CORRECTNESS PRECONDITION: input files must be conversation-aligned
    (each conv_id entirely within one file), which the production
    bucket(conv_id) Iceberg layout guarantees. Otherwise replies_to
    edges spanning a micro-batch boundary are lost. Each batch also
    inherits build_triples_fast's one-row-per-(conv_id, turn_idx)
    precondition: no dedup runs within or across batches.
    tests/test_streaming.py pins this contract."""
    from ..plans.pipeline import build_triples_fast

    def process(batch: DataFrame, batch_id: int) -> None:
        build_triples_fast(spark, batch, ontology_pdf).write.mode(
            "append").parquet(f"{run_dir}/triples_stream.parquet")

    stream = read_transcript_stream(spark, in_path, max_files_per_trigger)
    q = (stream.writeStream.foreachBatch(process)
         .trigger(availableNow=True)
         .option("checkpointLocation", f"{run_dir}/ckpt")
         .start())
    q.awaitTermination()
