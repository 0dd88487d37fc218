"""Deterministic fixture generation (FIXTURES.md §B).

Two generators for the ``transcripts`` input table:

- :func:`transcripts_pandas` — pure Python/pandas, hash-deterministic.
  Used for the tiny/small test corpora, the golden-triple derivation
  (the mini-oracle consumes exactly these rows), and unit tests.
- :func:`transcripts_spark` — Spark-native (``spark.range`` +
  ``xxhash64`` + array literals, zero Python row funcs), used for the
  ≥10^6-turn bench corpora. Deterministic at any parallelism because
  every value is a pure column expression of (conv_id, turn_idx).

Shapes follow FIXTURES.md B1: Zipf-ish conversation sizes plus one
deliberately huge conversation (skew tests, SURVEY.md P11), roles cycling
user/assistant with hash-perturbed tool turns, text = token soup from the
shared 200-word vocabulary overlapping ontology labels, ts monotone
within a conversation.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import semantics as S
from ..operators.linking import ontology_table
from ..schemas import ONTOLOGY_CONCEPTS, TRANSCRIPTS

_BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def conv_length(i: int, n_convs: int) -> int:
    """Turns in conversation i. Conversation 0 is the hot one (~size of
    n_convs, i.e. a constant fraction of total turns)."""
    if i == 0:
        return max(8, n_convs)
    return 3 + S.stable_hash("len", i) % 16


def _turn_text(conv: str, t: int, labels: list[str]) -> str:
    k = 4 + S.stable_hash("nw", conv, t) % 9
    words = [S.VOCAB[S.stable_hash("w", conv, t, j, mod=len(S.VOCAB))]
             for j in range(k)]
    # guarantee some multi-word ontology-label mentions
    if S.stable_hash("inj", conv, t) % 4 == 0:
        pos = S.stable_hash("injpos", conv, t) % (k + 1)
        lab = labels[S.stable_hash("injlab", conv, t, mod=len(labels))]
        words.insert(pos, lab)
    return " ".join(words)


def transcripts_pandas(n_convs: int) -> pd.DataFrame:
    """Deterministic transcript corpus; schema = BASELINE.json input_hint."""
    concepts = S.build_ontology()
    labels = [c.pref_label for c in concepts]
    rows = []
    for i in range(n_convs):
        conv = f"conv-{i:06d}"
        conv_off = S.stable_hash("convoff", conv) % 1_000_000
        for t in range(conv_length(i, n_convs)):
            h_role = S.stable_hash("toolrole", conv, t)
            role = "tool" if (t > 0 and h_role % 5 == 0) else ("user" if t % 2 == 0 else "assistant")
            tool = S.TOOL_NAMES[S.stable_hash("tool", conv, t, mod=len(S.TOOL_NAMES))] if role == "tool" else None
            # monotone within conv: +95s per turn, jitter < 86s
            ts = _BASE_TS + dt.timedelta(seconds=conv_off + t * 95 + S.stable_hash("gap", conv, t) % 86)
            rows.append((conv, t, role, _turn_text(conv, t, labels), tool, ts))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])


def transcripts_spark_df(spark: SparkSession, n_convs: int) -> DataFrame:
    """tiny/small corpus as a Spark DataFrame (same rows as pandas gen)."""
    pdf = transcripts_pandas(n_convs)
    pdf["ts"] = pdf["ts"].dt.tz_localize(None)
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS)


def transcripts_spark(spark: SparkSession, n_convs: int,
                      hot_frac: float = 0.05) -> DataFrame:
    """Scalable Spark-native generator for bench corpora (≥10^6 turns).

    All column expressions — runs JVM-side with whole-stage codegen and is
    deterministic at any parallelism. Distribution matches the pandas
    generator in shape (not byte-identical text): Zipf-ish lengths, one
    hot conversation holding ~hot_frac of all turns.
    """
    avg_len = 3 + 7.5
    total_est = int(n_convs * avg_len)
    hot_len = max(8, int(total_est * hot_frac))
    vocab_arr = F.array(*[F.lit(w) for w in S.VOCAB])
    tools_arr = F.array(*[F.lit(t) for t in S.TOOL_NAMES])

    convs = (
        spark.range(n_convs)
        .withColumn("conv_id", F.format_string("conv-%06d", F.col("id").cast("int")))
        .withColumn(
            "n_turns",
            F.when(F.col("id") == 0, F.lit(hot_len))
            .otherwise((F.pmod(F.xxhash64(F.lit("len"), F.col("id")), F.lit(16)) + 3).cast("int")),
        )
        .withColumn("conv_off", F.pmod(F.xxhash64(F.lit("convoff"), F.col("conv_id")), F.lit(1_000_000)))
    )
    turns = convs.select(
        "conv_id", "conv_off",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    h = lambda tag, *cols: F.pmod(F.xxhash64(F.lit(tag), F.col("conv_id"), *cols), F.lit(2**31))  # noqa: E731
    words = F.transform(
        F.sequence(F.lit(0), (h("nw", F.col("turn_idx")) % 9 + 3).cast("int")),
        lambda j: F.element_at(vocab_arr, (F.pmod(F.xxhash64(F.lit("w"), F.col("conv_id"), F.col("turn_idx"), j), F.lit(len(S.VOCAB))) + 1).cast("int")),
    )
    return (
        turns
        .withColumn("role", F.when((F.col("turn_idx") > 0) & (h("toolrole", F.col("turn_idx")) % 5 == 0), F.lit("tool"))
                    .when(F.col("turn_idx") % 2 == 0, F.lit("user")).otherwise(F.lit("assistant")))
        .withColumn("text", F.array_join(words, " "))
        .withColumn("tool", F.when(F.col("role") == "tool",
                                   F.element_at(tools_arr, (h("tool", F.col("turn_idx")) % len(S.TOOL_NAMES) + 1).cast("int"))))
        .withColumn("ts", F.timestamp_seconds(
            F.lit(int(_BASE_TS.timestamp())) + F.col("conv_off")
            + F.col("turn_idx") * 95 + h("gap", F.col("turn_idx")) % 86))
        .select("conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
                "role", "text", "tool", "ts")
    )


def ontology_pandas() -> pd.DataFrame:
    """ontology_concepts table (FIXTURES.md B2) incl. 64-d label embeddings."""
    return ontology_table(S.build_ontology())


def ontology_spark(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(ontology_pandas(), schema=ONTOLOGY_CONCEPTS)
