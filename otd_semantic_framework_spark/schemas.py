"""Typed schemas for every engine table (SURVEY.md §1.2).

Schemas are *enforced*, never inferred (P1): a 10^12-turn Iceberg scan
must not depend on sampling-based inference, and enforced schemas let
column pruning / predicate pushdown resolve statically.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input — verbatim from BASELINE.json input_hint.
TRANSCRIPTS = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
])

ONTOLOGY_CONCEPTS = T.StructType([
    T.StructField("concept_id", T.StringType(), False),
    T.StructField("pref_label", T.StringType(), False),
    T.StructField("alt_labels", T.ArrayType(T.StringType()), True),
    T.StructField("parent_id", T.StringType(), True),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("path", T.ArrayType(T.StringType()), False),
    T.StructField("embedding", T.ArrayType(T.FloatType()), False),
])

CONCEPT_SIMILARITY = T.StructType([
    T.StructField("concept_a", T.StringType(), False),
    T.StructField("concept_b", T.StringType(), False),
    T.StructField("wup", T.DoubleType(), False),
])

CANDIDATES = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("mention_id", T.LongType(), False),
    T.StructField("surface", T.StringType(), False),
    T.StructField("concept_id", T.StringType(), False),
    T.StructField("cos_sim", T.DoubleType(), False),
])

TRIPLES = T.StructType([
    T.StructField("subj", T.StringType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("obj", T.StringType(), False),
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("score", T.DoubleType(), False),
])

CHECKPOINT_MANIFEST = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("input_fingerprint", T.StringType(), False),
    T.StructField("rows_in", T.LongType(), False),
    T.StructField("rows_out", T.LongType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("ts", T.TimestampType(), False),
])
