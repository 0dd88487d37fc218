"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-construction query on sf0.001.
``queries()`` / ``oracle_sql()`` — operator inventory per SURVEY.md §2:
the paired queries are the rows of ``plans.driver_queries.QUERIES``
(functions and oracles live in the ``plans.queries`` domain modules),
the rows-only ones are in ``plans.spark_only_queries``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from otd_semantic_framework_spark.plans import driver_queries as DQ  # noqa: E402
from otd_semantic_framework_spark.plans import spark_only_queries as SOQ  # noqa: E402
from otd_semantic_framework_spark.plans.queries import kg1  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG triple extraction (mention linking +
    canonicalization + tool/reply rules + dedup) over transcripts derived
    from /root/testdata/sf0.001."""
    return kg1.q_kg_triples(spark, "/root/testdata/sf0.001")


# The driver's CORRECTNESS check samples the FIRST 50 queries() keys in
# dict order. Rotation policy (VERDICT r3 item 2, r4 item 1): keep the
# core kg_* nine up front every round, then lead with paired queries
# that have never received a driver record. Everything else (prior-green
# keys + the rows-only spark-only ops) follows; all pairs — sampled or
# not — are still gated each round by the strict local checker
# (scripts/check_oracle.py) at sf0.01 AND sf0.1.
DRIVER_SAMPLE_FIRST_50 = [
    # core pipeline (kept in-sample every round)
    "kg_transcripts", "kg_turn_assembly", "kg_mentions", "kg_candidates",
    "kg_canonical", "kg_triples", "kg_cds", "kg_wup_matrix", "kg_search",
    # never-driver-sampled §2A pairs (r6 rotation)
    "kg_resume_manifest", "kg_materialize", "kg_manual_merge",
    "kg_manual_cds", "kg_config_cds", "kg_config_search",
    "kg_ontology_ingest", "kg_dcat_ingest", "kg_eval_pr", "rel_salted_agg",
    # r5 first-time pairs, all green in the r5 record; kept for one more
    # round so the sample still spans every domain prefix
    "kg_inferred_triples", "kg_construct_query", "kg_validate",
    "kg_fact_conflicts", "kg_sameas_closure", "kg_describe",
    "dedup_bloom", "dedup_semantic", "dedup_edit", "dedup_canonical",
    "dedup_savings",
    "stream_join", "stream_upsert", "stream_topk", "stream_stateful_counts",
    "sim_kmeans", "sim_maxsim_topk", "sim_two_stage", "sim_recall",
    "text_readability", "text_keyphrase", "text_vocab",
    "curation_shards", "curation_dsir", "curation_token_budget",
    "curation_split",
    "rel_heavy_hitters", "rel_funnel", "rel_retention",
    # streaming IVM CDS (paired, green in r5) and the real-codec
    # multimodal decode (rows-only; red in r5 — an open defect, kept
    # in-sample so the driver keeps reporting it)
    "stream_cds", "multimodal_decode_pil",
]


# ROUND-6 LEDGER. The r5 driver record sampled 50 keys: 49 green, and
# multimodal_decode_pil red (the driver's canonicalizer cannot sort its
# list-valued column; open in ROADMAP). This head rotates in the ten
# §2A pairs that had never been driver-sampled (the checkpointed
# pipeline, manual tags, config, ontology/DCAT ingest, evaluation and
# the salted aggregate) and rotates out ten r5 first-time kg_* keys, all
# green in that record: kg_shortest_path, kg_snapshot_asof,
# kg_sparql_agg, kg_link_predict, kg_degree_dist, kg_conv_rollup,
# kg_nt_export, kg_alias_table, kg_coref_lite, kg_rule_mining. ~190
# paired queries remain never-sampled (see COVERAGE.md); every one of
# them is still gated by the strict local checker each round. The
# registry is 344 paired + 3 rows-only queries (rows-only:
# dedup_minhash_fast, stats_approx_distinct, multimodal_decode_pil),
# pinned by tests/test_registry_hash.py.


def _rotate(d: dict) -> dict:
    head = {k: d[k] for k in DRIVER_SAMPLE_FIRST_50 if k in d}
    return {**head, **{k: v for k, v in d.items() if k not in head}}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = dict(DQ.build_queries())
    out.update(SOQ.build_queries())
    return _rotate(out)


def oracle_sql() -> dict[str, str]:
    # Spark-only ops (MinHash-LSH, SimHash, vectorized-UDF paths,
    # multimodal stubs, streaming) are intentionally absent here →
    # the driver records its weaker rows-only check for them.
    return dict(DQ.build_oracle_sql())
