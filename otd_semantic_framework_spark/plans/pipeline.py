"""End-to-end KG-construction pipeline (P1→P15) with checkpointed,
resumable stages (P16).

Stage graph::

    transcripts ─ P2 assemble ─ P3 normalize ─ P4/P5 mentions
        │                                          │
        │                                 P6/P7 candidates (broadcast ontology)
        │                                          │
        │                                 P8/P9/P10 canonical links
        ├────────────── P12 triples (mentions ∪ uses_tool ∪ replies_to)
        │                                          │
        │                                 P13 dedup → P15 materialize
        │                                          │
        └──────────────────────────────── P14 CDS scores

Checkpointing (P16, north rule "resumable from checkpoint with
per-partition lineage + metrics"): every stage writes its output table
plus manifest rows (one per conv-hash bucket) carrying an input
fingerprint, row counters and status. A resumed run skips stages whose
manifest is complete for the same fingerprint and re-reads the persisted
output — the property test asserts resume ≡ single run. Totals are also
attached in-flight via ``df.observe`` (no extra action needed).

A run dir also records its ontology (``ontology.parquet``), which every
reader of the run takes from :func:`run_ontology`.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import semantics as S
from ..operators.cds import cds_scores
from ..operators.linking import (OntologySetup, canonicalize,
                                 canonicalize_broadcast,
                                 link_candidates_broadcast)
from ..operators.mentions import (detect_canonical_concepts_exploded,
                                  detect_mentions_exploded)
from ..operators.normalize import normalize_turns
from ..operators.triples import (canonical_mention_triples, dedup_triples,
                                 extract_triples, reply_triples, tool_triples)
from ..operators.wup import concept_similarity
from ..schemas import ONTOLOGY_CONCEPTS
from ..sources import fixtures
from ..sources.storage import Storage

N_LINEAGE_BUCKETS = 64


@dataclass
class PipelineResult:
    triples: DataFrame
    cds: DataFrame
    metrics: dict = field(default_factory=dict)


def _fingerprint(*parts: object) -> str:
    return f"{S.stable_hash('fp', *parts):016x}"


def _content_digest(df: DataFrame) -> str:
    """Order-free digest of a frame's rows: the row count plus the sum
    of per-row xxhash64, summed as decimal(38,0) so that no input size
    overflows it (a long sum overflows under ANSI mode)."""
    r = df.select(F.count(F.lit(1)).alias("n"),
                  F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                  .alias("h")).first()
    return f"{r['n']}:{r['h'] or 0}"


def record_ontology(run_dir: str,
                    ontology_pdf: pd.DataFrame | None = None) -> pd.DataFrame:
    """Write the ontology a run is built with (default: the built-in
    one) into the run dir, and return it."""
    if ontology_pdf is None:
        ontology_pdf = fixtures.ontology_pandas()
    os.makedirs(run_dir, exist_ok=True)
    ontology_pdf.to_parquet(os.path.join(run_dir, "ontology.parquet"))
    return ontology_pdf


def run_ontology(run_dir: str) -> pd.DataFrame:
    """The ontology a run dir was built with, read by pandas (no Spark
    job). A run dir that predates the record falls back to the built-in
    ontology, which every such run used unless given ``--ontology``."""
    path = os.path.join(run_dir, "ontology.parquet")
    return (pd.read_parquet(path) if os.path.exists(path)
            else fixtures.ontology_pandas())


def read_run_table(spark: SparkSession, run_dir: str, name: str,
                   needed_by: str) -> DataFrame:
    """A run's table, or a ValueError naming it and the lifecycle step
    that makes it (in place of Spark's opaque AnalysisException)."""
    st = Storage(run_dir)
    if not st.exists(spark, name):
        step = "matrix" if name == "concept_similarity" else "autotag"
        raise ValueError(f"{needed_by} needs the {name} table — run the "
                         f"`{step}` lifecycle for this run dir first")
    return st.read_table(spark, name)


def refresh_cds(spark: SparkSession, run_dir: str, manual_raw: DataFrame,
                ontology_pdf: pd.DataFrame) -> dict:
    """The reference's `dataset_tagger` refresh (P19 + P14), for the CLI
    ``tag`` and the server alike: validate curated (subj_key,
    concept_id, weight) rows against the run's concepts, then write the
    CDS of the manual∪autotag union as the new ``cds_scores``."""
    from ..operators.manual import ingest_manual_tags, invalid_manual_tags
    triples = read_run_table(spark, run_dir, "triples", "refresh")
    sim = read_run_table(spark, run_dir, "concept_similarity", "refresh")
    concepts = spark.createDataFrame(ontology_pdf[["concept_id"]])
    valid = ingest_manual_tags(manual_raw, concepts)
    n_rejected = invalid_manual_tags(manual_raw, concepts).count()
    st = Storage(run_dir)
    st.write_table(cds_scores(triples, sim, manual_tags=valid), "cds_scores")
    return {"manual_valid": valid.count(), "manual_rejected": n_rejected,
            "cds_rows": st.read_table(spark, "cds_scores").count()}


class CheckpointedRun:
    """Stage wrapper: write-through checkpoint with bucket-level lineage."""

    def __init__(self, spark: SparkSession, run_dir: str, run_id: str = "run-0"):
        self.spark = spark
        self.run_id = run_id
        self.storage = Storage(run_dir)
        self.manifest_path = os.path.join(run_dir, "checkpoint_manifest.parquet")
        os.makedirs(run_dir, exist_ok=True)
        self.metrics: dict[str, dict] = {}

    # -- manifest ----------------------------------------------------------
    def _manifest(self) -> pd.DataFrame:
        if os.path.exists(self.manifest_path):
            return pd.read_parquet(self.manifest_path)
        return pd.DataFrame(columns=[
            "run_id", "stage", "partition_id", "input_fingerprint",
            "rows_in", "rows_out", "status", "ts"])

    def _stage_complete(self, stage: str, fp: str) -> bool:
        m = self._manifest()
        done = m[(m.stage == stage) & (m.input_fingerprint == fp)
                 & (m.status == "complete")]
        return not done.empty

    def _record(self, stage: str, fp: str, bucket_counts: pd.DataFrame,
                rows_in: int) -> None:
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        rows = bucket_counts.rename(
            columns={"bucket": "partition_id", "rows": "rows_out"})
        rows["run_id"] = self.run_id
        rows["stage"] = stage
        rows["input_fingerprint"] = fp
        rows["rows_in"] = rows_in
        rows["status"] = "complete"
        rows["ts"] = now
        prev = self._manifest()
        new = rows[["run_id", "stage", "partition_id", "input_fingerprint",
                    "rows_in", "rows_out", "status", "ts"]]
        m = new if prev.empty else pd.concat([prev, new], ignore_index=True)
        m.to_parquet(self.manifest_path, index=False)

    # -- stage execution ---------------------------------------------------
    def stage(self, name: str, fp_parts: tuple, build,
              lineage_key: str = "conv_id") -> DataFrame:
        """Run (or resume) one stage. ``build()`` returns the stage DataFrame."""
        fp = _fingerprint(name, *fp_parts)
        if self._stage_complete(name, fp) and self.storage.exists(self.spark, name):
            self.metrics[name] = {"resumed": True}
            return self.storage.read_table(self.spark, name)
        obs = Observation(f"obs_{name}")
        df = build()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
        self.storage.write_table(df, name)
        out = self.storage.read_table(self.spark, name)
        # bucket-level lineage counters (deterministic conv-hash buckets —
        # stable across parallelism, unlike physical partition ids)
        key = lineage_key if lineage_key in out.columns else out.columns[0]
        bc = (
            out.groupBy(F.pmod(F.xxhash64(F.col(key)), F.lit(N_LINEAGE_BUCKETS))
                .cast("int").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .toPandas()
        )
        rows_out = int(obs.get["rows_out"]) if obs.get else int(bc["rows"].sum())
        self._record(name, fp, bc, rows_out)
        self.metrics[name] = {"rows_out": rows_out, "resumed": False}
        return out


def respread(spark: SparkSession, df: DataFrame,
             n: int | None = None) -> DataFrame:
    """P11: round-robin respread before the mention UDF. The UDF is
    map-only, so an even spread defuses hot-conversation stragglers (one
    skewed input partition otherwise pins the whole stage). ``n``
    defaults to ONE task per core: round-robin already makes the
    partitions equal in size, so more waves add no balance, and every
    Python task still pays a fixed cost that does not shrink with the
    partition (the worker hand-shake, the UDF closure's unpickle and
    the Arrow stream set-up). pyspark's per-task
    ``importlib.invalidate_caches`` over its zip imports, once the
    largest part of that cost, is now paid once per worker
    (``operators.mentions._set_up_worker``)."""
    return df.repartition(n or spark.sparkContext.defaultParallelism)


def build_triples_fast(spark: SparkSession, transcripts: DataFrame,
                       ontology_pdf: pd.DataFrame | None = None,
                       spread_partitions: int | None = None) -> DataFrame:
    """Single-expression hot path (no checkpoint materialization).

    Plan: one fully-fused mapInPandas (regex mentions → in-batch
    canonical map → per-turn max-dedup) → 3-rule union. Every rule then
    emits globally-unique (s,p,o) rows — mention duplicates only ever
    arise within one turn and are collapsed inside the UDF batch — so
    P13's full-corpus dedup shuffle is unnecessary by construction. The
    executed plan has TWO wide boundaries, the P11 round-robin respread
    of the mention branch and the conv_id hash exchange of the
    ``replies_to`` lag window (narrow after column pruning: conv_id and
    turn_idx only), and reads the input once per rule (three scans of a
    parquet source); tests/test_plans.py pins both counts.

    PRECONDITION: one row per (conv_id, turn_idx), which P2 turn
    assembly guarantees. Un-assembled input goes to ``run_pipeline``,
    whose ``extract_triples`` + ``dedup_triples`` chain collapses
    duplicate rows. Output equality with run_pipeline is pinned by
    tests/test_autotag.py::test_fast_path_equals_checkpointed."""
    onto = OntologySetup(ontology_pdf if ontology_pdf is not None
                         else fixtures.ontology_pandas())
    # ``spread_partitions=0`` disables the P11 respread entirely — the
    # DIAGNOSTIC baseline the adversarial-skew bench
    # (scripts/skew_bench.py) measures the salting against.
    spread = (transcripts if spread_partitions == 0
              else respread(spark, transcripts, spread_partitions))
    canon_concepts = detect_canonical_concepts_exploded(
        normalize_turns(spread), onto.gazetteer, onto.canonical)
    return (
        canonical_mention_triples(canon_concepts)
        .unionByName(tool_triples(transcripts))
        .unionByName(reply_triples(transcripts))
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    run_dir: str,
    ontology_pdf: pd.DataFrame | None = None,
    run_id: str = "run-0",
    stop_after: str | None = None,
    fused_linking: bool = False,
    manual_tags: DataFrame | None = None,
    infer_broader: bool = False,
) -> PipelineResult:
    """Execute the full pipeline with checkpoints under ``run_dir``,
    which every call first records ``ontology_pdf`` in.

    ``stop_after`` kills the run after the named stage (resume tests).

    ``infer_broader=True`` adds a checkpointed P12b stage that
    materializes the SKOS-subsumption closure
    (operators/triples.py:infer_broader_triples): the returned triple
    graph also carries ``mentions_broader`` edges to every strict
    ancestor of each mentioned concept. CDS still propagates from the
    ASSERTED triples only — CDS is itself a taxonomic propagation, and
    feeding it inferred edges would double-count the hierarchy.

    ``manual_tags`` is an optional curated (subj_key, concept_id,
    tag_score) table (P19, operators/manual.py — validate it with
    ``ingest_manual_tags`` first); when given, the CDS stage propagates
    the manual∪auto union instead of autotag alone, exactly like the
    reference's curated tagging graph feeds its CDS matrix [K].

    ``fused_linking=True`` collapses mentions→candidates→canonical into
    ONE checkpointed stage: the same mention detector joined to the
    precomputed broadcast canonical table — ~3x fewer large intermediate
    materializations, same output (equality pinned by tests). Resume
    granularity becomes concept_similarity → canonical → triples → cds,
    which is the right trade at 10^12 turns where writing the candidate
    table (mentions × top-k) dominates; the fine-grained default keeps
    every stage inspectable/resumable for debugging and small runs.

    Measured spectrum on the 7.9M-turn bench corpus, local[32]
    (BENCH/BASELINE.md): build_triples_fast (no checkpoints) 25.8 s;
    fused_linking 165 s; fine-grained 276 s — identical 20,495,698
    triples from all three. At cluster scale the per-input-slice
    manifest buckets, not more stages, are the unit of partial-failure
    recovery.
    """
    ontology_pdf = record_ontology(run_dir, ontology_pdf)
    onto = OntologySetup(ontology_pdf)
    gaz = onto.gazetteer
    run = CheckpointedRun(spark, run_dir, run_id)
    # The fingerprint digests the ontology's CONTENT, every column
    # included (embeddings too): an edited taxonomy or retrained
    # embeddings must NOT resume checkpoints computed under the old ones.
    cfg_fp = (f"onto:{onto.digest}", S.COS_THRESHOLD, S.LINK_ALPHA, S.TOP_K)

    ontology_df = spark.createDataFrame(ontology_pdf, schema=ONTOLOGY_CONCEPTS)
    concept_sim = run.stage(
        "concept_similarity", cfg_fp,
        lambda: concept_similarity(ontology_df), lineage_key="concept_a")
    if stop_after == "concept_similarity":
        return PipelineResult(None, None, run.metrics)

    # Every later stage derives from the transcripts, so their
    # fingerprints also digest the transcripts' CONTENT: the same run
    # dir given other transcripts must recompute, not resume.
    in_fp = (*cfg_fp, f"input:{_content_digest(transcripts)}")
    spread = respread(spark, transcripts)

    if fused_linking:
        canonical = run.stage("canonical", in_fp, lambda: canonicalize_broadcast(
            detect_mentions_exploded(normalize_turns(spread), gaz),
            onto.canonical))
        if stop_after == "canonical":
            return PipelineResult(None, None, run.metrics)
    else:
        mentions = run.stage("mentions", in_fp, lambda: detect_mentions_exploded(
            normalize_turns(spread), gaz))
        if stop_after == "mentions":
            return PipelineResult(None, None, run.metrics)

        candidates = run.stage("candidates", in_fp, lambda: link_candidates_broadcast(
            mentions, onto.scores))
        if stop_after == "candidates":
            return PipelineResult(None, None, run.metrics)

        canonical = run.stage("canonical", in_fp, lambda: canonicalize(
            candidates, concept_sim))
        if stop_after == "canonical":
            return PipelineResult(None, None, run.metrics)

    triples = run.stage("triples", in_fp, lambda: dedup_triples(
        extract_triples(transcripts, canonical)))
    if stop_after == "triples":
        return PipelineResult(triples, None, run.metrics)

    out_triples = triples
    if infer_broader:
        from ..operators.triples import infer_broader_triples
        inferred = run.stage("inferred_triples", in_fp,
                             lambda: infer_broader_triples(triples, ontology_df))
        out_triples = triples.unionByName(inferred)
        if stop_after == "inferred_triples":
            return PipelineResult(out_triples, None, run.metrics)

    # The manual tags' CONTENT keys the CDS stage too: a re-run of the
    # same run_dir with an edited manual table must NOT resume the stale
    # cds_scores checkpoint.
    cds_fp = in_fp if manual_tags is None else (
        *in_fp, f"manual:{_content_digest(manual_tags)}")
    cds = run.stage("cds_scores", cds_fp, lambda: cds_scores(
        triples, concept_sim, manual_tags=manual_tags),
        lineage_key="subj_key")

    return PipelineResult(out_triples, cds, run.metrics)
