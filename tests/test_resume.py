"""P16 — checkpoint/resume: a run killed after stage k and resumed
produces byte-identical final triples, and completed stages are not
re-executed (north rule: "resumable from checkpoint with per-partition
lineage + metrics")."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from otd_semantic_framework_spark.plans.pipeline import run_pipeline


def _triples_key(df):
    return sorted((r.subj, r.pred, r.obj, r.conv_id, r.turn_idx, round(r.score, 6))
                  for r in df.collect())


@pytest.mark.parametrize("stop_after", ["mentions", "candidates", "canonical"])
def test_resume_equals_single_run(spark, tiny_df, tmp_path, stop_after):
    single_dir = str(tmp_path / f"single_{stop_after}")
    resumed_dir = str(tmp_path / f"resumed_{stop_after}")

    full = run_pipeline(spark, tiny_df, single_dir)

    partial = run_pipeline(spark, tiny_df, resumed_dir, stop_after=stop_after)
    assert partial.triples is None
    resumed = run_pipeline(spark, tiny_df, resumed_dir)

    assert _triples_key(resumed.triples) == _triples_key(full.triples)
    # stages up to the kill point were resumed, not recomputed
    assert resumed.metrics[stop_after]["resumed"] is True


def test_fused_linking_equals_fine(spark, tiny_df, tmp_path):
    """fused_linking=True (single checkpointed canonical stage, broadcast
    precomputed table — the 10^12-turn configuration) produces identical
    triples+cds to the fine-grained staged path, resumes after a kill,
    and skips the mentions/candidates materializations."""
    fine = run_pipeline(spark, tiny_df, str(tmp_path / "fine"))
    fused_dir = str(tmp_path / "fused")
    partial = run_pipeline(spark, tiny_df, fused_dir, fused_linking=True,
                           stop_after="canonical")
    assert partial.triples is None
    fused = run_pipeline(spark, tiny_df, fused_dir, fused_linking=True)
    assert fused.metrics["canonical"]["resumed"] is True
    assert "mentions" not in fused.metrics
    assert "candidates" not in fused.metrics
    assert _triples_key(fused.triples) == _triples_key(fine.triples)
    k = lambda df: sorted((r.subj_key, r.concept_id, round(r.score, 6))  # noqa: E731
                          for r in df.collect())
    assert k(fused.cds) == k(fine.cds)
    assert not os.path.exists(os.path.join(fused_dir, "mentions"))


def test_manifest_lineage_counters(spark, tiny_df, tmp_path):
    run_dir = str(tmp_path / "lineage")
    res = run_pipeline(spark, tiny_df, run_dir)
    m = pd.read_parquet(os.path.join(run_dir, "checkpoint_manifest.parquet"))
    stages = set(m.stage)
    assert {"concept_similarity", "mentions", "candidates", "canonical",
            "triples", "cds_scores"} <= stages
    assert (m.status == "complete").all()
    # per-bucket counters sum to the stage total
    tri = m[m.stage == "triples"]
    assert tri.rows_out.sum() == res.triples.count()
    assert (tri.partition_id >= 0).all()
    assert tri.input_fingerprint.nunique() == 1


def test_rerun_same_dir_skips_everything(spark, tiny_df, tmp_path):
    run_dir = str(tmp_path / "skip")
    run_pipeline(spark, tiny_df, run_dir)
    again = run_pipeline(spark, tiny_df, run_dir)
    assert all(v.get("resumed") for v in again.metrics.values())


def test_same_dir_other_transcripts_recomputes(spark, tiny_df, tmp_path):
    """The stage fingerprints digest the transcripts' content: a run dir
    built from six conversations and then given twelve recomputes every
    stage downstream of the transcripts and equals a fresh run."""
    convs = sorted(r.conv_id for r in
                   tiny_df.select("conv_id").distinct().collect())
    six = tiny_df.filter(F.col("conv_id").isin(convs[:6]))
    twelve = tiny_df.filter(F.col("conv_id").isin(convs[:12]))
    run_dir = str(tmp_path / "shared")
    run_pipeline(spark, six, run_dir, fused_linking=True)
    again = run_pipeline(spark, twelve, run_dir, fused_linking=True)
    fresh = run_pipeline(spark, twelve, str(tmp_path / "fresh"),
                         fused_linking=True)
    assert again.metrics["concept_similarity"]["resumed"] is True
    assert not any(again.metrics[s]["resumed"]
                   for s in ("canonical", "triples", "cds_scores"))
    assert _triples_key(again.triples) == _triples_key(fresh.triples)


def test_incremental_merge_equals_full(spark, tiny_df, tmp_path):
    """MERGE-equivalent incremental materialization: building the graph
    from two input slices merged one after the other equals one
    full-batch build (set semantics, max score)."""
    from pyspark.sql import functions as F

    from otd_semantic_framework_spark.plans.pipeline import build_triples_fast
    from otd_semantic_framework_spark.sources.storage import Storage

    full = build_triples_fast(spark, tiny_df)
    half_a = tiny_df.filter(F.xxhash64("conv_id") % 2 == 0)
    half_b = tiny_df.filter(F.xxhash64("conv_id") % 2 != 0)
    st = Storage(str(tmp_path / "inc"))
    st.merge_triples(spark, "triples", build_triples_fast(spark, half_a))
    merged = st.merge_triples(spark, "triples",
                              build_triples_fast(spark, half_b))
    # consume before the next merge: a parquet-mode merge swaps the
    # directory, invalidating earlier readers (Iceberg mode versions
    # snapshots instead — no such constraint there)
    merged_rows = sorted(map(tuple, merged.collect()))
    assert merged_rows == sorted(map(tuple, full.collect()))
    # idempotent: merging a slice again changes nothing
    again = st.merge_triples(spark, "triples",
                             build_triples_fast(spark, half_b))
    assert again.count() == len(merged_rows)


def test_merge_accepts_duplicate_keyed_batch(spark, tmp_path):
    """ADVICE r2: a batch carrying duplicate (s,p,o) keys must be
    deduped INSIDE merge_triples on every path (on Iceberg a dup batch
    would violate MERGE cardinality; on parquet it would double-insert)
    — callers are not required to pre-dedup."""
    from otd_semantic_framework_spark.sources.storage import Storage

    schema = ("subj string, pred string, obj string, conv_id string, "
              "turn_idx int, score double")
    dup_batch = spark.createDataFrame(
        [("s1", "mentions", "c1", "v", 0, 0.5),
         ("s1", "mentions", "c1", "v", 0, 0.9),   # same key, higher score
         ("s2", "mentions", "c2", "v", 1, 0.7)], schema)
    st = Storage(str(tmp_path / "dup"))
    first = st.merge_triples(spark, "triples", dup_batch)
    rows = {(r.subj, r.pred, r.obj): r.score for r in first.collect()}
    assert len(rows) == 2 and rows[("s1", "mentions", "c1")] == 0.9
    # and again through the merge (existing-table) path
    second = st.merge_triples(spark, "triples", dup_batch)
    rows2 = {(r.subj, r.pred, r.obj): r.score for r in second.collect()}
    assert rows2 == rows


def test_compact_table_preserves_content(spark, tiny_df, tmp_path):
    """Compaction rewrites many small files into few, byte-identical
    content (set semantics), crash-safe swap like merge_triples."""
    import os
    from otd_semantic_framework_spark.plans.pipeline import (
        build_triples_fast)
    from otd_semantic_framework_spark.sources.storage import Storage

    st = Storage(str(tmp_path))
    triples = build_triples_fast(spark, tiny_df)
    # fragment: 17 tiny files
    st.write_table(triples.repartition(17), "triples")
    p = st._path("triples")
    assert sum(1 for f in os.listdir(p) if f.endswith(".parquet")) == 17
    before = sorted((r.subj, r.pred, r.obj, round(r.score, 6))
                    for r in st.read_table(spark, "triples").collect())
    n = st.compact_table(spark, "triples", target_file_mb=128)
    assert n == 1  # tiny table → single file
    assert sum(1 for f in os.listdir(p) if f.endswith(".parquet")) == 1
    after = sorted((r.subj, r.pred, r.obj, round(r.score, 6))
                   for r in st.read_table(spark, "triples").collect())
    assert after == before


def test_cluster_by_yields_disjoint_file_ranges(spark, tiny_df, tmp_path):
    """cluster_by=subj must produce files owning DISJOINT subj ranges
    (checked against the real parquet footer min/max stats) — the
    property that lets a point lookup prune to one file before reading
    any row."""
    import os
    import pyarrow.parquet as pq
    from otd_semantic_framework_spark.plans.pipeline import (
        build_triples_fast)
    from otd_semantic_framework_spark.sources.storage import Storage

    st = Storage(str(tmp_path))
    st.write_table(build_triples_fast(spark, tiny_df), "triples",
                   cluster_by=["subj"], n_files=4)
    p = st._path("triples")
    ranges = []
    for f in sorted(os.listdir(p)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(p, f)).metadata
        col = next(i for i in range(md.num_columns)
                   if md.row_group(0).column(i).path_in_schema == "subj")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(col).statistics
            mins.append(s.min); maxs.append(s.max)
        ranges.append((min(mins), max(maxs)))
    ranges = [r for r in ranges if r]
    assert len(ranges) >= 2  # actually split into multiple files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)  # disjoint key ranges
    # content unchanged by the layout
    got = sorted((r.subj, r.pred, r.obj) for r in
                 st.read_table(spark, "triples").collect())
    want = sorted((r.subj, r.pred, r.obj) for r in
                  build_triples_fast(spark, tiny_df).collect())
    assert got == want


def test_edited_ontology_invalidates_checkpoints(spark, tiny_df, tmp_path):
    """An edited taxonomy with the SAME concept count must not resume
    checkpoints computed under the old one (the fingerprint digests
    ontology content, not size)."""
    from otd_semantic_framework_spark.sources.fixtures import ontology_pandas
    run_dir = str(tmp_path / "run")
    onto = ontology_pandas()
    run_pipeline(spark, tiny_df, run_dir, ontology_pdf=onto)
    # relabel one concept: same row count, different semantics
    edited = onto.copy(deep=True)
    edited.loc[edited.index[-1], "pref_label"] = "renamed concept label"
    res = run_pipeline(spark, tiny_df, run_dir, ontology_pdf=edited)
    assert all(not m.get("resumed", False) for m in res.metrics.values()), \
        res.metrics
    # and an UNCHANGED ontology still resumes everything
    res2 = run_pipeline(spark, tiny_df, run_dir, ontology_pdf=edited)
    assert all(m.get("resumed", False) for m in res2.metrics.values())


def test_embedding_edit_invalidates_checkpoints(spark, tiny_df, tmp_path,
                                                ontology_pdf,
                                                retrained_ontology_pdf):
    """Retrained embeddings with an unchanged taxonomy must not resume
    the candidates checkpoint (candidate scores are cosines against the
    concept embeddings); the same edited ontology then resumes it."""
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, tiny_df, run_dir, ontology_pdf=ontology_pdf,
                 stop_after="candidates")
    res = run_pipeline(spark, tiny_df, run_dir,
                       ontology_pdf=retrained_ontology_pdf,
                       stop_after="candidates")
    assert res.metrics["candidates"]["resumed"] is False, res.metrics
    res2 = run_pipeline(spark, tiny_df, run_dir,
                        ontology_pdf=retrained_ontology_pdf,
                        stop_after="candidates")
    assert res2.metrics["candidates"]["resumed"] is True, res2.metrics


def test_resume_manifest_query_removes_its_run_dir(spark, tiny_df,
                                                   monkeypatch):
    """kg_resume_manifest's two-run checkpoint dir is gone once the
    query's rows are collected (the summary is built in pandas)."""
    import tempfile

    from otd_semantic_framework_spark.plans.queries import kg1
    monkeypatch.setattr(kg1, "derived_transcripts",
                        lambda spark, sf_dir: tiny_df.drop("ts"))
    run_dir = os.path.join(tempfile.gettempdir(),
                           f"kg_resume_sf-tiny_{os.getpid()}")
    rows = kg1.q_kg_resume_manifest(spark, "sf-tiny").collect()
    assert rows and all(r.resumed for r in rows)
    assert not os.path.exists(run_dir)
