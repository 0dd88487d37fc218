"""Reference-parity CLI multiplexer (dataontosearch.py equivalent):
gen → autotag → matrix → search → evaluate, as subprocesses."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args):
    proc = subprocess.run(
        [sys.executable, "-m", "otd_semantic_framework_spark",
         "--master", "local[4]", *args],
        capture_output=True, text=True, cwd=ROOT, timeout=560)
    assert proc.returncode == 0, proc.stderr[-1500:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_cli_lifecycle(tmp_path):
    corpus = str(tmp_path / "t.parquet")
    run_dir = str(tmp_path / "run")
    out = _run("gen", "--convs", "40", "--out", corpus)
    assert out["turns"] > 100

    out = _run("autotag", "--input", corpus, "--run-dir", run_dir)
    assert out["triples"] > 100 and out["cds_rows"] > 0

    fused = _run("autotag", "--input", corpus,
                 "--run-dir", str(tmp_path / "fused_run"), "--fused")
    assert fused["triples"] == out["triples"]
    assert "mentions" not in fused["metrics"]

    out = _run("search", "--run-dir", run_dir, "bus timetable delay", "--top-n", "3")
    assert len(out["results"]) == 3
    assert out["results"][0]["rank"] == 1

    golden = os.path.join(run_dir, "triples.parquet")  # self-eval: P=R=1
    out = _run("evaluate", "--run-dir", run_dir, "--golden", golden)
    assert out["precision"] == 1.0 and out["recall"] == 1.0

    # taxonomic search needs the concept_similarity table in the run dir
    _run("matrix", "--run-dir", run_dir)
    tx = _run("search", "--run-dir", run_dir, "bus timetable delay",
              "--top-n", "3", "--taxonomic")
    assert len(tx["results"]) == 3 and tx["results"][0]["rank"] == 1

    # dataset_tagger lifecycle: one valid + one bogus curated tag
    import pandas as pd
    tags = str(tmp_path / "manual.parquet")
    subj = "conv:" + "manual-demo"
    pd.DataFrame({"subj_key": [subj, subj],
                  "concept_id": ["otd:C001", "bogus:nope"],
                  "weight": [0.9, 0.9]}).to_parquet(tags)
    out = _run("tag", "--run-dir", run_dir, "--tags", tags)
    assert out["manual_rejected"] == 1
    assert out["manual_valid"] == 1
    assert out["cds_rows"] > 0

    # SPARQL DESCRIBE over the materialized graph: pick a concept the
    # run actually tagged (most-mentioned obj) and check the CBD is
    # non-empty, bounded, and node-centric
    import pandas as pd  # noqa: F811 — local reuse
    tr = pd.read_parquet(os.path.join(run_dir, "triples.parquet"))
    node = (tr[tr["pred"] == "mentions"]["obj"]
            .value_counts().index[0])
    out = _run("describe", "--run-dir", run_dir, node, "--sample", "5")
    assert out["node"] == node
    assert out["n_incident"] > 0
    assert out["n_neighbor"] > 0
    assert len(out["sample"]) <= 5
    for row in out["sample"]:
        if row["via"] == "incident":
            assert node in (row["subj"], row["obj"])


def test_cli_turtle_ontology(tmp_path):
    """--ontology <file.ttl>: the reference's own ontology-input shape
    (SKOS Turtle) drives matrix and autotag end-to-end."""
    from otd_semantic_framework_spark.sources.rdf import FIXTURE_TTL
    run_dir = str(tmp_path / "ttl_run")
    out = _run("matrix", "--run-dir", run_dir, "--ontology", FIXTURE_TTL)
    assert out["pairs"] == 15 * 15  # fixture has 15 concepts

    corpus = str(tmp_path / "t.parquet")
    _run("gen", "--convs", "20", "--out", corpus)
    out = _run("autotag", "--input", corpus, "--run-dir", run_dir,
               "--ontology", FIXTURE_TTL)
    # transport fixture labels (bus, timetable, ...) appear in the
    # generated transport corpus, so tagging must produce triples
    assert out["triples"] > 0 and out["cds_rows"] > 0

    # `tag` validates against the run's recorded (Turtle) ontology:
    # its otd:bus is accepted, the built-in otd:C001 is not
    import pandas as pd
    tags = str(tmp_path / "manual.parquet")
    pd.DataFrame({"subj_key": ["conv:ttl-demo"] * 2,
                  "concept_id": ["http://example.org/otd/bus", "otd:C001"],
                  "weight": [0.9, 0.9]}).to_parquet(tags)
    out = _run("tag", "--run-dir", run_dir, "--tags", tags)
    assert out["manual_valid"] == 1 and out["manual_rejected"] == 1


def test_cli_infer_broader_and_validate(tmp_path):
    """autotag --infer-broader adds the P12b stage; `validate` reports
    per-constraint violation counts on the materialized graph and sets
    the exit code from them (nonzero only when a constraint fires)."""
    corpus = str(tmp_path / "t.parquet")
    run_dir = str(tmp_path / "run")
    _run("gen", "--convs", "20", "--out", corpus)
    plain = _run("autotag", "--input", corpus,
                 "--run-dir", str(tmp_path / "plain"))
    inf = _run("autotag", "--input", corpus, "--run-dir", run_dir,
               "--infer-broader")
    assert "inferred_triples" in inf["metrics"]
    assert inf["triples"] > plain["triples"]

    proc = subprocess.run(
        [sys.executable, "-m", "otd_semantic_framework_spark",
         "--master", "local[4]", "validate", "--run-dir", run_dir],
        capture_output=True, text=True, cwd=ROOT, timeout=560)
    assert proc.returncode in (0, 2), proc.stderr[-1500:]
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    # the pipeline only emits canonical concepts / prefixed tools /
    # well-formed subjects; only referential dangling can fire (opening
    # turns that emit no triples are replied to but absent as subjects)
    assert report["mentions_obj_in_ontology"] == 0
    assert report["mentions_score_in_unit_range"] == 0
    assert report["uses_tool_obj_prefixed"] == 0
    assert report["no_self_reply"] == 0
    assert report["subj_wellformed"] == 0
    assert (proc.returncode == 2) == (report["replies_to_target_exists"] > 0)


def test_cli_curate(tmp_path):
    """curate: attrition funnel on a documents parquet + cleaned corpus
    out — the training-data front door over the paired
    curation_attrition / text_boilerplate operators."""
    proc = subprocess.run(
        [sys.executable, "-m", "otd_semantic_framework_spark",
         "--master", "local[4]", "curate",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--clean-out", str(tmp_path / "clean.parquet"),
         "--seg-words", "3", "--df-cap", "5"],
        capture_output=True, text=True, cwd=ROOT, timeout=560)
    assert proc.returncode == 0, proc.stderr[-1500:]
    lines = [json.loads(x) for x in proc.stdout.strip().splitlines()
             if x.startswith("{")]
    funnel = next(x for x in lines if "attrition" in x)["attrition"]
    assert [r["rule"] for r in funnel] == [
        "min_tokens", "language", "repetition", "diversity", "survived"]
    assert funnel[0]["n_in"] == 500
    assert all(r["n_out"] == r["n_in"] - r["n_dropped"] for r in funnel)
    cleaned = next(x for x in lines if "cleaned" in x)["cleaned"]
    import pyarrow.parquet as pq
    t = pq.read_table(cleaned)
    assert t.num_rows == 500
    assert {"doc_id", "n_segs", "n_dropped", "clean_text",
            "clean_chars"} <= set(t.column_names)
