"""A run dir records the ontology it was built with, and every reader of
the run uses it: the server's concept list, query scoring, tag
validation and refresh, on a run built over the SKOS Turtle fixture
(ids ``http://example.org/otd/bus``, ..., none shared with the
built-in ``otd:C000``... ids). Read-side commands name a missing
table."""

import argparse
import json
import shutil
import threading
import urllib.error
import urllib.request

import pandas as pd
import pytest

from otd_semantic_framework_spark.cli import cmd_matrix, cmd_search
from otd_semantic_framework_spark.operators.linking import OntologySetup
from otd_semantic_framework_spark.plans.pipeline import (record_ontology,
                                                         refresh_cds,
                                                         run_ontology,
                                                         run_pipeline)
from otd_semantic_framework_spark.serve import SearchService, make_server
from otd_semantic_framework_spark.sources.fixtures import ontology_pandas
from otd_semantic_framework_spark.sources.rdf import (
    FIXTURE_TTL, ontology_table_from_turtle)
from otd_semantic_framework_spark.sources.storage import Storage

BUS = "http://example.org/otd/bus"  # the Turtle fixture's otd:bus


@pytest.fixture(scope="module")
def ttl_run(spark, tiny_df, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("ttl_run"))
    onto = ontology_table_from_turtle(spark, FIXTURE_TTL).toPandas()
    run_pipeline(spark, tiny_df, run_dir, ontology_pdf=onto)
    httpd, svc = make_server(spark, run_dir, port=0)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}", svc, onto
    httpd.shutdown()
    httpd.server_close()


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return r.status, json.loads(r.read())


def _post(base, path, payload):
    req = urllib.request.Request(
        base + path, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, json.loads(r.read())


def test_served_concepts_are_the_runs(ttl_run):
    base, _, onto = ttl_run
    code, concepts = _get(base, "/api/v1/concepts")
    assert code == 200
    assert {c["concept_id"] for c in concepts} == set(onto["concept_id"])
    assert BUS in {c["concept_id"] for c in concepts}


def test_tag_refresh_search_on_turtle_run(ttl_run):
    """A run concept is accepted and a built-in one rejected; after a
    refresh a search for the concept's label finds the tagged subject."""
    base, svc, _ = ttl_run
    subj = "conv:ttl-demo"
    code, _ = _post(base, "/api/v1/tag", {"subj_key": subj,
                                          "concept_id": BUS,
                                          "weight": 0.95})
    assert code == 200
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base, "/api/v1/tag", {"subj_key": subj,
                                    "concept_id": "otd:C001"})
    assert e.value.code == 400

    code, body = _post(base, "/api/v1/refresh", {})
    assert code == 200
    assert body["manual_valid"] == 1 and body["manual_rejected"] == 0
    assert body["cds_rows"] == svc.cds_rows
    code, hits = _get(base, "/api/v1/search?q=bus&top_n=1000")
    assert code == 200
    assert subj in {r["subj_key"] for r in hits["results"]}


def test_recorded_ontology_roundtrip(ttl_run, tmp_path):
    """The recorded table keeps the setup digest (the run's checkpoint
    fingerprint); a run dir without the record reads the built-in
    ontology."""
    _, svc, onto = ttl_run
    assert OntologySetup(run_ontology(svc.run_dir)).digest == \
        OntologySetup(onto).digest
    pd.testing.assert_frame_equal(run_ontology(str(tmp_path)),
                                  ontology_pandas())
    built_in = record_ontology(str(tmp_path / "built_in"))
    assert OntologySetup(run_ontology(str(tmp_path / "built_in"))).digest \
        == OntologySetup(built_in).digest


def test_bare_matrix_keeps_the_runs_ontology(spark, ttl_run, tmp_path):
    """``matrix`` without ``--ontology`` on a Turtle run keeps the Turtle
    record and rebuilds the Wu-Palmer pairs over the Turtle ids."""
    _, svc, onto = ttl_run
    run_dir = str(tmp_path / "copy")
    shutil.copytree(svc.run_dir, run_dir)
    st = Storage(run_dir)
    want = sorted(map(tuple, st.read_table(spark, "concept_similarity")
                      .collect()))
    cmd_matrix(spark, argparse.Namespace(run_dir=run_dir, ontology=None))
    assert set(run_ontology(run_dir)["concept_id"]) == set(onto["concept_id"])
    got = sorted(map(tuple, st.read_table(spark, "concept_similarity")
                     .collect()))
    assert got == want
    assert {a for a, _, _ in got} == set(onto["concept_id"])


def test_read_side_names_missing_tables(spark, tmp_path):
    """Each read-side entry point names the missing table and the
    lifecycle step that makes it, instead of an AnalysisException."""
    empty = str(tmp_path / "empty")
    manual = spark.createDataFrame(
        [("conv:x", "otd:C001", 0.5)],
        "subj_key string, concept_id string, weight double")
    with pytest.raises(ValueError, match=r"triples table .*`autotag`"):
        refresh_cds(spark, empty, manual, ontology_pandas())
    with pytest.raises(ValueError, match=r"cds_scores table .*`autotag`"):
        SearchService(spark, empty)

    cds_only = str(tmp_path / "cds_only")
    Storage(cds_only).write_table(spark.createDataFrame(
        [("conv:x", "otd:C001", 0.5)],
        "subj_key string, concept_id string, score double"), "cds_scores")
    args = argparse.Namespace(run_dir=empty, query="bus", top_n=3,
                              taxonomic=False)
    with pytest.raises(ValueError, match=r"cds_scores table .*`autotag`"):
        cmd_search(spark, args)
    args.run_dir, args.taxonomic = cds_only, True
    with pytest.raises(ValueError,
                       match=r"concept_similarity table .*`matrix`"):
        cmd_search(spark, args)
