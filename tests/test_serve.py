"""HTTP front door (serve.py) over a real loopback socket.

The reference's Flask search endpoint + dataset_tagger web lifecycle
[K], served by the stdlib ThreadingHTTPServer twin: search parity with
the engine call, POST-validated curated tagging, and the two-step
tag → refresh → re-search flow end-to-end. Searches are answered from
the in-memory CDS index: the Spark ``search`` plan is its oracle, no
search submits a Spark job, and a search during a refresh answers from
the previous snapshot."""

import json
import threading
import urllib.error
import urllib.request

import numpy as np
import pandas as pd
import pytest

from otd_semantic_framework_spark import semantics as S
from otd_semantic_framework_spark.plans.pipeline import run_pipeline
from otd_semantic_framework_spark.plans.search import (CdsIndex, query_scores,
                                                       search as engine_search)
from otd_semantic_framework_spark.serve import make_server
from otd_semantic_framework_spark.sources.fixtures import ontology_pandas
from otd_semantic_framework_spark.sources.storage import Storage


@pytest.fixture(scope="module")
def server(spark, tiny_df, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("serve_run"))
    run_pipeline(spark, tiny_df, run_dir)
    httpd, svc = make_server(spark, run_dir, port=0)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}", svc
    httpd.shutdown()


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return r.status, json.loads(r.read())


def _self_matching_concept():
    """A concept whose pref_label self-matches as one whole mention
    (the root's label contains other labels as substrings, so querying
    it would score a DIFFERENT concept — correct engine behavior)."""
    onto = ontology_pandas()
    gaz = {S.normalize_text(x): x for x in onto["pref_label"]}
    return next(
        c for _, c in onto.iterrows()
        if [m[0] for m in S.find_mentions(
            S.normalize_text(c["pref_label"]), gaz)]
        == [S.normalize_text(c["pref_label"])])


def _post(base, path, payload):
    req = urllib.request.Request(
        base + path, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req, timeout=60) as r:
        return r.status, json.loads(r.read())


def test_health_and_concepts(server):
    base, _ = server
    code, body = _get(base, "/health")
    assert code == 200 and body["status"] == "ok" and body["cds_rows"] > 0
    assert body["taxonomic"] is True  # run_pipeline wrote the wup table
    code, concepts = _get(base, "/api/v1/concepts")
    assert code == 200 and len(concepts) == len(ontology_pandas())
    assert {"concept_id", "pref_label"} <= set(concepts[0])


def test_search_parity_with_engine(server, spark):
    """The HTTP payload is the engine result verbatim — same subjects,
    ranks, and scores as calling plans/search.py directly."""
    base, svc = server
    q = "bus timetable delay"
    code, body = _get(base, "/api/v1/search?q=bus+timetable+delay&top_n=5")
    assert code == 200 and body["query"] == q
    direct = [r.asDict() for r in engine_search(
        q, svc.cds, svc.ontology_pdf, top_n=5).collect()]
    assert body["results"] == json.loads(json.dumps(direct, default=str))
    assert [r["rank"] for r in body["results"]] == list(
        range(1, len(direct) + 1))

    # taxonomic=1 engages the WuP blend; payload differs from the pure
    # cosine ranking on at least the scores when a blend applies
    code, tx = _get(base,
                    "/api/v1/search?q=bus+timetable+delay&top_n=5&taxonomic=1")
    assert code == 200 and len(tx["results"]) == len(body["results"])


def test_search_errors(server):
    base, _ = server
    for path, want in [("/api/v1/search", 400),          # missing q
                       ("/api/v1/nope", 404)]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(base, path)
        assert e.value.code == want


def test_tag_refresh_search_lifecycle(server):
    """dataset_tagger flow: POST a curated tag for a synthetic subject,
    refresh the CDS, and see the subject surface for that concept's
    query — plus POST-time rejection of an unknown concept (the P19
    validation the reference does in its tagging UI)."""
    base, svc = server
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base, "/api/v1/tag",
              {"subj_key": "conv:http-demo", "concept_id": "bogus:nope"})
    assert e.value.code == 400

    concept = _self_matching_concept()
    code, body = _post(base, "/api/v1/tag",
                       {"subj_key": "conv:http-demo",
                        "concept_id": concept["concept_id"],
                        "weight": 0.95})
    assert code == 200 and body["stored"] == 1

    before = svc.cds_rows
    code, body = _post(base, "/api/v1/refresh", {})
    assert code == 200
    assert body["manual_valid"] == 1 and body["manual_rejected"] == 0
    assert body["cds_rows"] >= before  # manual tag adds subject rows

    code, hits = _get(
        base, "/api/v1/search?q=" +
        urllib.request.quote(concept["pref_label"]) + "&top_n=50")
    assert code == 200
    assert "conv:http-demo" in {r["subj_key"] for r in hits["results"]}


def _direct(svc, q, top_n, taxonomic):
    return [r.asDict() for r in engine_search(
        q, svc.cds, svc.ontology_pdf, top_n=top_n,
        wup_pdf=svc.wup_pdf if taxonomic else None).collect()]


def _seeded_queries(seed, n):
    rng = np.random.default_rng(seed)
    labels = list(ontology_pandas()["pref_label"])
    filler = ["the", "late", "near", "my", "ticket", "again", "station"]
    return [" ".join(rng.permutation(
        [labels[i] for i in rng.choice(len(labels), rng.integers(1, 4),
                                       replace=False)]
        + list(rng.choice(filler, rng.integers(0, 3))))) for _ in range(n)]


def test_served_payload_equals_engine_search(server):
    """The served payload is the Spark ``search`` rows, verbatim, for a
    seeded query set in both modes, top_n 1, 10 and more than the
    number of subjects, and a vocabulary miss."""
    base, svc = server
    many = svc.cds.select("subj_key").distinct().count() + 5
    queries = _seeded_queries(17, 6) + ["qqq zzz xyzzy"]
    for q in queries:
        for taxonomic in (False, True):
            for top_n in (1, 10, many):
                want = _direct(svc, q, top_n, taxonomic)
                assert svc.search(q, top_n, taxonomic)["results"] == want, (
                    q, taxonomic, top_n)
    code, body = _get(base, "/api/v1/search?q=" + urllib.request.quote(
        queries[0]) + f"&top_n={many}&taxonomic=1")
    assert code == 200 and body["results"] == json.loads(json.dumps(
        _direct(svc, queries[0], many, True), default=str))
    assert svc.search("qqq zzz xyzzy", 10)["results"] == []


def test_served_ties_order_by_subj_key(spark, ontology_pdf):
    """Two subjects with equal rounded scores rank by subj_key, as in
    the Spark plan; the index is built from an unordered table."""
    q = "bus timetable delay"
    qvec = query_scores(q, ontology_pdf)
    c1, c2 = sorted(qvec["concept_id"])[:2]
    rows = [("conv:tie-b", c2, 0.5),
            ("conv:tie-b", c1, 0.25),
            ("conv:top", c1, 0.9),
            ("conv:top", c2, 0.9),
            ("conv:tie-a", c1, 0.25),
            ("conv:tie-a", c2, 0.5),
            ("conv:miss", "otd:not-in-query", 0.9)]
    cds = pd.DataFrame(rows, columns=["subj_key", "concept_id", "score"])
    want = [r.asDict() for r in engine_search(
        q, spark.createDataFrame(cds, "subj_key string, concept_id string, "
                                      "score double"),
        ontology_pdf, top_n=10).collect()]
    got = CdsIndex(cds).rank(dict(zip(qvec["concept_id"], qvec["q_score"])),
                             10)
    assert got == want
    assert [r["subj_key"] for r in got] == ["conv:top", "conv:tie-a",
                                            "conv:tie-b"]
    assert got[1]["search_score"] == got[2]["search_score"]
    assert got[1]["matched_concepts"] == [c1, c2]


def test_searches_submit_no_spark_job(server, spark):
    base, svc = server
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    for i in range(20):
        code, _ = _get(base, "/api/v1/search?q=bus+timetable+delay"
                             f"&top_n={1 + i}&taxonomic={i % 2}")
        assert code == 200
    assert set(tracker.getJobIdsForGroup()) == before
    # the tracker does see jobs: one Spark search adds at least one
    _direct(svc, "bus timetable delay", 5, False)
    assert set(tracker.getJobIdsForGroup()) - before


def test_search_during_refresh_serves_previous_snapshot(server, monkeypatch):
    """A search sent while refresh is inside its write of the new CDS
    (the files already replaced) answers 200 from the pre-refresh
    snapshot; after the refresh the newly tagged subject is found."""
    base, svc = server
    concept = _self_matching_concept()
    subj = "conv:refresh-gate"
    path = ("/api/v1/search?q=" + urllib.request.quote(concept["pref_label"])
            + "&top_n=1000")
    _, before = _get(base, path)
    assert subj not in {r["subj_key"] for r in before["results"]}
    code, _ = _post(base, "/api/v1/tag", {"subj_key": subj,
                                          "concept_id": concept["concept_id"],
                                          "weight": 0.9})
    assert code == 200

    written, release = threading.Event(), threading.Event()
    write_table = Storage.write_table

    def gated_write(self, df, name, *args, **kwargs):
        write_table(self, df, name, *args, **kwargs)
        if name == "cds_scores":
            written.set()
            release.wait(120)

    monkeypatch.setattr(Storage, "write_table", gated_write)
    refreshed = {}
    refresher = threading.Thread(target=lambda: refreshed.update(
        r=_post(base, "/api/v1/refresh", {})))
    refresher.start()
    try:
        assert written.wait(120)
        code, during = _get(base, path)
    finally:
        release.set()
        refresher.join(timeout=180)
    assert not refresher.is_alive() and refreshed["r"][0] == 200
    assert code == 200 and during == before
    _, after = _get(base, path)
    assert subj in {r["subj_key"] for r in after["results"]}


def test_negative_top_n_is_400(server):
    base, _ = server
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/api/v1/search?q=bus&top_n=-1")
    assert e.value.code == 400
    code, body = _get(base, "/api/v1/search?q=bus&top_n=0")
    assert code == 200 and body["results"] == []


def test_unexpected_errors_answer_json_500(server, monkeypatch):
    base, svc = server

    def boom(*args, **kwargs):
        raise RuntimeError("engine down")

    monkeypatch.setattr(svc, "search", boom)
    monkeypatch.setattr(svc, "refresh", boom)
    for call in (lambda: _get(base, "/api/v1/search?q=bus"),
                 lambda: _post(base, "/api/v1/refresh", {})):
        with pytest.raises(urllib.error.HTTPError) as e:
            call()
        assert e.value.code == 500
        assert json.loads(e.value.read())["error"] == "RuntimeError"
