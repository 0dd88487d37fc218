"""Per-layer profile: the ``--trace 1`` run.

Every traced run measures every layer, so the per-layer metric set is
the same for each workload: the build probe (prefix plans of
``build_triples_fast``), the autotag probe (``run_pipeline`` stepped
stage by stage), the serve probe (direct vs HTTP search, tags and a
refresh) and the 18-query suite. The probe of the run's own workload
uses that workload's input size; the others use probe sizes, so the
run stays within its time limit. Spans are recorded around the calls
into each layer from these files and written to
``.perfbench_work/spans/`` when the run ends.

Lazy layers (normalize, mentions, respread, scan) cost nothing when
called; their execution cost is measured as prefix plans, each
executed on its own and reported minus the previous prefix.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
import workloads as W
from spans import Tracer, execute_with_metrics

PROBE_BUILD_CONVS = 2_000
SF_SCALE = 0.01                # lineitem ~6k rows
AUTOTAG_STAGES = ["concept_similarity", "mentions", "candidates",
                  "canonical", "triples", "cds_scores"]


def profile(b: W.Bench, jvm_s: float) -> dict:
    tr = Tracer()
    m: dict[str, tuple[float, str]] = {"session.get_spark_s": (jvm_s, "s")}
    counts = {"attempted": 0, "failed": 0}
    build_convs = W.BUILD_CONVS if b.workload == "kg_build" else PROBE_BUILD_CONVS
    try:
        build_probe(b, tr, m, counts, build_convs)
        W.log("build probe done")
        run_dir = autotag_probe(b, tr, m, counts)
        W.log("autotag probe done")
        serve_probe(b, tr, m, counts, run_dir)
        W.log("serve probe done")
        query_probe(b, tr, m, counts)
        W.log("query probe done")
        m["jvm.peak_rss_mb"] = (b.peak_rss_mb(), "MB")
    finally:
        tr.dump(os.path.join(W.ROOT, ".perfbench_work", "spans",
                             f"{b.workload}-s{b.seed}.json"))
    return {**counts, "metrics": m}


def _plan_metric(nodes, cls: str, key: str) -> int:
    """Sum of one SQL metric over the plan's nodes of class ``cls``."""
    return sum(mt.get(key, 0) for c, _, mt in nodes if c == cls)


# -- kg_build layers --------------------------------------------------------

def build_probe(b, tr: Tracer, m: dict, counts: dict, n_convs: int) -> None:
    from otd_semantic_framework_spark import semantics as S
    from otd_semantic_framework_spark.operators.linking import surface_canonical_table
    from otd_semantic_framework_spark.operators.mentions import (
        detect_canonical_concepts_exploded)
    from otd_semantic_framework_spark.operators.normalize import normalize_turns
    from otd_semantic_framework_spark.operators.triples import (
        canonical_mention_triples, reply_triples, tool_triples)
    from otd_semantic_framework_spark.plans.pipeline import build_triples_fast
    from otd_semantic_framework_spark.sources.fixtures import ontology_pandas

    spark = b.spark
    tx = spark.read.parquet(gen.transcripts(spark, W.ROOT, b.seed, n_convs,
                                            W.HOT_SHARE))
    out = os.path.join(b.work, "probe_triples")
    W.build_once(b, tx, out)  # cold iteration
    untraced = statistics.median(W.build_once(b, tx, out) for _ in range(2))
    ref = W.digest(spark.read.parquet(out), W.TRIPLE_COLS)
    with tr.span("kg_build.iteration", trace_id="kg_build") as it:
        with tr.span("plans.pipeline.build_triples_fast") as plan:
            df = build_triples_fast(spark, tx)
        with tr.span("sources.storage.write_parquet") as sink:
            df.write.mode("overwrite").parquet(out)
    counts["attempted"] += 4
    W.check(W.digest(spark.read.parquet(out), W.TRIPLE_COLS) == ref,
            "the traced iteration's triples differ from the untraced ones")

    # the driver-side setup build_triples_fast does, for the prefix plans
    onto = ontology_pandas()
    concepts = [S.Concept(r.concept_id, r.pref_label, list(r.alt_labels),
                          r.parent_id, int(r.depth), list(r.path))
                for r in onto.itertuples()]
    gaz = S.build_gazetteer(concepts)
    wup = [(a.concept_id, c.concept_id, S.wup_similarity(a, c))
           for a in concepts for c in concepts]
    canon = surface_canonical_table(
        onto, gaz, pd.DataFrame(wup, columns=["concept_a", "concept_b", "wup"]))
    spread = tx.repartition(spark.sparkContext.defaultParallelism * 3)

    def run(name, frame):
        with tr.span(name, trace_id="kg_build.prefix"):
            counts["attempted"] += 1
            return execute_with_metrics(frame)

    scan, _ = run("sources.scan", tx.select("conv_id", "turn_idx", "text"))
    resp, resp_nodes = run("plans.pipeline.respread", spread)
    norm, _ = run("operators.normalize.normalize_turns", normalize_turns(spread))
    ment, ment_nodes = run(
        "operators.mentions.detect_canonical_concepts_exploded",
        canonical_mention_triples(detect_canonical_concepts_exploded(
            normalize_turns(spread), gaz, canon)))
    reply, reply_nodes = run("operators.triples.reply_triples", reply_triples(tx))
    tool, _ = run("operators.triples.tool_triples", tool_triples(tx))
    full, _ = run("plans.pipeline.build_triples_fast.noop", build_triples_fast(spark, tx))

    by_pred = dict(spark.read.parquet(out).groupBy("pred").count().collect())
    W.check(sum(by_pred.values()) == ref[0], "triple count mismatch")
    layers = {
        "plans.pipeline.build_triples_fast.plan_s": tr.duration(plan),
        "sources.scan_s": scan,
        "plans.pipeline.respread_s": resp - scan,
        "operators.normalize.normalize_turns_s": norm - resp,
        "operators.mentions.detect_canonical_s": ment - norm,
        "operators.triples.reply_triples_s": reply,
        "operators.triples.tool_triples_s": tool,
        "sources.storage.sink_s": tr.duration(sink) - full,
    }
    m.update({k: (v, "s") for k, v in layers.items()})
    m.update({
        "plans.pipeline.build_triples_fast.noop_s": (full, "s"),
        "plans.pipeline.respread.shuffle_bytes": (_plan_metric(
            resp_nodes, "ShuffleExchangeExec", "shuffleBytesWritten"), "bytes"),
        "operators.mentions.detect_canonical.python_time_s": (
            _plan_metric(ment_nodes, "MapInPandasExec", "pythonTotalTime") / 1e3, "s"),
        "operators.mentions.detect_canonical.python_bytes_sent": (
            _plan_metric(ment_nodes, "MapInPandasExec", "pythonDataSent"), "bytes"),
        "operators.mentions.detect_canonical.python_bytes_received": (
            _plan_metric(ment_nodes, "MapInPandasExec", "pythonDataReceived"), "bytes"),
        "operators.mentions.detect_canonical.rows_out": (
            _plan_metric(ment_nodes, "MapInPandasExec", "pythonNumRowsReceived"), "count"),
        "operators.triples.reply_triples.shuffle_bytes": (_plan_metric(
            reply_nodes, "ShuffleExchangeExec", "shuffleBytesWritten"), "bytes"),
        "triples_out.mentions": (by_pred.get("mentions", 0), "count"),
        "triples_out.uses_tool": (by_pred.get("uses_tool", 0), "count"),
        "triples_out.replies_to": (by_pred.get("replies_to", 0), "count"),
        "kg_build.untraced_s": (untraced, "s"),
        "kg_build.layer_coverage": (sum(layers.values()) / untraced, "ratio"),
        "trace.overhead_s": (tr.duration(it) - untraced, "s"),
    })


# -- kg_autotag layers ------------------------------------------------------

def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def autotag_once(b, transcripts, run_dir: str):
    """The CLI ``autotag`` call: run_pipeline with defaults, then the
    two counts the CLI prints."""
    from otd_semantic_framework_spark.plans.pipeline import run_pipeline
    t = time.perf_counter()
    res = run_pipeline(b.spark, transcripts, run_dir)
    res.triples.count()
    res.cds.count()
    return time.perf_counter() - t, res


def check_cds_vs_oracle(b, cds, transcripts) -> None:
    from tests.oracle_tagger import oracle_cds, oracle_triples
    pdf, _, convs = W.oracle_sample(b, transcripts, W.AUTOTAG_CONVS, hot_turns=None)
    want = oracle_cds(oracle_triples(pdf))
    keys = [f"conv:{c}" for c in convs]
    got = cds.filter(F.col("subj_key").isin(keys)).select(*W.CDS_COLS).toPandas()
    W.check(len(got) == len(want) and W.frame_hash(got) == W.frame_hash(want),
            f"cds differs from oracle_cds on the sample ({len(got)} vs {len(want)})")


def autotag_probe(b, tr: Tracer, m: dict, counts: dict) -> str:
    """Step run_pipeline through its stages on one dir; each step
    resumes the completed stages and runs one more, so its wall is that
    stage's cost. Returns the completed run dir."""
    from otd_semantic_framework_spark.plans.pipeline import run_pipeline
    spark = b.spark
    tx = spark.read.parquet(gen.transcripts(spark, W.ROOT, b.seed,
                                            W.AUTOTAG_CONVS, W.HOT_SHARE))
    run_dir = os.path.join(b.work, "probe_run")
    for stage in AUTOTAG_STAGES:
        stop = None if stage == "cds_scores" else stage
        with tr.span(f"plans.pipeline.stage.{stage}", trace_id="kg_autotag") as sp:
            res = run_pipeline(spark, tx, run_dir, stop_after=stop)
        counts["attempted"] += 1
        W.check(not res.metrics[stage]["resumed"], f"stage {stage} resumed")
        m[f"plans.pipeline.stage.{stage}_s"] = (tr.duration(sp), "s")
        m[f"plans.pipeline.stage.{stage}.rows_out"] = (
            res.metrics[stage]["rows_out"], "count")
    with tr.span("plans.pipeline.resume", trace_id="kg_autotag") as sp:
        wall, res = autotag_once(b, tx, run_dir)
    counts["attempted"] += 1
    W.check(all(v.get("resumed") for v in res.metrics.values()),
            "resume recomputed a completed stage")
    m["plans.pipeline.resume_s"] = (wall, "s")
    fast = os.path.join(b.work, "probe_fast_triples")
    W.build_once(b, tx, fast)
    W.check(W.digest(res.triples, W.TRIPLE_COLS)
            == W.digest(spark.read.parquet(fast), W.TRIPLE_COLS),
            "run_pipeline triples differ from build_triples_fast")
    check_cds_vs_oracle(b, res.cds, tx)
    sizes = {st: _du(os.path.join(run_dir, f"{st}.parquet")) for st in AUTOTAG_STAGES}
    for st, n in sizes.items():
        m[f"sources.storage.bytes.{st}"] = (n, "bytes")
    m["sources.storage.bytes_per_triple_byte"] = (
        _du(run_dir) / sizes["triples"], "ratio")
    return run_dir


# -- serve layers -----------------------------------------------------------

def serve_probe(b, tr: Tracer, m: dict, counts: dict, run_dir: str) -> None:
    from otd_semantic_framework_spark import semantics as S
    from otd_semantic_framework_spark.operators.cds import conv_tags, propagate_cds
    from otd_semantic_framework_spark.operators.linking import (concept_matrix,
                                                               score_surfaces)
    from otd_semantic_framework_spark.operators.manual import (ingest_manual_tags,
                                                              merge_tag_sources)
    from otd_semantic_framework_spark.serve import MANUAL_TAGS_TABLE, make_server
    from otd_semantic_framework_spark.sources.fixtures import ontology_spark

    spark = b.spark
    with tr.span("serve.SearchService.load", trace_id="serve") as sp:
        httpd, svc = make_server(spark, run_dir)
    m["serve.SearchService.load_s"] = (tr.duration(sp), "s")
    server = threading.Thread(target=httpd.serve_forever, daemon=True)
    server.start()
    client = W.Client(httpd.server_address[1])
    try:
        _serve_probe(b, tr, m, counts, svc, client)
        ids, cmat = concept_matrix(svc.ontology_pdf)
        gaz = {S.normalize_text(c): c for c in svc.ontology_pdf["pref_label"]}
        walls = []
        for q, _ in W.query_pool(b.seed)[:8]:
            norm = S.normalize_text(q)
            surfaces = [x[0] for x in S.find_mentions(norm, gaz)] or norm.split()
            with tr.span("operators.linking.score_surfaces", trace_id="serve") as sp:
                score_surfaces(sorted(set(surfaces)), ids, cmat,
                               top_k=S.TOP_K, threshold=S.COS_THRESHOLD)
            walls.append(tr.duration(sp))
        m["operators.linking.score_surfaces_s"] = (statistics.median(walls), "s")

        # the steps of SearchService.refresh, one at a time
        st = svc.storage
        onto = ontology_spark(spark)
        with tr.span("operators.manual.ingest_manual_tags", trace_id="serve") as sp:
            valid = ingest_manual_tags(st.read_table(spark, MANUAL_TAGS_TABLE), onto)
            valid.count()
        m["operators.manual.ingest_manual_tags_s"] = (tr.duration(sp), "s")
        merged = merge_tag_sources(conv_tags(st.read_table(spark, "triples")), valid)
        with tr.span("operators.cds.propagate_cds", trace_id="serve") as sp:
            st.write_table(propagate_cds(merged.drop("sources"),
                                         st.read_table(spark, "concept_similarity")),
                           "cds_probe")
        m["operators.cds.propagate_cds_s"] = (tr.duration(sp), "s")
        counts["attempted"] += 2
    finally:
        httpd.shutdown()
        httpd.server_close()
        server.join(timeout=60)


def _serve_probe(b, tr, m, counts, svc, client) -> None:
    from otd_semantic_framework_spark.plans.search import search
    queries = W.query_pool(b.seed)[:8]
    plan_s, collect_s, direct, via_http = [], [], [], []
    for q, tax in queries:
        with tr.span("serve.direct_search", trace_id=f"search:{q}") as whole:
            with tr.span("plans.search.search.plan") as sp:
                hits = search(q, svc.cds, svc.ontology_pdf, top_n=10,
                              wup_pdf=svc.wup_pdf if tax else None)
            plan_s.append(tr.duration(sp))
            with tr.span("plans.search.search.collect") as sp:
                rows = [r.asDict() for r in hits.collect()]
            collect_s.append(tr.duration(sp))
        direct.append(tr.duration(whole) * 1e3)
        with tr.span("serve.http_search", trace_id=f"search:{q}") as sp:
            status, payload = client.call("GET", W.search_path(q, tax))
        via_http.append(tr.duration(sp) * 1e3)
        counts["attempted"] += 2
        W.check(status == 200 and _same_hits(payload["results"], rows),
                f"HTTP search differs from the direct call for {q!r}")
    m["plans.search.search.plan_s"] = (statistics.median(plan_s), "s")
    m["plans.search.search.collect_s"] = (statistics.median(collect_s), "s")
    m["serve.http_overhead_ms"] = (
        statistics.median(via_http) - statistics.median(direct), "ms")
    m["serve.search_p50_ms.idle"] = (statistics.median(via_http), "ms")
    m["serve.search_p95_ms.idle"] = (float(np.percentile(via_http, 95)), "ms")

    known = sorted(svc._known_concepts)
    tags = [body for batch in W.curator_tags(b.seed, 2, 6, known)
            for body, invalid in batch if not invalid][:3]
    accepted = []

    def post_tag(body, out: list) -> None:
        t = time.perf_counter()
        status, _ = client.call("POST", "/api/v1/tag", body)
        out.append((time.perf_counter() - t) * 1e3)
        counts["attempted"] += 1
        counts["failed"] += status != 200
        if status == 200:
            accepted.append((body["subj_key"], body["concept_id"], body["weight"]))

    idle_tag: list = []
    for body in tags[:2]:
        post_tag(body, idle_tag)
    m["serve.tag_ms.idle"] = (statistics.median(idle_tag), "ms")

    # searches, and one tag, while a refresh holds the service lock
    refresh = {}

    def do_refresh():
        t = time.perf_counter()
        refresh["status"], _ = client.call("POST", "/api/v1/refresh", {})
        refresh["s"] = time.perf_counter() - t

    th = threading.Thread(target=do_refresh)
    th.start()
    time.sleep(0.3)
    busy_tag: list = []
    tagger = threading.Thread(target=post_tag, args=(tags[2], busy_tag))
    tagger.start()
    # The seed's refresh overwrites the served CDS files in place, so
    # some of these searches fail at random. Their share is this probe's
    # metric; they stay out of the run's failed count, which must repeat.
    busy_search, busy_ok, i = [], 0, 0
    while th.is_alive() or not busy_search:
        q, tax = queries[i % len(queries)]
        t = time.perf_counter()
        status, _ = client.call("GET", W.search_path(q, tax))
        busy_search.append((time.perf_counter() - t) * 1e3)
        busy_ok += status == 200
        i += 1
    th.join()
    tagger.join()
    counts["attempted"] += 1
    counts["failed"] += refresh["status"] != 200
    m["serve.refresh_s"] = (refresh["s"], "s")
    m["serve.search_p95_ms.during_refresh"] = (
        float(np.percentile(busy_search, 95)), "ms")
    m["serve.search_ok_share.during_refresh"] = (
        busy_ok / len(busy_search), "ratio")
    m["serve.tag_ms.during_refresh"] = (busy_tag[0], "ms")
    # the tag posted during the refresh may land after it: refresh again
    status, _ = client.call("POST", "/api/v1/refresh", {})
    counts["attempted"] += 1
    counts["failed"] += status != 200
    W.check_served_cds(b, svc, svc.run_dir, accepted)


def _same_hits(a: list[dict], b: list[dict]) -> bool:
    key = lambda r: (r["rank"], r["subj_key"], round(r["search_score"], 6))  # noqa: E731
    return sorted(map(key, a)) == sorted(map(key, b))


# -- plans.queries ----------------------------------------------------------

def query_probe(b, tr: Tracer, m: dict, counts: dict) -> None:
    import duckdb

    import __spark_entry__ as E
    from bench import BENCH_QUERIES

    spark = b.spark
    sf = gen.sf_tables(W.ROOT, b.seed, SF_SCALE)
    queries, oracles = E.queries(), E.oracle_sql()
    cold = warm = 0.0
    for q in BENCH_QUERIES:
        with tr.span(f"plans.queries.{q}.plan", trace_id="query_suite") as sp:
            df = queries[q](spark, sf)
            df._jdf.queryExecution().executedPlan()
        plan = tr.duration(sp)
        with tr.span(f"plans.queries.{q}.exec_cold", trace_id="query_suite") as sp:
            df.write.mode("overwrite").format("noop").save()
        m[f"plans.queries.{q}.plan_s"] = (plan, "s")
        m[f"plans.queries.{q}.exec_cold_s"] = (tr.duration(sp), "s")
        cold += plan + tr.duration(sp)
    # warm pass: collected to the driver, which the oracle check needs
    con = duckdb.connect()
    try:
        for t in os.listdir(sf):
            con.sql(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM "
                    f"'{os.path.join(sf, t)}'")
        for q in BENCH_QUERIES:
            df = queries[q](spark, sf)
            with tr.span(f"plans.queries.{q}.exec_warm", trace_id="query_suite") as sp:
                got = df.toPandas()
            m[f"plans.queries.{q}.exec_warm_s"] = (tr.duration(sp), "s")
            warm += tr.duration(sp)
            if q not in oracles:  # Spark-only operator: rows-only check
                W.check(len(got) > 0, f"{q}: no rows")
                continue
            want = con.sql(oracles[q]).df()
            W.check(len(got) == len(want)
                    and sorted(got.columns) == sorted(want.columns)
                    and W.frame_hash(got) == W.frame_hash(want),
                    f"{q}: output differs from its DuckDB oracle")
    finally:
        con.close()
    m["query_suite.cold_s"] = (cold, "s")
    m["query_suite.warm_s"] = (warm, "s")
    counts["attempted"] += 2 * len(BENCH_QUERIES)
