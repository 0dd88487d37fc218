"""CLI multiplexer — reference parity with ``dataontosearch.py
<subcommand>`` [K: the reference exposes search / autotag / matrix /
evaluate subcommands via argparse; SURVEY.md §3.1].

    python -m otd_semantic_framework_spark autotag   --input T.parquet --run-dir RUN
    python -m otd_semantic_framework_spark matrix    --run-dir RUN
    python -m otd_semantic_framework_spark search    --run-dir RUN "query text" [--taxonomic]
    python -m otd_semantic_framework_spark tag       --run-dir RUN --tags M.parquet
    python -m otd_semantic_framework_spark evaluate  --run-dir RUN --golden G.parquet
    python -m otd_semantic_framework_spark gen       --convs 1000 --out T.parquet
    python -m otd_semantic_framework_spark serve     --run-dir RUN --port 8080
    python -m otd_semantic_framework_spark validate  --run-dir RUN
    python -m otd_semantic_framework_spark describe  --run-dir RUN NODE [--sample 10]
    python -m otd_semantic_framework_spark curate    --input D.parquet [--clean-out C.parquet]

``autotag`` and ``matrix`` build a run: each takes ``--ontology
<file.ttl>`` (default: the built-in ontology) and records that ontology
in the run dir. Every other command that reads a run (``search``,
``tag``, ``serve``, ``validate``) uses the recorded one
(``plans.pipeline.run_ontology``).

``tag`` is the batch form of the reference's `dataset_tagger` lifecycle
(curated manual tags merged into the run's CDS); ``search --taxonomic``
enables the reference's lexical+taxonomic query blend (P17, r2);
``serve`` (r4) is the reference's web front door — HTTP search plus
interactive tagging — as a stdlib HTTP server (serve.py).

Each subcommand is a thin shell over the plans/* modules, run on the
one Spark session ``main`` starts and stops (config from --master or
spark-submit).
"""

from __future__ import annotations

import argparse
import json
import sys


def cmd_gen(spark, args) -> None:
    from .sources.fixtures import transcripts_spark
    transcripts_spark(spark, args.convs).write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"written": args.out, "turns": n}))


def _ontology_pdf(spark, args):
    """--ontology <file.ttl> of a command that builds a run: Spark-native
    SKOS Turtle ingest (sources/rdf.py) — the reference's rdflib .ttl
    load [K]. None (the built-in deterministic taxonomy) without it."""
    if args.ontology:
        from .sources.rdf import ontology_table_from_turtle
        return ontology_table_from_turtle(spark, args.ontology).toPandas()
    return None


def cmd_autotag(spark, args) -> None:
    """The reference's `autotag` lifecycle: corpus → triples (+ CDS)."""
    from .plans.pipeline import run_pipeline
    transcripts = spark.read.parquet(args.input)
    res = run_pipeline(spark, transcripts, args.run_dir, run_id=args.run_id,
                       fused_linking=args.fused,
                       infer_broader=args.infer_broader,
                       ontology_pdf=_ontology_pdf(spark, args))
    print(json.dumps({"triples": res.triples.count(),
                      "cds_rows": res.cds.count(),
                      "metrics": res.metrics}))


def cmd_matrix(spark, args) -> None:
    """The reference's `matrix` lifecycle: record the run's ontology and
    build + persist its Wu-Palmer concept-similarity table."""
    from .operators.wup import concept_similarity
    from .plans.pipeline import record_ontology
    from .schemas import ONTOLOGY_CONCEPTS
    from .sources.storage import Storage
    onto = record_ontology(args.run_dir, _ontology_pdf(spark, args))
    sim = concept_similarity(
        spark.createDataFrame(onto, schema=ONTOLOGY_CONCEPTS))
    Storage(args.run_dir).write_table(sim, "concept_similarity")
    print(json.dumps({"pairs": sim.count()}))


def cmd_search(spark, args) -> None:
    """The reference's `ontosearch search` lifecycle (--taxonomic adds
    the query-side Wu-Palmer blend)."""
    from .plans.pipeline import read_run_table, run_ontology
    from .plans.search import search
    cds = read_run_table(spark, args.run_dir, "cds_scores", "search")
    wup_pdf = (read_run_table(spark, args.run_dir, "concept_similarity",
                              "taxonomic search").toPandas()
               if args.taxonomic else None)
    hits = search(args.query, cds, run_ontology(args.run_dir),
                  top_n=args.top_n, wup_pdf=wup_pdf)
    rows = [r.asDict() for r in hits.collect()]
    print(json.dumps({"query": args.query, "results": rows}, default=str))


def cmd_tag(spark, args) -> None:
    """The reference's `dataset_tagger` lifecycle, batch form: validate
    a curated (subj_key, concept_id, weight) table against the run's
    ontology, merge with the run's autotag conversation tags, refresh
    the CDS table from the union, and report what was rejected."""
    from .plans.pipeline import refresh_cds, run_ontology
    print(json.dumps(refresh_cds(spark, args.run_dir,
                                 spark.read.parquet(args.tags),
                                 run_ontology(args.run_dir))))


def cmd_serve(spark, args) -> None:
    """The reference's web front doors (ontosearch HTTP search +
    dataset_tagger tagging) as one stdlib HTTP server; blocks."""
    from .serve import serve
    serve(spark, args.run_dir, args.host, args.port)


def cmd_validate(spark, args) -> None:
    """SHACL-lite shape validation of a materialized run's triple graph
    against the run's ontology (operators/graph.py validate_graph):
    per-constraint violation counts; exits nonzero if any constraint
    fires."""
    from .operators.graph import validate_graph
    from .plans.pipeline import read_run_table, run_ontology
    triples = read_run_table(spark, args.run_dir, "triples", "validate")
    concepts = spark.createDataFrame(
        run_ontology(args.run_dir)[["concept_id"]])
    report = {r["constraint"]: r["violations"]
              for r in validate_graph(triples, concepts).collect()}
    print(json.dumps(report))
    if any(v > 0 for v in report.values()):
        sys.exit(2)


def cmd_describe(spark, args) -> None:
    """SPARQL DESCRIBE over a materialized run's triple graph
    (operators/graph.py describe_cbd): the concise bounded description
    of a node — incident triples plus the mentions-attributes of
    adjacent turns. Prints one JSON line with counts and a bounded
    sample (orderBy+limit — never a full collect)."""
    from pyspark.sql import functions as F

    from .operators.graph import describe_cbd
    from .plans.pipeline import read_run_table
    triples = read_run_table(spark, args.run_dir, "triples", "describe")
    cbd = describe_cbd(triples, args.node).cache()
    by_via = {r["via"]: r["n"] for r in
              cbd.groupBy("via").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    sample = [r.asDict() for r in
              cbd.orderBy("via", "subj", "pred", "obj")
              .limit(args.sample).collect()]
    print(json.dumps({"node": args.node,
                      "n_incident": by_via.get("incident", 0),
                      "n_neighbor": by_via.get("neighbor", 0),
                      "sample": sample}))
    cbd.unpersist()


def cmd_evaluate(spark, args) -> None:
    """The reference's evaluation lifecycle: P/R vs a golden triple set."""
    from .operators.evaluate import precision_recall
    from .plans.pipeline import read_run_table
    ours = read_run_table(spark, args.run_dir, "triples", "evaluate")
    golden = spark.read.parquet(args.golden)
    print(json.dumps(precision_recall(ours, golden)))


def cmd_curate(spark, args) -> None:
    """Training-data curation pass over a documents parquet: print the
    sequential filter-attrition funnel (per-rule drop report) and, with
    --clean-out, write the boilerplate-cleaned corpus. The two
    operators this fronts are oracle-paired (curation_attrition,
    text_boilerplate)."""
    from .operators.curation import filter_attrition
    from .operators.dedup import boilerplate_segments
    docs = spark.read.parquet(args.input)
    funnel = [r.asDict() for r in
              filter_attrition(docs, min_tokens=args.min_tokens,
                               allowed_lang=args.lang)
              .orderBy("stage").collect()]
    print(json.dumps({"attrition": funnel}))
    if args.clean_out:
        (boilerplate_segments(docs, seg_words=args.seg_words,
                              df_cap=args.df_cap)
         .write.mode("overwrite").parquet(args.clean_out))
        print(json.dumps({"cleaned": args.clean_out}))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="otd_semantic_framework_spark")
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen");      g.add_argument("--convs", type=int, required=True)
    g.add_argument("--out", required=True); g.set_defaults(fn=cmd_gen)

    a = sub.add_parser("autotag");  a.add_argument("--input", required=True)
    a.add_argument("--run-dir", required=True); a.add_argument("--run-id", default="run-0")
    a.add_argument("--ontology", default=None,
                   help="SKOS Turtle file to use as the ontology")
    a.add_argument("--fused", action="store_true",
                   help="coarse checkpoints via the broadcast canonical "
                        "table (the high-throughput 10^12-turn configuration)")
    a.add_argument("--infer-broader", action="store_true")
    a.set_defaults(fn=cmd_autotag)

    m = sub.add_parser("matrix");   m.add_argument("--run-dir", required=True)
    m.add_argument("--ontology", default=None,
                   help="SKOS Turtle file to use as the ontology")
    m.set_defaults(fn=cmd_matrix)

    s = sub.add_parser("search");   s.add_argument("--run-dir", required=True)
    s.add_argument("query"); s.add_argument("--top-n", type=int, default=10)
    s.add_argument("--taxonomic", action="store_true",
                   help="blend query cosine with Wu-Palmer (P17 r2)")
    s.set_defaults(fn=cmd_search)

    t = sub.add_parser("tag");      t.add_argument("--run-dir", required=True)
    t.add_argument("--tags", required=True,
                   help="parquet of curated (subj_key, concept_id, weight)")
    t.set_defaults(fn=cmd_tag)

    v = sub.add_parser("serve");    v.add_argument("--run-dir", required=True)
    v.add_argument("--host", default="127.0.0.1")
    v.add_argument("--port", type=int, default=8080)
    v.set_defaults(fn=cmd_serve)

    va = sub.add_parser("validate"); va.add_argument("--run-dir", required=True)
    va.set_defaults(fn=cmd_validate)

    d = sub.add_parser("describe"); d.add_argument("--run-dir", required=True)
    d.add_argument("node", help="resource to describe, e.g. dq:L27")
    d.add_argument("--sample", type=int, default=10)
    d.set_defaults(fn=cmd_describe)

    e = sub.add_parser("evaluate"); e.add_argument("--run-dir", required=True)
    e.add_argument("--golden", required=True); e.set_defaults(fn=cmd_evaluate)

    c = sub.add_parser("curate");   c.add_argument("--input", required=True)
    c.add_argument("--clean-out")
    c.add_argument("--min-tokens", type=int, default=20)
    c.add_argument("--lang", default="en")
    c.add_argument("--seg-words", type=int, default=8)
    c.add_argument("--df-cap", type=int, default=20)
    c.set_defaults(fn=cmd_curate)

    args = ap.parse_args(argv)
    from .session import get_spark
    spark = get_spark("otd-cli", master=args.master)
    try:
        args.fn(spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
