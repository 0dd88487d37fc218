"""Adversarial-skew bench leg (round 5, VERDICT r4 item 6).

Corpus: transcripts_spark with hot_frac=0.01 (ONE conversation holding
~1% of ALL turns) plus a planted hot CONCEPT — a gazetteer surface
appended to ~30% of turns, so one concept dominates ~a third of all
mentions. The input parquet is written hash-partitioned BY conv_id, the
layout a real Iceberg bucket(conv_id) table would hand the job — the
entire hot conversation lands in one input partition, the worst case
for the mention stage.

Measured, on the SAME input:
- fused hot path WITHOUT the P11 respread (spread_partitions=0): the
  straggler baseline — one task owns the hot conversation.
- fused hot path WITH the default round-robin respread (the shipped
  plan): straggler containment, target max-task/median-task < 3.
- CDS aggregation over the skewed triples (hot concept → hot reduce
  key): two-phase partial agg + broadcast Wu-Palmer join is the shipped
  shape; task profile recorded the same way.
- Output parity: the salted and unsalted runs must produce IDENTICAL
  triple multisets (order-insensitive hash) — salting may never change
  results.

Writes BENCH/bench_r5_skew.json and prints one JSON line.
Usage: python scripts/skew_bench.py [n_convs] [hot_frac]
(default 720000 convs ≈ 8M turns, hot_frac 0.01; a second leg at
hot_frac 0.2 shows the crossover where the respread WINS on wall too;
keep the machine otherwise idle).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from otd_semantic_framework_spark.session import get_spark  # noqa: E402
from scripts.bench_metrics import (completed_stage_ids,  # noqa: E402
                                   peak_rss_record, straggler_profile)

N_CONVS = int(sys.argv[1]) if len(sys.argv) > 1 else 720000
HOT_FRAC = float(sys.argv[2]) if len(sys.argv) > 2 else 0.01
HOT_SURFACE = "ferry service"  # gazetteer surface -> one hot concept


def build_corpus(spark) -> str:
    from otd_semantic_framework_spark.sources.fixtures import transcripts_spark
    path = f"/tmp/skew_transcripts_{N_CONVS}_{HOT_FRAC}.parquet"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    t = transcripts_spark(spark, N_CONVS, hot_frac=HOT_FRAC)
    # plant the hot concept: ~30% of turns mention HOT_SURFACE
    t = t.withColumn(
        "text",
        F.when(F.pmod(F.xxhash64(F.lit("hotc"), F.col("conv_id"),
                                 F.col("turn_idx")), F.lit(10)) < 3,
               F.concat(F.col("text"), F.lit(" " + HOT_SURFACE)))
        .otherwise(F.col("text")))
    # adversarial layout: hash-partition BY conv_id (Iceberg
    # bucket(conv_id) layout) -> the hot conv is ONE input partition
    t.repartition(32, "conv_id").write.mode("overwrite").parquet(path)
    return path


def timed_run(spark, transcripts, spread_partitions, tag: str) -> dict:
    from otd_semantic_framework_spark.plans.pipeline import build_triples_fast
    out = f"/tmp/skew_triples_{tag}"
    walls = []
    for _ in range(2):
        # the stage window of the LAST (warm) build: the reported
        # straggler profile covers that build only — cold-run JIT/IO
        # stragglers are not key skew, and the count and parity-hash
        # jobs below are not the build
        before = completed_stage_ids(spark)
        t0 = time.time()
        build_triples_fast(
            spark, transcripts,
            spread_partitions=spread_partitions,
        ).write.mode("overwrite").parquet(out)
        walls.append(round(time.time() - t0, 2))
        warm_ids = completed_stage_ids(spark) - before
    tri = spark.read.parquet(out)
    h = (tri.select(F.md5(F.concat_ws("\x1f", "subj", "pred", "obj",
                                      "conv_id", "turn_idx",
                                      F.round("score", 6).cast("string")))
                    .alias("h"))
         .agg(F.sum(F.conv(F.substring("h", 1, 15), 16, 10)
                    .cast("decimal(38,0)")).alias("s")).collect()[0]["s"])
    return {"tag": tag, "walls_sec": walls, "sec": min(walls),
            "triples": tri.count(), "hash": str(h), "out": out,
            "warm_ids": warm_ids}


def cds_run(spark, triples_path: str) -> dict:
    from otd_semantic_framework_spark.operators.cds import (cds_scores)
    from otd_semantic_framework_spark.operators.wup import (
        concept_similarity)
    from otd_semantic_framework_spark.sources.fixtures import ontology_spark
    tri = spark.read.parquet(triples_path)
    sim = concept_similarity(ontology_spark(spark))
    t0 = time.time()
    n = cds_scores(tri, sim).count()
    return {"sec": round(time.time() - t0, 2), "cds_rows": n}


def main() -> None:
    gen = get_spark("skew-gen", master="local[32]")
    path = build_corpus(gen)
    gen.stop()

    res = {"n_convs": N_CONVS, "hot_frac": HOT_FRAC,
           "hot_concept_share": 0.3, "input": path}

    # Leg 1: no respread (straggler baseline) — separate session so the
    # REST stage list isolates this run's tasks.
    s1 = get_spark("skew-unsalted", master="local[32]",
                   extra_conf={"spark.ui.enabled": "true"})
    try:
        t = s1.read.parquet(path)
        res["turns"] = t.count()
        res["unsalted"] = timed_run(s1, t, 0, "unsalted")
        res["unsalted"]["stages"] = straggler_profile(
            s1, res["unsalted"].pop("warm_ids"))
    finally:
        s1.stop()

    # Leg 2: shipped plan (round-robin respread)
    s2 = get_spark("skew-salted", master="local[32]",
                   extra_conf={"spark.ui.enabled": "true"})
    try:
        t = s2.read.parquet(path)
        t.count()
        res["salted"] = timed_run(s2, t, None, "salted")
        res["salted"]["stages"] = straggler_profile(
            s2, res["salted"].pop("warm_ids"))
        pre_cds = completed_stage_ids(s2)
        res["cds"] = cds_run(s2, res["salted"]["out"])
        res["cds"]["stages"] = straggler_profile(
            s2, completed_stage_ids(s2) - pre_cds)
    finally:
        s2.stop()

    # VmHWM is a JVM-lifetime peak and both legs share this process's
    # JVM, so this is one reading over the whole run
    res["jvm_peak_rss_mb"] = peak_rss_record()
    res["hashes_equal"] = (res["unsalted"]["hash"]
                           == res["salted"]["hash"])
    res["triples_equal"] = (res["unsalted"]["triples"]
                            == res["salted"]["triples"])
    mx = max((st["max_over_median"] or 0)
             for st in res["salted"]["stages"]) \
        if res["salted"]["stages"] else None
    res["salted_worst_max_over_median"] = mx
    res["speedup_salted_vs_unsalted"] = round(
        res["unsalted"]["sec"] / res["salted"]["sec"], 2)
    for k in ("unsalted", "salted"):
        res[k].pop("out", None)
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", f"bench_r5_skew_hot{int(HOT_FRAC * 100)}.json")
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({k: v for k, v in res.items()
                      if k not in ("unsalted", "salted", "cds")}
                     | {"unsalted_sec": res["unsalted"]["sec"],
                        "salted_sec": res["salted"]["sec"],
                        "cds_sec": res["cds"]["sec"]}))


if __name__ == "__main__":
    main()
