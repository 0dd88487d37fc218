"""Corpus-size scale sweep of the headline KG pipeline: run
build_triples_fast on generated corpora of increasing size at the same
parallelism and report throughput at each — the evidence that
triples/sec HOLDS as data grows (a linear-scan pipeline; throughput
sagging with corpus size would reveal a hidden super-linear stage).

Round 5 (VERDICT r4 item 5) adds the MEMORY ENVELOPE: per size the
sweep records the JVM's peak RSS (/proc VmHWM) and cumulative
shuffle/spill bytes from Spark's own REST API, and the default sizes
extend to ~128M turns. r5 review fix: VmHWM is a process-LIFETIME
high-water mark and `spark.stop()` keeps the py4j gateway JVM alive, so
measuring several sizes in one process reports a running max, not a
per-size peak. Every size therefore runs in its OWN subprocess (fresh
JVM), and corpus GENERATION runs in a separate subprocess from the
MEASUREMENT so the gen job's memory never inflates the measured leg.

A healthy linear pipeline shows flat-or-better throughput AND bounded
per-size peak memory, with zero/negligible spill. The measurement legs
run at 1.5 GB/core heap — the repo-default 8 GB JVM is 0.25 GB/core,
far below any production executor, and OOMs at the ≥128M-turn legs
(32 concurrent parquet readers × ~120 MB decompressed row groups).

Usage: python scripts/scale_sweep.py [n_convs ...]
(default 360k/1.44M/5.76M/11.52M convs ≈ 4M/16M/64M/128M turns).
Prints one JSON line per size plus a summary; archive under BENCH/.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

os.environ.setdefault("OTD_DRIVER_MEM", "48g")  # 1.5 GB/core, see above

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def corpus_path(n_convs: int) -> str:
    return f"/tmp/bench_transcripts_{n_convs}.parquet"


def gen_leg(n_convs: int) -> None:
    from otd_semantic_framework_spark.session import get_spark
    from otd_semantic_framework_spark.sources.fixtures import transcripts_spark
    spark = get_spark("sweep-gen", master="local[32]")
    transcripts_spark(spark, n_convs).write.mode("overwrite") \
        .parquet(corpus_path(n_convs))
    spark.stop()


def measure_leg(n_convs: int, out_path: str) -> None:
    from otd_semantic_framework_spark.plans.pipeline import build_triples_fast
    from otd_semantic_framework_spark.session import get_spark
    from scripts.bench_metrics import peak_rss_record, stage_totals
    spark = get_spark("sweep", master="local[32]",
                      extra_conf={"spark.ui.enabled": "true"})
    transcripts = spark.read.parquet(corpus_path(n_convs))
    n_turns = transcripts.count()  # warm scan
    out = f"/tmp/sweep_triples_{n_convs}"
    walls = []
    for _ in range(3):
        t0 = time.time()
        build_triples_fast(spark, transcripts) \
            .write.mode("overwrite").parquet(out)
        walls.append(time.time() - t0)
    wall = min(walls)
    n_triples = spark.read.parquet(out).count()
    r = {"n_convs": n_convs, "turns": n_turns,
         "triples": n_triples, "sec": round(wall, 2),
         "all_runs_sec": [round(w, 2) for w in walls],
         "triples_per_sec": round(n_triples / wall, 1),
         "turns_per_sec": round(n_turns / wall, 1),
         "jvm_peak_rss_mb": peak_rss_record(),
         "stages": stage_totals(spark)}
    with open(out_path, "w") as f:
        json.dump(r, f)
    spark.stop()


def main() -> None:
    sizes = [int(x) for x in sys.argv[1:]] or [360000, 1440000, 5760000,
                                               11520000]
    me = os.path.abspath(__file__)
    results = []
    for n_convs in sizes:
        if not os.path.exists(os.path.join(corpus_path(n_convs),
                                           "_SUCCESS")):
            subprocess.run([sys.executable, me, "--gen", str(n_convs)],
                           check=True)
        fd, out_path = tempfile.mkstemp(suffix=".json")
        os.close(fd)
        subprocess.run([sys.executable, me, "--leg", str(n_convs),
                        out_path], check=True)
        with open(out_path) as f:
            r = json.load(f)
        os.unlink(out_path)
        print(json.dumps(r), flush=True)
        results.append(r)
    if len(results) >= 2:
        base = results[0]["turns_per_sec"]
        print(json.dumps({
            "sweep": [(r["turns"], r["turns_per_sec"]) for r in results],
            "throughput_vs_smallest": [
                round(r["turns_per_sec"] / base, 3) for r in results],
            "peak_rss_mb": [r["jvm_peak_rss_mb"] for r in results],
            "disk_spill_mb": [r["stages"]["disk_spill_mb"]
                              for r in results],
        }), flush=True)


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--gen":
        gen_leg(int(sys.argv[2]))
    elif len(sys.argv) >= 4 and sys.argv[1] == "--leg":
        measure_leg(int(sys.argv[2]), sys.argv[3])
    else:
        main()
