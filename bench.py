"""Per-round benchmark. Prints ONE JSON line:

  {"metric": "...", "value": <headline seconds>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...,
   "kg": {...pipeline throughput + N-vs-4N scaling...}}

Headline = end-to-end KG-construction pipeline (generate → mention
detect → link → canonicalize → triples → dedup → sink) on a Spark-native
generated corpus, plus per-query wall times of the driver queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Scaling evidence for the north rule (N vs 4N executors; sandbox proxy
per driver instruction "N and 4N cores"): the same pipeline job at
local[2] and local[8] on the identical materialized input. The two legs
are persistent subprocesses pinned to DISJOINT CPU sets (4N on cores
0-7, N on cores 8-9; the host is 32 physical cores, no SMT), each with
one warmed JVM; timed runs alternate 4N→N in adjacent time windows and
efficiency is the MEDIAN over paired ratios ws/(4*wb) — a noisy host
window hits both legs of its pair, so one slow window can no longer sink
a single leg (round-1 failure mode: sequential legs measured 0.64-1.00
for identical code depending on which leg the noise landed on).
local[2]/local[8] stay well inside the 32 physical cores; going to
local[32] adds host-contention effects (raw multiprocessing tops out at
~2.4x going 8→32 here), which would misreport shuffle/operator scaling.
Set SPARK_GRAFT_BENCH_SCALING=0 to skip the scaling runs.

Pair count defaults to 5 (SPARK_GRAFT_BENCH_PAIRS): the legs inside a
pair are SEQUENTIAL (big then small), so a noise burst shorter than a
pair hits one leg only and distorts that ratio — observed on a noisy
host as identical-code 8-core legs spanning 39-84 s and pair ratios
0.46-1.05 within one run. A median of 5 rejects two such windows; a
median of 3 cannot.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from otd_semantic_framework_spark.session import get_spark  # noqa: E402

N_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "2160000"))  # ~24M turns
# big enough that the 4N-leg run is shuffle/compute-bound (>=45 s), not
# dominated by fixed JVM/scheduler/Python-worker startup — fixed costs
# visibly depress measured scaling once the 8-core leg drops under ~30 s
# (each hot-path speedup has required re-growing the corpus to keep the
# scaling measurement in the compute-bound regime a real cluster job
# lives in)
SCALING_SMALL = os.environ.get("SPARK_GRAFT_BENCH_N", "2")    # N cores
SCALING_BIG = os.environ.get("SPARK_GRAFT_BENCH_4N", "8")     # 4N cores

BENCH_QUERIES = [
    "kg_triples", "kg_cds", "kg_search",
    "rel_pricing", "rel_nation_revenue", "rel_window_topk",
    "rel_sessionize", "rel_asof_join", "rel_json",
    "dedup_exact", "dedup_jaccard", "dedup_minhash_fast", "dedup_embedding",
    "sim_topk_cosine", "sim_ann_lsh", "sim_ann_ivf",
    "text_quality", "text_langid",
]


def gen_input(n_convs: int, cpus: str) -> str:
    """Materialize the generated transcript corpus once (both scaling
    runs read the identical parquet input, like a real table scan)."""
    path = f"/tmp/bench_transcripts_{n_convs}.parquet"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from otd_semantic_framework_spark.sources.fixtures import transcripts_spark
    spark = get_spark("kg-bench-gen", master=f"local[{cpus}]")
    try:
        transcripts_spark(spark, n_convs).write.mode("overwrite").parquet(path)
    finally:
        spark.stop()
    return path


def kg_pipeline_run(master: str, input_path: str, runs: int = 2) -> dict:
    """Full pipeline executions (parquet scan → triples sink); reports
    the best of ``runs`` — steady-state throughput, not JVM/codegen
    warmup (a cluster amortizes JIT over hours; a 20s local run does
    not)."""
    from otd_semantic_framework_spark.plans.pipeline import build_triples_fast

    spark = get_spark("kg-bench", master=master)
    try:
        transcripts = spark.read.parquet(input_path)
        n_turns = transcripts.count()  # warms FS cache + JVM

        out = os.path.join("/tmp", f"bench_triples_{master.replace('[', '_').rstrip(']')}")
        walls = []
        for _ in range(runs):
            t0 = time.time()
            triples = build_triples_fast(spark, transcripts)
            triples.write.mode("overwrite").parquet(out)
            walls.append(time.time() - t0)
        wall = min(walls)
        n_triples = spark.read.parquet(out).count()
        return {"master": master, "turns": n_turns, "triples": n_triples,
                "sec": round(wall, 2), "all_runs_sec": [round(w, 2) for w in walls],
                "triples_per_sec": round(n_triples / wall, 1),
                "turns_per_sec": round(n_turns / wall, 1)}
    finally:
        spark.stop()


def serve_leg(n_cores: int, input_path: str) -> None:
    """Child side of the paired-scaling protocol: one warmed pinned
    Spark session; 'run' on stdin → one timed pipeline run, 'count' →
    triples rowcount of the last output, anything else → exit."""
    from otd_semantic_framework_spark.plans.pipeline import build_triples_fast

    spark = get_spark("kg-bench-leg", master=f"local[{n_cores}]")
    transcripts = spark.read.parquet(input_path)
    transcripts.count()  # warm FS cache + scan codegen
    out = f"/tmp/bench_triples_serve_{n_cores}"

    def one_run() -> float:
        t0 = time.time()
        build_triples_fast(spark, transcripts).write.mode(
            "overwrite").parquet(out)
        return time.time() - t0

    # Adaptive warmup: one run is NOT enough for the high-parallelism
    # leg (observed 8-core walls 52 -> 44 -> 38 -> 35 s across pairs —
    # C2 JIT keeps tiering for several runs), which systematically
    # depresses early pair ratios. Warm until the improvement between
    # consecutive runs falls under 8% (max 3 runs), so every TIMED run
    # is steady-state.
    prev = one_run()
    for _ in range(2):
        cur = one_run()
        if prev - cur < 0.08 * prev:
            prev = cur
            break
        prev = cur
    print(f"READY {prev:.2f}", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "run":
            print(f"RUN {one_run():.2f}", flush=True)
        elif cmd == "count":
            print(f"COUNT {spark.read.parquet(out).count()}", flush=True)
        else:
            break
    spark.stop()


def kg_scaling_paired(input_path: str, n_small: int, n_big: int,
                      pairs: int, n_turns: int) -> dict:
    """Official scaling measurement: interleaved paired legs (see module
    docstring). Warmups are serialized (never overlap); timed windows
    alternate big→small so each pair shares its host-noise window."""
    import shutil as _shutil
    import statistics
    import subprocess
    # local[N] caps only task threads: unpinned, JVM GC and forked
    # Python workers spread onto idle cores and inflate the small leg
    if _shutil.which("taskset") is None:
        raise RuntimeError("taskset unavailable: legs cannot be pinned")

    def spawn(n_cores: int, cpu_list: str) -> subprocess.Popen:
        return subprocess.Popen(
            ["taskset", "-c", cpu_list, sys.executable,
             os.path.abspath(__file__), "--serve", str(n_cores), input_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            text=True, bufsize=1)

    def wait_for(p: subprocess.Popen, tag: str) -> str:
        while True:
            line = p.stdout.readline()
            if not line:
                raise RuntimeError(f"scaling leg died before {tag}")
            if line.startswith(tag):
                return line.split()[1]

    def ask(p: subprocess.Popen, cmd: str, tag: str) -> str:
        p.stdin.write(cmd + "\n")
        p.stdin.flush()
        return wait_for(p, tag)

    # Disjoint pinning: big leg on cores [0, n_big), small leg on
    # [n_big, n_big + n_small) — the idle leg's parked JVM never shares
    # a core with the running leg.
    big = spawn(n_big, f"0-{n_big - 1}")
    wait_for(big, "READY")
    small = spawn(n_small, f"{n_big}-{n_big + n_small - 1}")
    wait_for(small, "READY")

    big_secs, small_secs, pair_eff = [], [], []
    try:
        for _ in range(pairs):
            wb = float(ask(big, "run", "RUN"))
            ws = float(ask(small, "run", "RUN"))
            big_secs.append(wb)
            small_secs.append(ws)
            pair_eff.append(round(ws / (4.0 * wb), 3))
        n_triples = int(ask(big, "count", "COUNT"))
    finally:
        for p in (big, small):
            try:
                p.stdin.write("quit\n")
                p.stdin.flush()
                p.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            p.wait(timeout=180)

    def leg(master: str, secs: list[float]) -> dict:
        s = min(secs)
        return {"master": master, "turns": n_turns, "triples": n_triples,
                "sec": round(s, 2),
                "all_runs_sec": [round(x, 2) for x in secs],
                "triples_per_sec": round(n_triples / s, 1),
                "turns_per_sec": round(n_turns / s, 1)}

    return {
        "scale_n": leg(f"local[{n_small}]", small_secs),
        "scale_4n": leg(f"local[{n_big}]", big_secs),
        "paired": True,
        "pair_efficiencies": pair_eff,
        "scaling_efficiency": round(statistics.median(pair_eff), 3),
        # min-of-runs ratio, for cross-checking against the paired median
        "efficiency_min_ratio": round(min(small_secs) / (4.0 * min(big_secs)), 3),
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--serve":
        serve_leg(int(sys.argv[2]), sys.argv[3])
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    do_scaling = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"

    kg: dict = {}
    input_path = gen_input(N_CONVS, cpus)
    big = kg_pipeline_run(f"local[{cpus}]", input_path, runs=3)
    kg["headline"] = big
    if do_scaling:
        # N vs 4N cores (driver instruction): interleaved paired pinned
        # legs, efficiency = median over paired ratios (module docstring).
        try:
            kg.update(kg_scaling_paired(
                input_path, int(SCALING_SMALL), int(SCALING_BIG),
                pairs=int(os.environ.get("SPARK_GRAFT_BENCH_PAIRS", "5")),
                n_turns=big["turns"]))
        except Exception as ex:  # noqa: BLE001 — a dead leg must not
            # sink the whole bench; record the failure, no efficiency
            print(f"paired scaling failed ({ex})", file=sys.stderr)
            kg.update({"paired": False, "scaling_error": str(ex)})

    import __spark_entry__ as E
    queries = E.queries()
    spark = get_spark("bench", master=f"local[{cpus}]")
    per_query: dict[str, float] = {}
    try:
        for name in BENCH_QUERIES:
            fn = queries.get(name)
            if fn is None:
                continue
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            per_query[name] = round(time.time() - t0, 2)
    finally:
        spark.stop()

    total = round(sum(per_query.values()) + big["sec"], 2)
    print(json.dumps({
        "metric": "kg_pipeline_plus_query_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "kg": kg,
    }))


if __name__ == "__main__":
    main()
