"""The workloads, their seeded traffic and their output checks.

Each workload function takes a started :class:`Bench`, prepares its
inputs (untimed), measures set-up, warms up, runs its timed phase for
``Bench.seconds`` and checks the outputs, raising :class:`CheckFailed`
on any mismatch. See WORKLOADS.md for why each workload exists.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

# Python workers import the package too; they inherit this environment.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from otd_semantic_framework_spark import semantics as S  # noqa: E402
from otd_semantic_framework_spark.session import get_spark  # noqa: E402

import gen  # noqa: E402

# Sizes fixed by the benchmark (not by the seed). One hot conversation
# holds HOT_SHARE of all turns in every corpus.
BUILD_CONVS = 6_000       # ~66k turns
AUTOTAG_CONVS = 800       # ~8.8k turns: the served run dir
HOT_SHARE = 0.05
SERVED_SEED = 0           # corpus seed of the served run dir
SETUP_REPEATS = 5         # timed set-ups per run (after one warm-up)
# Untimed warm-up before the timed phase. Walls keep falling for about
# 20 s of work in a fresh JVM (JIT, with every core busy running tasks).
WARMUP_S = 12
SEARCH_CLIENTS = 2
CURATOR_ROUNDS = 1
TAGS_PER_ROUND = 6
INVALID_TAG_SHARE = 0.25

TRIPLE_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx", "score"]
CDS_COLS = ["subj_key", "concept_id", "score"]


class CheckFailed(RuntimeError):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


# -- session and process -------------------------------------------------

class Bench:
    """Per-run state: paths, the Spark session and its JVM."""

    def __init__(self, workload: str, seed: int, seconds: float) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{workload}-s{seed}-p{os.getpid()}")
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ.setdefault("OTD_DRIVER_MEM", "2g")
        self.cores = os.cpu_count() or 1
        self.conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            # initial heap = max heap: without it G1 keeps growing the
            # heap through the first ~20 s of work, and the GC cost of
            # that growth was the largest run-to-run difference
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                f"-Xms{os.environ['OTD_DRIVER_MEM']}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = None
        self.jvm_pid = None

    def start(self) -> float:
        """Start (or restart) the session and run one trivial job, so
        the returned wall covers a session ready to take work."""
        t = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               extra_conf=self.conf)
        self.spark.range(1).count()
        wall = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            self.jvm_pid = _own_jvm_pid(self.spark)
        return wall

    def setup(self, load=None, unload=None) -> tuple[float, object]:
        """One warm-up restart, then SETUP_REPEATS timed restarts, each
        followed by ``load()`` (the workload's service or cache load).
        Returns the median set-up wall and the last load's result."""
        walls, loaded = [], None
        for i in range(SETUP_REPEATS + 1):
            if loaded is not None and unload is not None:
                unload(loaded)
            self.spark.stop()
            t = time.perf_counter()
            self.start()
            loaded = load() if load else None
            if i:
                walls.append(time.perf_counter() - t)
        return statistics.median(walls), loaded

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing")

    def close(self) -> None:
        """Stop the session, then the JVM itself (its Python workers go
        with it), and wait until it has exited."""
        if self.spark is not None:
            from pyspark import SparkContext
            self.spark.stop()
            gateway = SparkContext._gateway
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
        shutil.rmtree(self.work, ignore_errors=True)


def _own_jvm_pid(spark) -> int:
    """PID of this process's own py4j/Spark JVM, confirmed to be a
    ``java`` child of this interpreter. Any other outcome leaves
    ``peak_rss_mb`` unattributed, which fails the run."""
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    try:
        with open(f"/proc/{pid}/status") as f:
            ppid = next(int(x.split()[1]) for x in f if x.startswith("PPid:"))
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = f.read().split(b"\0")[0]
    except (OSError, StopIteration) as e:
        raise RuntimeError(f"peak_rss_mb unattributed: JVM {pid}: {e}") from None
    if ppid != os.getpid() or not exe.endswith(b"java"):
        raise RuntimeError(f"peak_rss_mb unattributed: pid {pid} is not this "
                           f"run's JVM (ppid {ppid}, exe {exe!r})")
    return pid


def digest(df, cols: list[str]) -> tuple[int, int]:
    """Order-free (row count, sum of row hashes) of ``df[cols]``."""
    r = df.select(F.count(F.lit(1)).alias("n"),
                  F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def frame_hash(pdf):
    from scripts.check_oracle import frame_hash as fh
    return fh(pdf)


# -- kg_build --------------------------------------------------------------

def build_once(b: Bench, transcripts, out: str) -> float:
    from otd_semantic_framework_spark.plans.pipeline import build_triples_fast
    t = time.perf_counter()
    build_triples_fast(b.spark, transcripts).write.mode("overwrite").parquet(out)
    return time.perf_counter() - t


def oracle_sample(b: Bench, transcripts, n_convs: int, hot_turns: int | None):
    """Seeded sample of whole conversations plus, when ``hot_turns`` is
    set, a contiguous run of the hot conversation (with the turn before
    it, which its first replies_to edge needs). Returns the pandas
    transcripts, the subject keys the sample owns and the whole
    conversations it holds."""
    rng = np.random.default_rng(b.seed + 1)
    convs = [f"conv-{i:06d}" for i in rng.choice(np.arange(1, n_convs), 40,
                                                 replace=False)]
    cond = F.col("conv_id").isin(convs)
    if hot_turns is None:
        convs.append("conv-000000")
        cond = cond | (F.col("conv_id") == "conv-000000")
    else:
        hot_len = max(8, int(n_convs * 10.5 * HOT_SHARE))
        lo = int(rng.integers(1, hot_len - hot_turns))
        cond = cond | ((F.col("conv_id") == "conv-000000")
                       & F.col("turn_idx").between(lo - 1, lo + hot_turns - 1))
    pdf = transcripts.filter(cond).toPandas()
    owned = pdf if hot_turns is None else pdf[
        (pdf.conv_id != "conv-000000") | (pdf.turn_idx >= lo)]
    subjs = {f"turn:{c}:{t}" for c, t in zip(owned.conv_id, owned.turn_idx)}
    return pdf, subjs, convs


def check_triples_vs_oracle(b: Bench, triples, pdf, subjs) -> None:
    from tests.oracle_tagger import oracle_triples
    want = oracle_triples(pdf)
    want = want[want.subj.isin(subjs)]
    got = (triples.filter(F.col("subj").isin(sorted(subjs)))
           .select(*TRIPLE_COLS).toPandas())
    check(len(got) == len(want) and frame_hash(got) == frame_hash(want),
          f"triples differ from oracle_triples on the sample "
          f"({len(got)} vs {len(want)} rows)")


def kg_build(b: Bench) -> dict:
    path = gen.transcripts(b.spark, ROOT, b.seed, BUILD_CONVS, HOT_SHARE)
    log("corpus ready")
    setup_s, _ = b.setup()
    log(f"set-up done ({setup_s:.3f}s)")
    transcripts = b.spark.read.parquet(path)
    n_turns = transcripts.count()
    out = os.path.join(b.work, "triples")
    build_once(b, transcripts, out)  # cold: Python workers, codegen
    ref = digest(b.spark.read.parquet(out), TRIPLE_COLS)
    walls, attempted = [], 1
    t_end = time.perf_counter() + WARMUP_S
    while time.perf_counter() < t_end:
        build_once(b, transcripts, out)
        attempted += 1
    log("warm-up done")
    t_end = time.perf_counter() + b.seconds
    while time.perf_counter() < t_end or len(walls) < 2:
        walls.append(build_once(b, transcripts, out))
        attempted += 1
        check(digest(b.spark.read.parquet(out), TRIPLE_COLS) == ref,
              "triple digest differs between iterations")
    log(f"timed phase done (JVM peak RSS {b.peak_rss_mb():.0f} MB)")
    pdf, subjs, _ = oracle_sample(b, transcripts, BUILD_CONVS, hot_turns=300)
    check_triples_vs_oracle(b, b.spark.read.parquet(out), pdf, subjs)
    n_triples = ref[0]
    log(f"kg_build: {n_turns} turns -> {n_triples} triples; warm walls "
        f"{[round(w, 3) for w in walls]}")
    return {"attempted": attempted, "failed": 0, "metrics": {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(walls) * 1e3, "ms"),
        "out_per_s": (statistics.median(n_triples / w for w in walls), "1/s"),
    }}


# -- serve_mixed -----------------------------------------------------------

def served_run_dir(b: Bench) -> str:
    """Pristine copy of the served autotag run dir. The served knowledge
    graph is fixed (corpus seed SERVED_SEED) and cached across runs; the
    run's seed draws the traffic."""
    cache = os.path.join(gen.cache_dir(ROOT), f"rundir-s{SERVED_SEED}-n"
                         f"{AUTOTAG_CONVS}-h{HOT_SHARE}")
    if not os.path.isdir(cache):
        from otd_semantic_framework_spark.plans.pipeline import run_pipeline
        path = gen.transcripts(b.spark, ROOT, SERVED_SEED, AUTOTAG_CONVS,
                               HOT_SHARE)
        tmp = f"{cache}.tmp{os.getpid()}"
        run_pipeline(b.spark, b.spark.read.parquet(path), tmp)
        gen.publish(tmp, cache)
    run_dir = os.path.join(b.work, "run")
    shutil.copytree(cache, run_dir)
    return run_dir


def query_pool(seed: int, n: int = 48) -> list[tuple[str, bool]]:
    """Seeded search queries: single-label hits, multi-label queries and
    vocabulary misses; half of them taxonomic."""
    rng = np.random.default_rng(seed + 7)
    labels = [c.pref_label for c in S.build_ontology()]
    pool = []
    for i in range(n):
        kind = i % 4
        if kind in (0, 1):
            q = labels[rng.integers(len(labels))]
        elif kind == 2:
            q = " ".join(labels[j] for j in rng.choice(len(labels), 2, replace=False))
        else:
            q = f"zq{rng.integers(10**6)} qx{rng.integers(10**6)}"
        pool.append((q, bool(rng.integers(2))))
    return pool


def zipf_stream(seed: int, pool: list, n: int) -> list:
    rng = np.random.default_rng(seed)
    ranks = rng.zipf(1.3, size=n * 4)
    ranks = ranks[ranks <= len(pool)][:n] - 1
    return [pool[r] for r in ranks]


class Client:
    """Minimal HTTP/1.0 client: one connection per request. Returns
    (status, payload) or (None, error) when no response arrives."""

    def __init__(self, port: int) -> None:
        self.port = port

    def call(self, method: str, path: str, body: dict | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            data = json.dumps(body).encode() if body is not None else None
            conn.request(method, path, body=data,
                         headers={"Content-Type": "application/json"} if data else {})
            r = conn.getresponse()
            return r.status, json.loads(r.read() or b"null")
        except (OSError, http.client.HTTPException, ValueError) as e:
            return None, repr(e)
        finally:
            conn.close()


def search_path(q: str, taxonomic: bool) -> str:
    from urllib.parse import quote
    return f"/api/v1/search?q={quote(q)}&top_n=10&taxonomic={int(taxonomic)}"


def curator_tags(seed: int, rounds: int, per_round: int, known: list[str]):
    """Seeded tag POST bodies; a share is invalid (unknown concept or
    out-of-range weight) and must be refused with 400."""
    rng = np.random.default_rng(seed + 11)
    out = []
    for r in range(rounds):
        batch = []
        for _ in range(per_round):
            body = {"subj_key": f"conv:conv-{rng.integers(AUTOTAG_CONVS):06d}",
                    "concept_id": known[rng.integers(len(known))],
                    "weight": round(float(rng.uniform(0.5, 1.0)), 3)}
            invalid = rng.random() < INVALID_TAG_SHARE
            if invalid:
                if rng.integers(2):
                    body["concept_id"] = f"otd:nope{rng.integers(1000)}"
                else:
                    body["weight"] = 1.5
            batch.append((body, invalid))
        out.append(batch)
    return out


def serve_mixed(b: Bench) -> dict:
    from otd_semantic_framework_spark.serve import make_server
    run_dir = served_run_dir(b)
    log("run dir ready")
    setup_s, (httpd, svc) = b.setup(lambda: make_server(b.spark, run_dir),
                                    lambda loaded: loaded[0].server_close())
    server = threading.Thread(target=httpd.serve_forever, daemon=True)
    server.start()
    log(f"set-up done ({setup_s:.3f}s)")
    try:
        res = serve_loop(b, Client(httpd.server_address[1]), svc)
        log(f"timed phase done (JVM peak RSS {b.peak_rss_mb():.0f} MB)")
        check_served_cds(b, svc, run_dir, res.pop("accepted"))
        res["metrics"]["setup_s"] = (setup_s, "s")
    finally:
        httpd.shutdown()
        httpd.server_close()
        server.join(timeout=60)
    return res


def run_all(threads: list[threading.Thread]) -> None:
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def serve_loop(b: Bench, client: Client, svc) -> dict:
    pool = query_pool(b.seed)
    known = sorted(svc._known_concepts)
    rounds = curator_tags(b.seed, CURATOR_ROUNDS, TAGS_PER_ROUND, known)
    searches: list[tuple[float, int | None]] = []  # (ms, status)
    writes: list[tuple[str, float, int | None, bool]] = []
    accepted: list[tuple[str, str, float]] = []
    lock = threading.Lock()
    curator_done = threading.Event()
    curator_end = [0.0]
    # Searches pause while a refresh runs: the seed's refresh overwrites
    # the served CDS files in place, so a search in flight during it
    # fails at random (see WORKLOADS.md). The traced run's serve probe
    # measures that window on its own.
    gate = threading.Condition()
    gate.paused, gate.inflight, gate.paused_s = False, 0, 0.0

    def searcher(k: int, stop, out: list) -> None:
        stream = zipf_stream(b.seed * 100 + k, pool, 10_000)
        for q, tax in stream:
            if stop():
                return
            with gate:
                while gate.paused:
                    gate.wait()
                gate.inflight += 1
            t = time.perf_counter()
            status, _ = client.call("GET", search_path(q, tax))
            ms = (time.perf_counter() - t) * 1e3
            with gate:
                gate.inflight -= 1
                gate.notify_all()
            with lock:
                out.append((ms, status))

    # untimed warm-up: the same clients, searches only
    warm: list = []
    warm_end = time.perf_counter() + WARMUP_S
    run_all([threading.Thread(target=searcher, args=(
        k + SEARCH_CLIENTS, lambda: time.perf_counter() >= warm_end, warm))
        for k in range(SEARCH_CLIENTS)])
    log(f"warm-up done ({len(warm)} searches)")

    def timed_over() -> bool:
        return (curator_done.is_set()
                and time.perf_counter() - curator_end[0] >= b.seconds)

    def curator() -> None:
        try:
            for batch in rounds:
                for body, invalid in batch:
                    t = time.perf_counter()
                    status, _ = client.call("POST", "/api/v1/tag", body)
                    writes.append(("tag", (time.perf_counter() - t) * 1e3,
                                   status, invalid))
                    if status == 200 and not invalid:
                        accepted.append((body["subj_key"], body["concept_id"],
                                         body["weight"]))
                with gate:
                    gate.paused = True
                    while gate.inflight:
                        gate.wait()
                t = time.perf_counter()
                status, _ = client.call("POST", "/api/v1/refresh", {})
                wall = time.perf_counter() - t
                writes.append(("refresh", wall * 1e3, status, False))
                with gate:
                    gate.paused = False
                    gate.paused_s += wall
                    gate.notify_all()
        finally:
            curator_end[0] = time.perf_counter()
            curator_done.set()

    t0 = time.perf_counter()
    run_all([threading.Thread(target=searcher, args=(k, timed_over, searches))
             for k in range(SEARCH_CLIENTS)] + [threading.Thread(target=curator)])
    elapsed = time.perf_counter() - t0 - gate.paused_s

    ok = [ms for ms, st in searches if st == 200]
    failed = sum(st != 200 for _, st in searches + warm)
    # an invalid tag that gets no response is a failed request; one that
    # gets any answer other than 400 is a wrong output
    bad_400 = [w for w in writes
               if w[0] == "tag" and w[3] and w[2] not in (None, 400)]
    check(not bad_400, f"invalid tags not refused with 400: {bad_400}")
    failed += sum(1 for kind, _, st, inv in writes if not inv and st != 200)
    failed += sum(1 for kind, _, st, inv in writes if inv and st is None)
    tag_ms = [ms for kind, ms, st, inv in writes if kind == "tag" and st == 200]
    refresh_s = [ms / 1e3 for kind, ms, st, _ in writes if kind == "refresh"]
    attempted = len(warm) + len(searches) + len(writes)
    check(len(ok) >= 10, f"only {len(ok)} successful searches")
    log(f"serve_mixed: {len(searches)} searches ({len(ok)} ok) in "
        f"{elapsed:.1f}s; search p50 {np.percentile(ok, 50):.1f} ms, "
        f"p95 {np.percentile(ok, 95):.1f} ms (n={len(ok)}); tag p50 "
        f"{np.median(tag_ms) if tag_ms else float('nan'):.1f} ms; refresh "
        f"{[round(x, 2) for x in refresh_s]} s; failed {failed}/{attempted}")
    return {"attempted": attempted, "failed": failed, "accepted": accepted,
            "metrics": {
                "op_p50_ms": (float(np.percentile(ok, 50)), "ms"),
                "out_per_s": (len(ok) / elapsed, "1/s")}}


def check_served_cds(b: Bench, svc, run_dir: str, accepted: list) -> None:
    from otd_semantic_framework_spark.operators.cds import cds_scores
    from otd_semantic_framework_spark.operators.manual import ingest_manual_tags
    from otd_semantic_framework_spark.sources.fixtures import ontology_spark
    from otd_semantic_framework_spark.sources.storage import Storage
    st = Storage(run_dir)
    manual = ingest_manual_tags(b.spark.createDataFrame(
        accepted, "subj_key string, concept_id string, weight double"),
        ontology_spark(b.spark))
    want = cds_scores(st.read_table(b.spark, "triples"),
                      st.read_table(b.spark, "concept_similarity"),
                      manual_tags=manual)
    check(digest(svc.cds, CDS_COLS) == digest(want, CDS_COLS),
          "served CDS differs from cds_scores with every accepted tag")


WORKLOADS = {"kg_build": kg_build, "serve_mixed": serve_mixed}


