"""Shared instrumentation for the round-5 bench legs: peak JVM memory
and per-stage shuffle/spill/task-time metrics, all from public local
surfaces (the /proc filesystem and Spark's own loopback REST API — no
external services).

Requires the session be built with ``spark.ui.enabled=true`` (the repo
default is false; bench scripts opt in via ``extra_conf``).
"""

from __future__ import annotations

import glob
import json
import os
import urllib.request


def jvm_peak_rss_mb() -> int | None:
    """Peak resident set size (VmHWM) of THIS process's Spark JVM —
    the single-process stand-in for 'peak executor memory'.

    Two caveats the r5 review surfaced, both handled by callers:
    VmHWM is a JVM-process-LIFETIME high-water mark (never decreases),
    so a per-leg reading requires a fresh JVM per leg — scale_sweep
    runs every size in its own subprocess; and only java processes whose
    parent is this python (the py4j child) count. When no child JVM is
    found the result is None, never some OTHER concurrent Spark job's
    JVM; callers record that as unattributed (``peak_rss_record``)."""
    best = None
    me = str(os.getpid())
    for status in glob.glob("/proc/[0-9]*/status"):
        pid = status.split("/")[2]
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"java" not in cmd.split(b"\x00")[0]:
                continue
            if b"pyspark" not in cmd and b"spark" not in cmd:
                continue
            hwm, ppid = None, None
            with open(status) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm = int(line.split()[1]) // 1024
                    elif line.startswith("PPid:"):
                        ppid = line.split()[1]
            if hwm is not None and ppid == me:
                best = max(best or 0, hwm)
        except (OSError, ValueError):
            continue
    return best


def peak_rss_record() -> int | str:
    """``jvm_peak_rss_mb()`` as a bench JSON field: ``"unattributed"``
    when this process has no child JVM to read."""
    mb = jvm_peak_rss_mb()
    return "unattributed" if mb is None else mb


def _api(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}{path}", timeout=30) as r:
        return json.loads(r.read())


def stage_totals(spark) -> dict:
    """Sum spill/shuffle bytes over every completed stage so far."""
    t = {"memory_spill_mb": 0, "disk_spill_mb": 0,
         "shuffle_write_mb": 0, "shuffle_read_mb": 0, "n_stages": 0}
    for s in _api(spark, "/stages?status=COMPLETE"):
        t["memory_spill_mb"] += s.get("memoryBytesSpilled", 0) // 2**20
        t["disk_spill_mb"] += s.get("diskBytesSpilled", 0) // 2**20
        t["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) // 2**20
        t["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) // 2**20
        t["n_stages"] += 1
    return t


def completed_stage_ids(spark) -> set[int]:
    """Ids of every completed stage so far — snapshot before and after
    a run to attribute the stages in between to it (stage ids never
    repeat within an application). Drains the listener bus first, so a
    snapshot taken right after an action already lists its stages."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return {s["stageId"] for s in _api(spark, "/stages?status=COMPLETE")}


def straggler_profile(spark, stage_ids: set[int], min_tasks: int = 8,
                      min_stage_ms: int = 500) -> list[dict]:
    """Per-stage task-time skew: (median, max, max/median) of
    executorRunTime over each completed stage in ``stage_ids`` with
    enough tasks to make a ratio meaningful. The north-rule skew claim
    is exactly 'max-task/median-task < 3 on the adversarial corpus'."""
    out = []
    for s in _api(spark, "/stages?status=COMPLETE"):
        sid, att = s["stageId"], s["attemptId"]
        if sid not in stage_ids:
            continue
        if s.get("numCompleteTasks", 0) < min_tasks:
            continue
        try:
            q = _api(spark, f"/stages/{sid}/{att}/taskSummary"
                            "?quantiles=0.5,1.0")
        except Exception:
            continue
        med, mx = q["executorRunTime"]
        if mx < min_stage_ms:
            continue
        out.append({
            "stage": sid, "name": s.get("name", "")[:60],
            "tasks": s["numCompleteTasks"],
            "task_ms_median": int(med), "task_ms_max": int(mx),
            "max_over_median": round(mx / med, 2) if med else None,
        })
    return out


def dump(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)
    print(json.dumps(obj))
