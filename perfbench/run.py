"""Seeded benchmark for the KG build and the search/tag server.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0

Every run starts its own Spark JVM on ``local[nproc]``, builds its
inputs from ``--seed`` (cached on disk, never timed), times the
workload's operation for ``--seconds`` seconds after a warm-up, checks
the outputs, and prints one JSON object as the last line of stdout.
``--trace 0`` gives the end-to-end metrics; ``--trace 1`` gives the
per-layer profile of every layer (see layers.py). A failed output check
exits with code 2 and prints no result. Workload rationale and the
layer to end-to-end map: WORKLOADS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads as W  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    b = W.Bench(args.workload, args.seed, args.seconds)
    try:
        jvm_s = b.start()
        W.log(f"JVM session up ({jvm_s:.2f}s)")
        if args.trace:
            import layers
            res = layers.profile(b, jvm_s)
        else:
            res = W.WORKLOADS[args.workload](b)
    except W.CheckFailed as e:
        W.log(f"OUTPUT CHECK FAILED: {e}")
        return 2
    finally:
        b.close()
        W.log("closed")
    print(json.dumps({
        "correct": True, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
