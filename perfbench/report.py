#!/usr/bin/env python3
"""Traced-run report for one workload.

    python3 perfbench/report.py --workload analytics --seed 1 --seconds 12

Runs the workload twice with the same seed, so with the same inputs and
the same operation sequence: untraced, then traced. Prints one JSON
object with the per-layer self time (span minus child spans) per
operation and as a share of the traced operation time, the per-layer
metrics, and the tracing overhead as traced minus untraced mean
operation latency and window wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(args, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
         "--size", args.size],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
    )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    plain = _run(args, 0)
    traced = _run(args, 1)
    span_path = os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-seed{args.seed}.json")
    with open(span_path) as fh:
        spans = json.load(fh)
    n = spans["ops"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "ops": n,
        "self_s_per_op_by_layer": {k: v / n for k, v in spans["self_s_by_layer"].items()},
        "self_share_of_op_time": spans["self_share_of_op_time"],
        "per_layer": spans["per_layer"],
        "tracing_overhead": {
            "untraced_mean_op_s": statistics.fmean(plain["op_latencies_s"]),
            "traced_mean_op_s": statistics.fmean(traced["op_latencies_s"]),
            "mean_op_s": statistics.fmean(traced["op_latencies_s"])
            - statistics.fmean(plain["op_latencies_s"]),
            "window_s": traced["window_s"] - plain["window_s"],
        },
        "box": {"untraced": plain["box"], "traced": traced["box"]},
        "span_file": os.path.relpath(span_path, ROOT),
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
