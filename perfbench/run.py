#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

Runs one workload against the engine checked out next to this directory
(``oxi_diel_db_spark/``): set-up (session start, seeded inputs, reference
answers, warm-up), then a timed closed loop for ``--seconds``. Every
output is checked. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a report with the workload's own metric names, input sizes and the
box-noise record. ``--trace 1`` reports the per-layer metrics instead of
the end-to-end ones and writes the span file under ``.bench_out/``;
perfbench/report.py turns an untraced and a traced run into the
per-layer report. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("throughput_per_s", "1/s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
)

PER_LAYER = (
    ("session.start_s", "s"), ("session.jvm_gc_s", "s"),
    ("tables.load_s", "s"), ("tables.scan_bytes", "bytes"), ("tables.scan_rows", "rows"),
    ("queries.build_s", "s"), ("queries.plan_s", "s"), ("queries.exec_s", "s"),
    ("queries.build_jobs", "count"), ("queries.exec_jobs", "count"), ("queries.tasks", "count"),
    ("queries.shuffle_bytes", "bytes"), ("queries.rows_scanned_per_row_out", "ratio"),
    ("functions.featurize_s", "s"), ("functions.python_rows", "rows"),
    ("functions.python_bytes", "bytes"),
    ("operators.clusters_s", "s"), ("operators.jobs", "count"),
    ("operators.shuffle_bytes", "bytes"), ("operators.spill_bytes", "bytes"),
    ("ml.train_s", "s"), ("ml.load_s", "s"), ("ml.transform_s", "s"),
    ("ml.jobs_per_request", "count"),
    ("sources.materials_s", "s"), ("cli.structure_s", "s"),
    ("streaming.trigger_s", "s"), ("streaming.plan_s", "s"), ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"), ("streaming.batches", "count"),
    ("streaming.state_rows", "rows"), ("streaming.state_bytes", "bytes"),
)

# span name -> per-layer metric holding its self time per operation
SPAN_METRICS = {
    "queries.build": "queries.build_s", "queries.plan": "queries.plan_s",
    "queries.exec": "queries.exec_s", "tables.load": "tables.load_s",
    "operators.clusters": "operators.clusters_s",
    "ml.load": "ml.load_s", "ml.predict": "ml.transform_s",
    "functions.featurize": "functions.featurize_s",
    "sources.materials": "sources.materials_s", "cli.structure": "cli.structure_s",
}

def _prepare_env(tmp: str) -> None:
    """Keep every file the run writes inside ``tmp`` (under the checkout),
    pin the engine's settings (parallelism = the cores this process may
    use), and pin UTC (result timestamps are compared as naive UTC)."""
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a 1 GB driver heap: the inputs are small, and a larger heap makes
    # the memory high-water mark depend on when the collector runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    for knob in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_ANSI", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(knob, None)  # engine defaults, whatever the caller's shell sets
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _window(run, wl, seconds: float) -> dict:
    """Closed loop over whole rounds until ``seconds`` have elapsed."""
    from harness import jvm_gc_seconds

    lat: list[float] = []
    failed = 0
    gc0 = jvm_gc_seconds(run.spark)
    run.noise.window_start()
    t_start = time.perf_counter()
    for ops in wl.rounds():
        for op_id, execute, check in ops:
            ok = False
            with run.operation(op_id):
                t0 = time.perf_counter()
                state = None
                try:
                    with run.tracer.span("op"):
                        state = execute()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                lat.append(time.perf_counter() - t0)
                if state is not None:
                    try:
                        ok = bool(check(state))
                    except Exception:
                        traceback.print_exc(file=sys.stderr)
            if not ok:
                failed += 1
                print(f"perfbench: operation {op_id} failed or was wrong", file=sys.stderr)
        elapsed = time.perf_counter() - t_start
        if elapsed >= seconds:
            break
    run.noise.window_end()
    return {
        "lat": lat, "failed": failed, "elapsed": elapsed,
        "gc_s": jvm_gc_seconds(run.spark) - gc0,
    }


def _traced_metrics(run, wl, res: dict, args) -> dict:
    """Per-layer metrics of the traced window; also writes the span file."""
    run.tracer.enabled = False
    n = len(res["lat"])
    self_times = run.tracer.self_times()
    layer = {k: 0.0 for k, _ in PER_LAYER}
    for span, t in self_times.items():
        if span in SPAN_METRICS:
            layer[SPAN_METRICS[span]] += t / n
    layer.update(wl.layer_metrics(n))
    layer["session.start_s"] = run.session_start_s
    layer["session.jvm_gc_s"] = res["gc_s"] / n
    by_layer: dict[str, float] = {}
    for span, t in self_times.items():
        key = span.split(".")[0]
        by_layer[key] = by_layer.get(key, 0.0) + t
    op_time = sum(s["end"] - s["start"] for s in run.tracer.spans if s["name"] == "op")
    run.tracer.dump(
        os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-seed{args.seed}.json"),
        {
            "workload": args.workload, "seed": args.seed, "ops": n,
            "traced_wall_s": res["elapsed"], "traced_op_s": op_time,
            "self_s_by_layer": by_layer,
            "self_share_of_op_time": {k: v / op_time for k, v in by_layer.items()},
            "op_latencies_s": res["lat"],
            "per_layer": layer,
        },
    )
    return {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "predict"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own smoke test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "oxi_diel_db_spark", "__init__.py")):
        print(f"perfbench: no engine package at {ROOT}/oxi_diel_db_spark", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    _prepare_env(tmp)
    sys.path.insert(0, ROOT)

    from harness import Run, latency_summary
    from workloads import WORKLOADS

    trace = bool(args.trace)
    run = Run(ROOT, tmp, args.workload, args.seed, args.size)
    wl = None
    try:
        run.start_session()
        wl = WORKLOADS[args.workload](run)
        prep = []
        for rep in range(wl.prepare_reps):
            t0 = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = run.session_start_s + statistics.median(prep) + warm_s

        if trace:
            wl.install_tracing()
            run.tracer.enabled = True
        res = _window(run, wl, args.seconds)
        n = len(res["lat"])
        lat = latency_summary(res["lat"])
        e2e = {
            "latency_p50_s": lat["p50"], "latency_tail_s": lat["tail"],
            "throughput_per_s": n / res["elapsed"],
            "setup_s": setup_s, "peak_rss_mb": run.peak_rss_mb(),
        }
        named = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        # report the throughput under the workload's own name
        named[f"{wl.unit_of_work}_per_s"] = named.pop("throughput_per_s")
        named["latency_tail_s"].update(
            percentile=lat["tail_pct"], samples=lat["n"], samples_beyond=lat["beyond_tail"]
        )
        named["failed_ratio"] = {"value": res["failed"] / n, "unit": "ratio"}
        if trace:
            metrics = _traced_metrics(run, wl, res, args)
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "inputs": wl.sizes, "named": named,
            "setup_parts_s": {"session": run.session_start_s, "prepare": prep, "warm_up": warm_s,
                              **wl.parts},
            "window_s": res["elapsed"],
            "op_latencies_s": [round(x, 4) for x in res["lat"]],
            "rss_hwm_mb": run.rss_hwm_mb(),
            "box": run.noise.record(),
        }
    finally:
        if wl is not None:
            wl.close()
        run.close()
    print(json.dumps({"report": report}), flush=True)
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": n,
        "failed": res["failed"], "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
