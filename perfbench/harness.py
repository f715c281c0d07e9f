"""Shared machinery for the benchmark workloads: run-scoped temp space,
engine session start/stop, box-noise record, memory high-water mark,
latency statistics, and the traced-run instrumentation (spans, layer
wrappers, Spark job/plan/GC/streaming counters read from outside the
engine)."""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import re
import shutil
import statistics
import time
from collections import Counter, defaultdict


# ---------------------------------------------------------------- statistics

TAIL_FLOOR_PCT = 75


def latency_summary(samples: list[float]) -> dict:
    """Median plus the tail: the highest whole percentile with at least
    ten samples beyond it, but never below p75: below 40 samples that
    rule gives p74 or lower, and the tail is p75 with fewer samples
    beyond it (``beyond_tail``). The window maximum is not used: with a
    dozen samples it is one operation's latency and swings from run to
    run."""
    xs = sorted(samples)
    n = len(xs)
    pct = max(TAIL_FLOOR_PCT, min(99, (100 * (n - 10)) // n))
    tail = statistics.quantiles(xs, n=100, method="inclusive")[pct - 1] if n > 1 else xs[0]
    return {
        "p50": statistics.median(xs), "tail": tail, "tail_pct": pct, "n": n,
        "beyond_tail": sum(x > tail for x in xs),
    }


# ---------------------------------------------------------------- box noise

def _cpu_jiffies() -> tuple[int, int] | None:
    """(steal, user..steal total) from the aggregate cpu line."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return vals[7], sum(vals)


class NoiseProbe:
    """1-minute load average before the run and the hypervisor steal
    share of the timed window (run metadata, not a metric)."""

    def __init__(self) -> None:
        self.load1_pre = round(os.getloadavg()[0], 2)
        self._start = None
        self.steal_share = None

    def window_start(self) -> None:
        self._start = _cpu_jiffies()

    def window_end(self) -> None:
        end = _cpu_jiffies()
        if self._start and end and end[1] > self._start[1]:
            self.steal_share = round((end[0] - self._start[0]) / (end[1] - self._start[1]), 5)

    def record(self) -> dict:
        rec = {"load1_pre": self.load1_pre}
        if self.steal_share is not None:
            rec["steal_share"] = self.steal_share
        return rec


def vm_hwm_kb(pid: int | str = "self") -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory span recorder. Spans carry name, start, end, parent span
    id and the operation id they belong to; nothing is written until
    :meth:`dump`. Disabled tracers cost one attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "op": self.op_id}
            )

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of its interval covered by its children."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in sorted(self.spans, key=lambda s: s["id"])
        ]
        with open(path, "w") as fw:
            json.dump({**extra, "spans": spans}, fw, indent=1)


class LayerWrappers:
    """Traced run only: replace public module functions of the engine's
    layers with span-opening wrappers, restored by :meth:`restore`."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, module: str, attr: str, span_name: str) -> None:
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        tracer = self.tracer

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        setattr(mod, attr, traced)
        self._saved.append((mod, attr, orig))

    def restore(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()


# ---------------------------------------------------------------- spark probes

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_NODES = ("Python", "Pandas", "Arrow")


def _metric_number(text: str) -> float:
    """'6,000' -> 6000; '111.2 KiB' -> 113868.8; '3 ms' -> 3."""
    parts = text.replace(",", "").split()
    num = float(parts[0])
    return num * _SIZE_UNITS.get(parts[1], 1) if len(parts) > 1 else num


def _dot_node_metrics(dot: str):
    """Yield (node name, metric name, value) from a plan graph's DOT
    rendering (``SparkPlanGraph.makeDotFile``). A metric shown as
    'total (min, med, max ...)' is read from its total, on the next line."""
    for label in re.findall(r'label="(<[^"]*)"', dot):
        items = [i for i in label.split("<br>") if i]
        if not items:
            continue
        node = re.sub(r"</?b>", "", items[0]).strip()
        for k, item in enumerate(items[1:], start=1):
            name, sep, val = item.partition(": ")
            if not sep:
                continue
            if val.startswith("total (") and k + 1 < len(items):
                val = items[k + 1].split(" (")[0]
            try:
                yield node, name, _metric_number(val)
            except (ValueError, IndexError):
                continue


class SqlMetrics:
    """SQL metrics of every SQL execution an operation ran, read from the
    session's SQL status store after the listener bus has drained: scan
    rows/bytes, shuffle bytes written, spill bytes, and rows/bytes
    crossing into Python workers."""

    def __init__(self, spark) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.last_id = -1

    def _recent_ids(self) -> list[int]:
        self.bus.waitUntilEmpty(30_000)
        n = self.store.executionsCount()
        lst = self.store.executionsList(max(0, n - 50), 50)
        return [lst.apply(i).executionId() for i in range(lst.size())]

    def mark(self) -> None:
        """Forget every execution finished so far."""
        self.last_id = max(self._recent_ids(), default=self.last_id)

    def collect(self) -> Counter:
        """Sum the metrics of the executions finished since :meth:`mark`."""
        out: Counter = Counter()
        ids = [i for i in self._recent_ids() if i > self.last_id]
        for eid in ids:
            dot = self.store.planGraph(eid).makeDotFile(self.store.executionMetrics(eid))
            for node, name, val in _dot_node_metrics(dot):
                if node.startswith("Scan") and name == "number of output rows":
                    out["scan_rows"] += val
                elif name == "size of files read":
                    out["scan_bytes"] += val
                elif name == "shuffle bytes written":
                    out["shuffle_bytes"] += val
                elif name == "spill size":
                    out["spill_bytes"] += val
                elif name.startswith("data sent to Python") or name.startswith("data returned from Python"):
                    out["python_bytes"] += val
                elif name == "number of output rows" and any(p in node for p in _PY_NODES):
                    out["python_rows"] += val
        self.last_id = max(ids, default=self.last_id)
        return out


class JobCounter:
    """Counts Spark jobs and completed tasks per operation through the
    status tracker, with one job group per operation."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.group: str | None = None

    def begin(self, op_id: str) -> None:
        self.group = f"bench-{op_id}"
        self.sc.setJobGroup(self.group, op_id)

    def jobs(self, group: str | None = None) -> list[int]:
        """Jobs of the operation's group, or of another ``group``."""
        group = group or self.group
        return list(self.tracker.getJobIdsForGroup(group)) if group else []

    def tasks(self, job_ids: list[int]) -> int:
        n = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self.tracker.getStageInfo(s)
                n += st.numCompletedTasks if st else 0
        return n

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.group = None


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


class StreamProgress:
    """Collects ``StreamingQueryProgress`` events of every streaming
    query the engine runs while attached, and the run id of every query
    started: a streaming query runs its jobs in a job group named after
    its run id, not in the group of the operation that started it."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.rows: list[dict] = []
        self.run_ids: list[str] = []
        rows, run_ids = self.rows, self.run_ids

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                # delivered synchronously, before the query's first batch
                run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                rows.append({
                    "trigger_ms": d.get("triggerExecution", 0),
                    "plan_ms": d.get("queryPlanning", 0),
                    "add_batch_ms": d.get("addBatch", 0),
                    "wal_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                    "input_rows": p.numInputRows,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


# ---------------------------------------------------------------- the run

class Run:
    """One benchmark run: temp space under the checkout, the engine
    session, the tracer and the Spark counters."""

    def __init__(self, root: str, tmp: str, workload: str, seed: int, size: str) -> None:
        self.root = root
        self.tmp = tmp  # removed by close(), with everything Spark left in it
        self.workload = workload
        self.seed = seed
        self.size = size
        self.noise = NoiseProbe()
        self.tracer = Tracer(False)  # run.py enables it for the traced window
        self.wrappers = LayerWrappers(self.tracer)
        self.spark = None
        self.jobs: JobCounter | None = None
        self.sql: SqlMetrics | None = None
        self.session_start_s = 0.0
        self._jvm_pid = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def start_session(self):
        t0 = time.perf_counter()
        from oxi_diel_db_spark.session import get_spark

        self.spark = get_spark(f"perfbench.{self.workload}")
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.jobs = JobCounter(self.spark.sparkContext)
        self.sql = SqlMetrics(self.spark)
        return self.spark

    def rss_hwm_mb(self) -> dict[str, float]:
        """``VmHWM`` of the driver Python process and of its JVM, in MB."""
        return {"python": vm_hwm_kb("self") / 1024.0,
                "jvm": (vm_hwm_kb(self._jvm_pid) if self._jvm_pid else 0) / 1024.0}

    def peak_rss_mb(self) -> float:
        return sum(self.rss_hwm_mb().values())

    @contextlib.contextmanager
    def operation(self, op_id: str):
        """Scope of one operation (execute + check): spans carry its id
        and, traced, its Spark jobs run under their own job group."""
        self.tracer.op_id = op_id
        counting = self.tracer.enabled
        if counting:
            self.jobs.begin(op_id)
            self.sql.mark()
        try:
            yield
        finally:
            if counting:
                self.jobs.end()
            self.tracer.op_id = None

    def close(self) -> None:
        """Stop the session, wait for the JVM to exit, remove temp space."""
        self.wrappers.restore()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None) if gw is not None else None
            if gw is not None:
                with contextlib.suppress(Exception):
                    gw.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
        shutil.rmtree(self.tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.tmp))
