"""The benchmark workloads. Each one prepares seeded inputs and reference
answers in setup, then yields operations for the timed loop in run.py.

An operation is an ``execute`` callable (timed) and a ``check`` callable
(untimed) that returns whether the output was correct and, in the
traced run, records per-layer counters for the operation.
"""

from __future__ import annotations

import contextlib
import io
import json
import random
import time
from collections import Counter

from harness import Run, StreamProgress
import inputs
from tools.check_oracle import table_hash  # the oracle gate's result hash

# ------------------------------------------------------------------ helpers

def _plan(run: Run, df) -> None:
    """Force physical planning of ``df`` inside a ``queries.plan`` span."""
    with run.tracer.span("queries.plan"):
        df._jdf.queryExecution().executedPlan()


class Workload:
    unit_of_work = "operations"  # what throughput_per_s counts
    prepare_reps = 3  # repeated set-up passes; setup_s uses their median

    def __init__(self, run: Run) -> None:
        self.run = run
        self.sizes: dict = {}
        self.parts: dict[str, float] = {}  # named set-up phases, seconds

    # set-up: prepare() is repeated prepare_reps times from scratch
    def prepare(self, rep: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def rounds(self):
        """Infinite iterator of rounds; a round is a list of operations
        (op_id, execute, check). Restarting it replays the same sequence."""
        raise NotImplementedError

    def install_tracing(self) -> None:
        """Traced run: wrap the layer functions this workload reaches."""

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        return {}

    def close(self) -> None:
        """Undo any process-level change set-up made."""


# ------------------------------------------------------------------ analytics

ANALYTICS_POOL = (
    # relational / SQL surface
    "q01_pricing_summary", "q30_multiway_join", "q45_shipping_priority", "q49_market_share",
    # Structured Streaming: file source -> windowed aggregation -> memory sink
    "st1_tumbling_window",
    # curation operators: word-shingle Jaccard pairs -> connected components
    "d8_dedup_clusters",
)
#: pool entries whose work is in the operators layer (their job, shuffle
#: and spill counts are reported under operators.*, the rest under queries.*)
OPERATOR_QUERIES = {"d8_dedup_clusters"}
ANALYTICS_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents",
)
ANALYTICS_SF = {"full": 0.001, "tiny": 0.0002}
ANALYTICS_WARM_PASSES = 1  # the cold pass; the second is already as fast as later ones


class Analytics(Workload):
    """Closed loop, one client: seed-shuffled passes over a fixed pool of
    oracle-backed registry queries; every result is hashed against the
    DuckDB oracle's hash computed in set-up."""

    unit_of_work = "queries"

    def __init__(self, run: Run) -> None:
        super().__init__(run)
        from oxi_diel_db_spark.queries import load_registry

        self.registry = load_registry()
        self.sf = ANALYTICS_SF[run.size]
        self.ref: dict[str, str] = {}
        self.sf_dir = ""
        self.counts: Counter = Counter()
        self.stream: StreamProgress | None = None

    def prepare(self, rep: int) -> None:
        import duckdb

        self.sf_dir = self.run.path(f"tables{rep}")
        self.sizes = inputs.write_tables(self.sf_dir, self.run.seed, self.sf)
        con = duckdb.connect()
        try:
            for t in ANALYTICS_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            ref = {}
            for name in ANALYTICS_POOL:
                res = con.sql(self.registry[name].oracle)
                ref[name] = table_hash(res.columns, res.fetchall())
        finally:
            con.close()
        self.ref = ref

    def warm_up(self) -> None:
        for _ in range(ANALYTICS_WARM_PASSES):
            for name in ANALYTICS_POOL:
                self._execute(name)

    def _execute(self, name: str):
        run = self.run
        with run.tracer.span("queries.build"):
            df = self.registry[name].build(run.spark, self.sf_dir)
        _plan(run, df)
        build_jobs = len(run.jobs.jobs()) if run.tracer.enabled else 0
        with run.tracer.span("queries.exec"):
            rows = df.collect()
        return name, df, rows, build_jobs

    def _check(self, state) -> bool:
        name, df, rows, build_jobs = state
        if self.run.tracer.enabled:
            jobs = self.run.jobs.jobs()
            # st1's micro-batches run under their streaming query's run id
            while self.stream.run_ids:
                jobs += self.run.jobs.jobs(self.stream.run_ids.pop())
            m = self.run.sql.collect()
            if name in OPERATOR_QUERIES:
                self.counts.update({
                    "operators.jobs": len(jobs),
                    "operators.shuffle_bytes": m["shuffle_bytes"],
                    "operators.spill_bytes": m["spill_bytes"],
                })
            else:
                self.counts.update({
                    "queries.build_jobs": build_jobs,
                    "queries.exec_jobs": len(jobs) - build_jobs,
                    "queries.tasks": self.run.jobs.tasks(jobs),
                    "queries.shuffle_bytes": m["shuffle_bytes"],
                })
            self.counts.update({
                "tables.scan_bytes": m["scan_bytes"],
                "tables.scan_rows": m["scan_rows"],
                "functions.python_rows": m["python_rows"],
                "functions.python_bytes": m["python_bytes"],
                "rows_out": len(rows),
            })
        return table_hash(df.columns, rows) == self.ref[name]

    def rounds(self):
        rng = random.Random(self.run.seed)
        k = 0
        while True:
            names = list(ANALYTICS_POOL)
            rng.shuffle(names)
            ops = []
            for name in names:
                ops.append((f"q{k}-{name}", (lambda n=name: self._execute(n)), self._check))
                k += 1
            yield ops

    def install_tracing(self) -> None:
        w = self.run.wrappers
        w.wrap("oxi_diel_db_spark.tables", "load", "tables.load")
        w.wrap("oxi_diel_db_spark.streaming.ops", "run_stream_to_memory", "streaming.run")
        # d8 clusters its pairs while the query builds: dedup_clusters
        # materializes the pair list and runs its own jobs there
        w.wrap("oxi_diel_db_spark.operators.dedup", "dedup_clusters", "operators.clusters")
        self.stream = StreamProgress(self.run.spark)

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        out = {k: v / n_ops for k, v in self.counts.items() if k != "rows_out"}
        out["queries.rows_scanned_per_row_out"] = (
            self.counts["tables.scan_rows"] / max(1, self.counts["rows_out"])
        )
        if self.stream is not None:
            time.sleep(0.5)  # let the listener bus deliver the last progress events
            prog = list(self.stream.rows)
            self.stream.close()
            out.update({
                "streaming.trigger_s": sum(p["trigger_ms"] for p in prog) / 1000 / n_ops,
                "streaming.plan_s": sum(p["plan_ms"] for p in prog) / 1000 / n_ops,
                "streaming.add_batch_s": sum(p["add_batch_ms"] for p in prog) / 1000 / n_ops,
                "streaming.wal_commit_s": sum(p["wal_ms"] for p in prog) / 1000 / n_ops,
                "streaming.batches": len(prog) / n_ops,
                "streaming.state_rows": sum(p["state_rows"] for p in prog) / n_ops,
                "streaming.state_bytes": sum(p["state_bytes"] for p in prog) / n_ops,
            })
        return out


# ------------------------------------------------------------------ predict

PREDICT_MODEL = ("el", "comp")  # (dielectric type, descriptor set)
PREDICT_TREES = 10
PREDICT_TARGETS = {"full": (12, 6), "tiny": (3, 2)}  # (formulas, structure files)
PREDICT_WARM_ROUNDS = 1  # warm-up requests per request kind


def _formula_of(structure_path: str) -> str:
    """Reduced-order formula string of a database-JSON structure record,
    in the CLI's convention (elements sorted, count 1 omitted)."""
    with open(structure_path) as fh:
        sites = json.load(fh)["structure"]["sites"]
    counts = Counter(s["species"][0]["element"] for s in sites)
    return "".join(f"{el}{c if c > 1 else ''}" for el, c in sorted(counts.items()))


class Predict(Workload):
    """Closed loop, one client: the reference's prediction API called
    in-process through the CLI (``cli.main(["predict", ...])``) over a
    seed-drawn sequence of composition (``-c``) and structure-file
    (``-s``) requests. Each answer must equal a batch ``transform`` of the
    same target, done in set-up."""

    unit_of_work = "requests"
    prepare_reps = 1  # model training dominates; done once

    def __init__(self, run: Run) -> None:
        super().__init__(run)
        from oxi_diel_db_spark.ml import comp_model

        self.cm = comp_model
        self._models_dir = comp_model.MODELS_DIR
        self.ref: dict[tuple, float] = {}
        self.requests: dict[str, list[tuple]] = {}
        self.counts: Counter = Counter()

    def prepare(self, rep: int) -> None:
        import os

        from oxi_diel_db_spark.sources.materials import MATERIALS_PARQUET, materials

        spark, cm = self.run.spark, self.cm
        diel, des = PREDICT_MODEL
        # model artifacts live in this run's temp space: no run reuses
        # another's trained model
        cm.MODELS_DIR = self.run.path(f"models{rep}")
        n_f, n_s = PREDICT_TARGETS[self.run.size]
        formulas, structs = inputs.write_predict_targets(
            self.run.path(f"targets{rep}"), self.run.seed, MATERIALS_PARQUET, n_f, n_s
        )
        self.sizes = {"formulas": n_f, "structure_files": n_s, "trees": PREDICT_TREES,
                      "model": f"{diel}/{des}",
                      "corpus": os.path.relpath(MATERIALS_PARQUET, self.run.root)}
        mats = materials(spark)

        t0 = time.perf_counter()
        model = cm.load_or_train(spark, mats, diel, des, PREDICT_TREES)
        self.parts["train"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        stats = cm._load_or_compute_scaler(spark, mats, des)
        self.parts["scaler"] = time.perf_counter() - t0

        # batch reference: every target scored in one DataFrame
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        targets = [("-c", f, f) for f in formulas] + [("-s", p, _formula_of(p)) for p in structs]
        df = cm.comp_features(spark.createDataFrame(
            [{"tid": i, "formula": f} for i, (_, _, f) in enumerate(targets)]
        ))
        for c in cm.COMP_FEATURES:
            mu, sd = stats[f"{c}__mu"], stats[f"{c}__sd"]
            sd = sd if sd and sd > 0 else 1.0
            df = df.withColumn(c, (F.col(c) - F.lit(mu)) / F.lit(sd))
        scored = model.transform(df).select("tid", "pred_log10").collect()
        self.ref = {targets[r["tid"]][:2]: float(r["pred_log10"]) for r in scored}
        self.parts["batch_reference"] = time.perf_counter() - t0
        self.train_s = self.parts["train"] + self.parts["scaler"]
        rng = random.Random(self.run.seed)
        self.requests = {flag: [r for r in self.ref if r[0] == flag] for flag in ("-c", "-s")}
        for reqs in self.requests.values():
            rng.shuffle(reqs)

    def _execute(self, req):
        from oxi_diel_db_spark import cli

        flag, target = req
        diel, des = PREDICT_MODEL
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cli.main(["predict", "-diel", diel, "-des", des, flag, target,
                      "--trees", str(PREDICT_TREES)])
        return req, buf.getvalue()

    def _check(self, state) -> bool:
        req, out = state
        if self.run.tracer.enabled:
            m = self.run.sql.collect()
            self.counts.update({
                "ml.jobs_per_request": len(self.run.jobs.jobs()),
                "functions.python_rows": m["python_rows"],
                "functions.python_bytes": m["python_bytes"],
            })
        for line in out.splitlines():
            if line.startswith("Predicted log10(epsilon):"):
                got = float(line.split(":", 1)[1])
                return abs(got - self.ref[req]) <= 1e-9 * max(1.0, abs(got))
        return False

    def warm_up(self) -> None:
        for k in range(PREDICT_WARM_ROUNDS):
            for reqs in self.requests.values():
                self._execute(reqs[-1 - k % len(reqs)])

    def rounds(self):
        """A round is one composition and one structure-file request."""
        k = 0
        while True:
            yield [
                (f"req{k}{flag}", (lambda r=reqs[k % len(reqs)]: self._execute(r)), self._check)
                for flag, reqs in self.requests.items()
            ]
            k += 1

    def install_tracing(self) -> None:
        w = self.run.wrappers
        w.wrap("oxi_diel_db_spark.session", "get_spark", "session.get_spark")
        w.wrap("oxi_diel_db_spark.sources.materials", "materials", "sources.materials")
        w.wrap("oxi_diel_db_spark.cli", "_structure_features", "cli.structure")
        w.wrap("oxi_diel_db_spark.ml.comp_model", "predict_log10_eps", "ml.predict")
        w.wrap("oxi_diel_db_spark.ml.comp_model", "load_or_train", "ml.load")
        w.wrap("oxi_diel_db_spark.ml.comp_model", "_load_or_compute_scaler", "ml.load")
        w.wrap("oxi_diel_db_spark.ml.comp_model", "comp_features", "functions.featurize")

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        out = {k: v / n_ops for k, v in self.counts.items()}
        out["ml.train_s"] = self.train_s
        return out

    def close(self) -> None:
        self.cm.MODELS_DIR = self._models_dir


WORKLOADS = {"analytics": Analytics, "predict": Predict}
