"""Repository benchmark: closed-loop, single-client workloads over the
pyprima_spark program, with verified outputs and a traced per-layer run.

Run from the repository root:

    python3 perfbench/run.py --workload adhoc_mix --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it carries the run's details (host probe, warm-up record, sample
counts). See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
import tracing  # noqa: E402
import verify  # noqa: E402

# Input data: one fixed, generated data set shared by both workloads.
DATA_SF = 0.01
DATA_SEED = 42
STATE_DIR = ".perfbench"

WORKLOADS = ("adhoc_mix", "prima_pipeline")

# adhoc_mix: one or more plan keys from each catalog family.
ADHOC_KEYS = (
    "q3_shipping_priority",  # TPC-H
    "recode_group",  # cleaning
    "weighted_disaggregate",  # intermediate
    "sessionize",  # time series
    "point_in_region",  # spatial
    "dedup_minhash_lsh",  # similarity
    "quality_score",  # LLM curation
)
SETUPS = 3
# Untimed adhoc_mix passes before the timed window. The first pass of a
# session is its cold one (planning, codegen, JIT), two to three times a
# warm pass. An analyst pays it once per notebook session, so adhoc_mix
# times warm passes; a runme.py batch pays it on every run, so
# prima_pipeline has no warm-up and times the cold pass.
WARMUP_PASSES = 1
# Fewest timed passes: adhoc_mix needs 21 ops for a median with 10
# samples beyond it; one prima_pipeline pass has 20 ops.
MIN_TIMED_PASSES = {"adhoc_mix": 3, "prima_pipeline": 1}
STEADY_RATIO = 0.9
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "out_mb": "MB",
    "peak_rss_mb": "MB",
    "ok_frac": "fraction",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "catalog.hit_frac": "fraction",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.failed_tasks": "count",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "pipeline.cleaning_s": "s",
    "pipeline.intermediate_s": "s",
    "pipeline.model_s": "s",
    "pipeline.csv_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def percentile(samples: list[float], q: float) -> float | None:
    """The Harrell-Davis estimate of the q-quantile of ``samples``, or
    None unless at least ten samples lie beyond it.

    The estimate is a mean of all order statistics, weighted by the
    Beta((n+1)q, (n+1)(1-q)) distribution. A run's ops are a few distinct
    plan keys repeated, so a single order statistic jumps from one key's
    time to another's between runs; in ten runs of each workload this
    estimate spread 14% where the plain median spread 17-18%."""
    n = len(samples)
    if round(n * (1 - q), 9) < 10:
        return None
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = 4000  # integration steps for the Beta CDF
    mid = (np.arange(grid) + 0.5) / grid
    pdf = np.exp((a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid))
    cdf = np.concatenate(([0.0], np.cumsum(pdf)))
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, grid + 1), cdf))
    return float(weights @ np.sort(np.asarray(samples, dtype=float)))


class Run:
    """State of one benchmark run: session, data, samples and spans."""

    def __init__(self, args, data_dir: str, out_root: str) -> None:
        self.args = args
        self.data_dir = data_dir
        self.oracle_dir = f"{data_dir}-oracles"
        self.out_root = out_root
        self.rng = random.Random(args.seed)
        self.spark = None
        self.tracer: tracing.Tracer | None = None
        self.setup_s: list[float] = []
        self.session_s: list[float] = []
        self.setup_catalog_s: list[float] = []
        self.pass_s: list[float] = []
        self.op_s: list[float] = []
        self.op_names: list[str] = []
        self.op_ok: list[bool] = []
        self.out_bytes: list[int] = []
        self.traced_passes: list[tuple[int, int]] = []
        self.traced_overhead: list[float] = []
        self.detail: dict = {"phase_s": {}}
        self._last_mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark under ``phase``."""
        now = time.perf_counter()
        self.detail["phase_s"][phase] = now - self._last_mark
        self._last_mark = now

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        """Session start plus catalog load, SETUPS times; the first one
        launches the JVM. The last session stays open for the workload."""
        from pyprima_spark import catalog
        from pyprima_spark.session import build_session

        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = build_session(f"perfbench-{self.args.workload}")
            t1 = time.perf_counter()
            first_span = 0
            if self.tracer is not None:
                self.tracer.sc = spark.sparkContext
                first_span = len(self.tracer.spans)
                self.tracer.install()
            catalog.load_tables(spark, self.data_dir)
            t2 = time.perf_counter()
            self.setup_s.append(t2 - t0)
            self.session_s.append(t1 - t0)
            if self.tracer is not None:
                self.tracer.uninstall()
                self.setup_catalog_s.append(sum(
                    s["end"] - s["start"] for s in self.tracer.spans[first_span:]
                    if s["name"] == tracing.CATALOG
                ))
            if i < SETUPS - 1:
                spark.stop()
        self.spark = spark

    # -- helpers ---------------------------------------------------------

    def span(self, name: str, **attrs):
        """A tracer span while the tracer is installed, else a no-op."""
        if self.tracer is not None and self.tracer.installed:
            return self.tracer.span(name, **attrs)
        return contextlib.nullcontext({})

    def measured_pass(self, fn):
        """Run ``fn``, one measured pass; in a traced run keep its spans
        and the tracer's own bookkeeping time during the pass."""
        if self.tracer is None:
            return fn()
        first = len(self.tracer.spans)
        overhead = self.tracer.overhead_s
        result = fn()
        self.traced_overhead.append(self.tracer.overhead_s - overhead)
        self.tracer.collect_jobs(first)
        self.traced_passes.append((first, len(self.tracer.spans)))
        return result

    # -- adhoc_mix ---------------------------------------------------------

    def adhoc_pass(self, oracles, record: bool) -> float:
        """One shuffled pass over ADHOC_KEYS; returns its summed op time."""
        from pyprima_spark.plans.queries import QUERIES

        keys = list(ADHOC_KEYS)
        self.rng.shuffle(keys)
        total = 0.0
        for key in keys:
            if self.tracer is not None:
                self.tracer.op = len(self.op_s)
            t = time.perf_counter()
            try:
                df = QUERIES[key](self.spark, self.data_dir)
                with self.span(tracing.EXEC, key=key):
                    pdf = df.toPandas()
            except Exception:  # noqa: BLE001 - a raising op counts as failed
                traceback.print_exc()
                pdf = None
            dt = time.perf_counter() - t
            total += dt
            ok = pdf is not None and verify.frames_match(verify.normalize(pdf), oracles[key])
            size = 0 if pdf is None else int(pdf.memory_usage(deep=True).sum())
            if record:
                self.op_s.append(dt)
                self.op_names.append(key)
                self.op_ok.append(ok)
                self.out_bytes[-1] += size
            elif not ok:
                self.detail.setdefault("warmup_failures", []).append(key)
        return total

    def run_adhoc(self) -> None:
        from pyprima_spark.catalog import TABLES
        from pyprima_spark.plans.oracles import ORACLES

        oracles = verify.oracle_frames(
            {k: ORACLES[k] for k in ADHOC_KEYS}, self.data_dir, TABLES, self.oracle_dir
        )
        self.mark("oracle")
        warm = [self.adhoc_pass(oracles, record=False) for _ in range(WARMUP_PASSES)]
        self.mark("warmup")

        def timed_pass():
            self.out_bytes.append(0)
            self.pass_s.append(self.measured_pass(lambda: self.adhoc_pass(oracles, True)))

        self.timed_window(timed_pass)
        self.record_warmup("passes of the shuffled mix", warm)

    def timed_window(self, timed_pass) -> None:
        """Timed passes: at least MIN_TIMED_PASSES, and more until
        ``--seconds`` have passed. The tracer is on only in here."""
        if self.tracer is not None:
            self.tracer.install()
        t_start = time.perf_counter()
        while (len(self.pass_s) < MIN_TIMED_PASSES[self.args.workload]
               or time.perf_counter() - t_start < self.args.seconds):
            timed_pass()
        self.mark("measure")
        if self.tracer is not None:
            self.tracer.uninstall()

    def record_warmup(self, what: str, warm: list[float]) -> None:
        self.detail["warmup"] = {
            "rule": f"{len(warm)} untimed {what}; steady when the last timed pass "
                    f"is at least {STEADY_RATIO} x the first (null: one timed pass)",
            "pass_s": warm,
            "steady": (self.pass_s[-1] >= STEADY_RATIO * self.pass_s[0]
                       if len(self.pass_s) > 1 else None),
        }

    # -- prima_pipeline ----------------------------------------------------

    def pipeline_pass(self, out_dir: str) -> tuple[float, list[float], dict]:
        """runme.py's chain. Returns (pass seconds, op boundary times,
        stage outputs)."""
        from pyspark.sql.readwriter import DataFrameWriter

        from pyprima_spark import pipeline
        from pyprima_spark.sources import readers

        marks: list[float] = []
        patches = [(DataFrameWriter, "parquet"), (readers, "write_european_csv")]
        originals = [getattr(o, a) for o, a in patches]

        def clocked(fn):
            def wrapper(*a, **kw):
                result = fn(*a, **kw)
                marks.append(time.perf_counter())
                return result
            return wrapper

        # Completion clock: one timestamp per written output, so the
        # pass splits into per-output ops without the tracer.
        for (owner, attr), fn in zip(patches, originals):
            setattr(owner, attr, clocked(fn))
        try:
            t0 = time.perf_counter()
            stages = pipeline.run_pipeline(self.spark, self.data_dir, out_dir)
            t1 = time.perf_counter()
        finally:
            for (owner, attr), fn in zip(patches, originals):
                setattr(owner, attr, fn)
        return t1 - t0, [t0] + marks, stages

    def verify_pipeline(self, stages: dict, oracles: dict) -> list[bool]:
        """One verdict per op of the pass, in op order."""
        from pyprima_spark import pipeline

        oks = [verify.parquet_output_matches(stages[stage], oracles[stage])
               for stage in pipeline.CLEANING + pipeline.INTERMEDIATE + pipeline.MODEL]
        oks.append(verify.european_csv_matches(
            stages["demand_matrix_csv"], oracles["export_demand_matrix"]))
        return oks

    def run_pipeline(self) -> None:
        from pyprima_spark import pipeline
        from pyprima_spark.catalog import TABLES
        from pyprima_spark.plans.oracles import ORACLES

        keys = pipeline.CLEANING + pipeline.INTERMEDIATE + pipeline.MODEL
        oracles = verify.oracle_frames(
            {k: ORACLES[k] for k in keys}, self.data_dir, TABLES, self.oracle_dir
        )
        self.mark("oracle")

        def timed_pass():
            out_dir = os.path.join(self.out_root, f"pass{len(self.pass_s)}")
            secs, marks, stages = self.measured_pass(lambda: self.pipeline_pass(out_dir))
            self.pass_s.append(secs)
            self.op_s.extend(b - a for a, b in zip(marks, marks[1:]))
            self.op_names.extend(keys + ("demand_matrix_csv",))
            self.op_ok.extend(self.verify_pipeline(stages, oracles))
            self.out_bytes.append(tracing.dir_size(out_dir)[0])
            if not len(self.op_s) == len(self.op_names) == len(self.op_ok):
                raise RuntimeError(f"{len(self.op_s)} ops timed but {len(self.op_ok)} verified")
            shutil.rmtree(out_dir, ignore_errors=True)

        self.timed_window(timed_pass)
        self.record_warmup("run_pipeline passes", [])

    # -- tracing -----------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        from pyprima_spark import pipeline

        stages = {k: "cleaning" for k in pipeline.CLEANING}
        stages.update({k: "intermediate" for k in pipeline.INTERMEDIATE})
        stages.update({k: "model" for k in pipeline.MODEL})
        spans = self.tracer.spans
        per_pass: list[dict[str, float]] = []
        for (first, last), overhead in zip(self.traced_passes, self.traced_overhead):
            ps = spans[first:last]
            own = tracing.self_times(ps)

            def self_sum(prefix, ps=ps, own=own):
                return sum(own[s["id"]] for s in ps if s["name"] == prefix)

            loads = [s for s in ps if s["name"] == tracing.CATALOG]
            writes = [s for s in ps if s["name"] == tracing.WRITE]
            phases = tracing.pipeline_phases(ps, stages)
            m = {
                "catalog.load_calls": len(loads),
                "catalog.hit_frac": (sum(s["hit"] for s in loads) / len(loads)) if loads else 0.0,
                "plans.build_s": self_sum(tracing.BUILD),
                "plans.build_jobs": sum(s["jobs"] for s in ps if s["name"] == tracing.BUILD),
                "plans.exec_s": self_sum(tracing.EXEC),
                "plans.jobs": sum(s["jobs"] for s in ps),
                "plans.stages": sum(s["stages"] for s in ps),
                "plans.tasks": sum(s["tasks"] for s in ps),
                "plans.failed_tasks": sum(s["failed_tasks"] for s in ps),
                "sources.write_s": self_sum(tracing.WRITE),
                "sources.bytes_written": sum(s.get("bytes", 0) for s in writes),
                "sources.files_written": sum(s.get("files", 0) for s in writes),
                "trace.spans": len(ps),
                "trace.overhead_s": overhead,
            }
            for phase in ("cleaning", "intermediate", "model", "csv"):
                m[f"pipeline.{phase}_s"] = phases.get(phase, 0.0)
            per_pass.append(m)
        out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        out["session.start_s"] = statistics.median(self.session_s)
        out["catalog.load_s"] = statistics.median(self.setup_catalog_s)
        return out

    # -- results -----------------------------------------------------------

    def end_to_end(self, peak_rss: int) -> dict[str, float]:
        p50 = percentile(self.op_s, 0.5)
        if p50 is None:
            raise RuntimeError(f"only {len(self.op_s)} ops: too few for a median")
        return {
            "setup_s": statistics.median(self.setup_s),
            "pass_s": statistics.median(self.pass_s),
            "op_p50_s": p50,
            "out_mb": statistics.median(self.out_bytes) / 1e6,
            "peak_rss_mb": peak_rss / 1e6,
            "ok_frac": sum(self.op_ok) / len(self.op_ok),
        }


def ensure_data(root: str) -> str:
    """Generate the input tables once per checkout; later runs reuse them."""
    import datagen

    data_dir = os.path.join(root, STATE_DIR, f"data-sf{DATA_SF}-seed{DATA_SEED}")
    if not os.path.isdir(data_dir):
        tmp = f"{data_dir}.tmp{os.getpid()}"
        datagen.write_tables(tmp, DATA_SF, DATA_SEED)
        os.replace(tmp, data_dir)
    return data_dir


def _number(v) -> float | int:
    """A plain JSON number from a Python or NumPy scalar."""
    return v.item() if hasattr(v, "item") else v


def result_line(metrics: dict[str, float], units: dict[str, str], ok: list[bool]) -> str:
    failed = len(ok) - sum(map(bool, ok))
    return json.dumps({
        "correct": failed == 0,
        "attempted": len(ok),
        "failed": failed,
        "metrics": {k: {"value": _number(metrics[k]), "unit": u} for k, u in units.items()},
    })


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pyprima_spark", "pipeline.py")):
        print("perfbench: run from the repository root (pyprima_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    tmp = os.path.join(root, STATE_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Keep every scratch file the run (Python, JVM, Spark) makes inside
    # the checkout; size the session for a shared host.
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
    })
    data_dir = ensure_data(root)
    out_root = os.path.join(root, STATE_DIR, "out", str(os.getpid()))
    run = Run(args, data_dir, out_root)
    run.mark("inputs")
    cpu_probe = host.cpu_probe_s()
    try:
        with host.RssSampler() as rss:
            if args.trace:
                run.tracer = tracing.Tracer(None)
            run.setup()
            run.mark("setup")
            if args.workload == "adhoc_mix":
                run.run_adhoc()
            else:
                run.run_pipeline()
            peak = rss.peak
            # After the workload, so the probe's own first-job cost
            # stays out of set-up and the cold pipeline pass keeps its.
            spark_probe = host.spark_probe_s(run.spark)
            run.mark("probe")
        if args.trace:
            metrics, units = run.layer_metrics(), PER_LAYER
            trace_path = os.path.join(
                root, STATE_DIR, "traces", f"{args.workload}-seed{args.seed}.json")
            run.tracer.dump(trace_path)
            run.detail["trace_file"] = os.path.relpath(trace_path, root)
        else:
            metrics, units = run.end_to_end(peak), END_TO_END
    finally:
        run.mark("results")
        if run.spark is not None:
            host.stop_spark(run.spark, rss.seen)
        shutil.rmtree(out_root, ignore_errors=True)
    run.mark("stop")
    run.detail.update({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "data": {"sf": DATA_SF, "seed": DATA_SEED},
        "host_probe": {"cpu_s": cpu_probe, "spark_s": spark_probe},
        "samples": {"setup_s": len(run.setup_s), "pass_s": len(run.pass_s),
                    "op_p50_s": len(run.op_s), "out_mb": len(run.out_bytes),
                    "peak_rss_mb": rss.samples, "ok_frac": len(run.op_ok)},
        "setup_s": run.setup_s,
        "pass_s": run.pass_s,
        "op_s": run.op_s,
        "op_names": run.op_names,
    })
    print(json.dumps({"perfbench": run.detail}))
    print(result_line(metrics, units, run.op_ok))
    return 0


if __name__ == "__main__":
    sys.exit(main())
