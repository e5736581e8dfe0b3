"""Lakehouse benchmark for ecu_sbl_aace_datalake_spark.

Run from the repository root::

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 10 --trace 0

Workloads (sizes and reasons in BENCHMARK.json):

- ``batch_etl``          one client; each batch job runs the star_etl stage
                         (dirty extract -> cast/clean -> 4 dimensions ->
                         surrogate-key swap -> partitioned writes -> profile)
                         and the corpus_prep stage (prepare_corpus: lang and
                         quality gates, exact + MinHash dedup, greedy packing
                         -> write)
- ``lakehouse_serving``  2 closed-loop clients: point lookups, pruned range
                         scans, star-join SQL aggregates, keyed upserts

Each run generates (or reuses) the seeded inputs, sets up ``SETUP_ROUNDS``
times (a fresh SparkContext, a light warm-up job and the workload's own
set-up; the first round also launches the JVM), measures for at least
``--seconds``, checks every output, and prints a human-readable report
(every figure with its unit and sample count) followed by ONE JSON line:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.

End-to-end metrics (every workload):

- ``setup_s``               median of the set-up rounds
- ``throughput_per_s``      batch_etl: input rows (fact rows + documents) per
                            second of the first, cold, batch job;
                            lakehouse_serving: operations/s, the median over
                            four slices of the window
- ``cpu_s_per_op``          CPU seconds of this process, the JVM and Spark's
                            Python workers per batch job / serving operation
- ``retained_heap_mb``      JVM heap in use after System.gc(), via JMX
- ``stored_bytes_per_row``  on-disk bytes of the workload's tables per live row

Per-layer metrics (``LAYER_UNITS``): a layer is a module of the engine, and
a span wraps each call the benchmark makes into it. ``<layer>.s`` is the
layer's time per unit of work (one batch job, or one serving operation),
``<layer>.self_s`` the same minus the time of its child spans; counts and
bytes are per unit of work too. Jobs, tasks and bytes come from the Spark
job group each span sets, read back through the local UI's REST API.
``trace.overhead_frac`` compares traced with untraced work of the same run.
Spans are written to ``.bench_traces/``.

Exit codes: 0 result printed; 2 the engine package is not in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ecu_sbl_aace_datalake_spark"
WORKLOADS = {
    "batch_etl": "perfbench.batch",
    "lakehouse_serving": "perfbench.serving",
}
SETUP_ROUNDS = 3
DRIVER_MEM = "2g"

# end-to-end metrics, printed for every workload (trace 0)
E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "cpu_s_per_op": "s",
    "retained_heap_mb": "MB",
    "stored_bytes_per_row": "B",
}

# per-layer metrics (trace 1): name -> unit. Times are seconds per unit of
# work (one batch job, or one serving operation); ``.self_s`` excludes the
# layer's child spans.
TIMED_LAYERS = [
    "io.read", "io.write", "query", "incremental.upsert", "transform", "cleaning",
    "star.build_dimension", "star.simple_map", "profile", "textstats",
    "dedup.exact", "dedup.minhash", "packing", "pipeline",
]
LAYER_UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.core_util": "ratio",
    **{f"{layer}.s": "s" for layer in TIMED_LAYERS},
    **{f"{layer}.self_s": "s" for layer in TIMED_LAYERS},
    "io.write.bytes": "B",
    "io.write.files": "count",
    "io.read.files_read": "count",
    "io.read.bytes_read": "B",
    "io.read.rows_examined_per_row": "ratio",
    "query.shuffle_bytes": "B",
    "incremental.upsert.jobs": "count",
    "incremental.bytes_rewritten_per_byte_updated": "ratio",
    "transform.jobs": "count",
    "cleaning.rows": "count",
    "star.jobs": "count",
    "star.broadcast_bytes": "B",
    "dedup.candidate_pairs": "count",
    "dedup.pair_precision": "ratio",
    "packing.fill_ratio": "ratio",
    "caching.persisted_bytes": "B",
    "trace.overhead_frac": "ratio",
}


def layer_of(span_name: str) -> str:
    """Span name ``<module>.<function>`` -> reported layer."""
    mod, _, fn = span_name.partition(".")
    if mod == "io":
        return "io.write" if fn.startswith("write") else "io.read"
    if mod == "star":
        return "star.build_dimension" if fn == "build_dimension" else "star.simple_map"
    if mod == "dedup":
        return "dedup.exact" if fn == "exact_dedup" else "dedup.minhash"
    if mod == "incremental":
        return "incremental.upsert"
    return mod


# ------------------------------------------------------------------ context

class Ctx:
    """One benchmark run: the session, tracer, working dirs and counters."""

    def __init__(self, workload: str, work: Path, trace: bool) -> None:
        self.workload = workload
        self.work = work
        self.trace = trace
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.tracer = None
        self.session_start_s: list[float] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._counter_lock = threading.Lock()
        self._kept: list = []

    # -- session
    def start_session(self) -> None:
        from ecu_sbl_aace_datalake_spark import get_spark

        from perfbench.trace import Tracer

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} -Dderby.system.home={self.work / 'derby'}"
            ),
        }
        if self.trace:
            # keep every job/stage/SQL execution of the window for attribution
            conf.update({
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s.append(time.perf_counter() - t0)
        self.tracer = Tracer(self.spark, enabled=False)

    def close(self) -> None:
        """Stop Spark and the JVM it launched, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    # -- helpers for workloads
    def span(self, name: str, op: int | None = None):
        return self.tracer.span(name, op)

    def count(self, key: str, value: float) -> None:
        """Add to a per-layer counter (only while tracing)."""
        if self.tracer.enabled:
            with self._counter_lock:
                self.counters[key] += value

    def materialize(self, df):
        """Traced runs only: materialize a lazy stage's output at its span
        boundary, so the stage's work is attributed to its own span."""
        if not self.tracer.enabled:
            return df
        df = df.persist()
        df.count()
        self._kept.append(df)
        return df

    def release(self) -> None:
        for df in self._kept:
            df.unpersist()
        self._kept.clear()

    def lakehouse(self, name: str):
        from ecu_sbl_aace_datalake_spark.sources.catalog import Lakehouse

        path = self.work / name
        shutil.rmtree(path, ignore_errors=True)
        path.mkdir(parents=True)
        return Lakehouse(name, str(path))


# ----------------------------------------------------------------- results

def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def data_files(path: Path) -> int:
    """Number of parquet data files under ``path``."""
    return sum(1 for _ in Path(path).rglob("*.parquet"))


def dir_bytes(path: Path) -> int:
    """On-disk bytes of the data files under ``path`` (no _SUCCESS/.crc)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def per_layer(ctx: Ctx, m, peak_rss_mb: float) -> dict[str, float]:
    """Per-layer metrics from the traced spans, the UI's per-job-group
    metrics and the workload's counters, normalized per unit of work."""
    from perfbench.trace import SparkUI, self_times

    spans = ctx.tracer.spans
    groups = SparkUI(ctx.spark).per_group()
    by_id = {s["id"]: s for s in spans}
    selft = self_times(spans)
    units = max(1, m.traced_units)
    incl: dict[str, float] = defaultdict(float)
    self_s: dict[str, float] = defaultdict(float)
    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        layer = layer_of(s["name"])
        parent = by_id.get(s["parent"])
        if parent is None or layer_of(parent["name"]) != layer:
            incl[layer] += s["end"] - s["start"]
        self_s[layer] += selft[s["id"]]
        for k, v in groups.get(f"pb-{s['id']}", {}).items():
            agg[layer][k] += v
    work_layers = [k for k in agg if k != "bench"]
    tot = lambda key: sum(agg[k][key] for k in work_layers)  # noqa: E731
    c = ctx.counters
    out = {
        "session.start_s": ctx.session_start_s[0],
        "session.peak_rss_mb": peak_rss_mb,
        "spark.jobs": tot("jobs") / units,
        "spark.tasks": tot("tasks") / units,
        "spark.core_util": tot("run_ms") / 1000.0 / max(1e-9, m.traced_wall_s * ctx.nproc),
    }
    for layer in TIMED_LAYERS:
        out[f"{layer}.s"] = incl[layer] / units
        out[f"{layer}.self_s"] = self_s[layer] / units
    ratio = lambda a, b: a / b if b else 0.0  # noqa: E731
    out.update({
        "io.write.bytes": agg["io.write"]["output_bytes"] / units,
        "io.write.files": c["io.write.files"] / units,
        "io.read.files_read": agg["io.read"]["files_read"] / units,
        "io.read.bytes_read": agg["io.read"]["input_bytes"] / units,
        "io.read.rows_examined_per_row": ratio(agg["io.read"]["input_records"], c["io.read.rows_returned"]),
        "query.shuffle_bytes": agg["query"]["shuffle_write_bytes"] / units,
        "incremental.upsert.jobs": ratio(agg["incremental.upsert"]["jobs"], c["incremental.upserts"]),
        "incremental.bytes_rewritten_per_byte_updated": ratio(
            agg["incremental.upsert"]["output_bytes"], c["incremental.bytes_updated"]
        ),
        "transform.jobs": agg["transform"]["jobs"] / units,
        "cleaning.rows": c["cleaning.rows"] / units,
        "star.jobs": (agg["star.build_dimension"]["jobs"] + agg["star.simple_map"]["jobs"]) / units,
        "star.broadcast_bytes": (
            agg["star.build_dimension"]["broadcast_bytes"] + agg["star.simple_map"]["broadcast_bytes"]
        ) / units,
        "dedup.candidate_pairs": c["dedup.candidate_pairs"] / units,
        "dedup.pair_precision": ratio(c["dedup.verified_pairs"], c["dedup.candidate_pairs"]),
        "packing.fill_ratio": ratio(c["packing.tokens"], c["packing.capacity"]),
        "caching.persisted_bytes": float(m.persisted_bytes),
        "trace.overhead_frac": m.trace_overhead,
    })
    assert set(out) == set(LAYER_UNITS), set(out) ^ set(LAYER_UNITS)
    return out


class Measurement:
    """What a workload's measure() returns."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.throughput_per_s = 0.0
        self.cpu_s_per_op = 0.0
        self.stored_bytes_per_row = 0.0
        self.report: list[tuple[str, float, str, int | None]] = []  # name, value, unit, n
        self.traced_units = 0
        self.traced_wall_s = 0.0
        self.trace_overhead = 0.0
        # Spark storage in use once the untraced work is done: what the
        # engine leaves cached (traced stages are materialized and released)
        self.persisted_bytes = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)


def batch_loop(ctx: Ctx, m: Measurement, seconds: float, job, check, rows_per_job: int) -> None:
    """One client running ``job(op)`` back to back for at least ``seconds``.

    The end-to-end numbers come from the FIRST job: a batch job runs once
    per process (a scheduled spark-submit), so it pays the JVM's JIT and
    codegen warm-up, and a run cannot afford a warm-up job besides the
    measured one. Later jobs repeat the checks and are reported apart.
    ``check(output, traced)`` returns failure messages; it runs between
    jobs, outside their time. Traced runs trace only after one cold and one
    warm untraced job; ``trace.overhead_frac`` compares warm jobs.
    """
    from perfbench.trace import SparkUI, tree_cpu_s

    deadline = time.perf_counter() + seconds
    untraced, traced = [], []
    op = 0
    while True:
        op += 1
        tracing = ctx.trace and len(untraced) >= 2
        if tracing and not traced:
            m.persisted_bytes = SparkUI(ctx.spark).persisted_bytes()
        ctx.tracer.enabled = tracing
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        with ctx.span("bench.job", op):
            out = job(op)
        dt = time.perf_counter() - t0
        if op == 1:
            m.cpu_s_per_op = tree_cpu_s() - cpu0
        ctx.tracer.enabled = False
        (traced if tracing else untraced).append(dt)
        problems = check(out, tracing)
        ctx.release()
        m.attempted += 1
        if problems:
            m.failed += 1
            m.failures.extend(f"job {op}: {p}" for p in problems)
        if time.perf_counter() >= deadline and (traced or not ctx.trace):
            break
    m.throughput_per_s = rows_per_job / untraced[0]
    m.report.append(("first_job_ms", untraced[0] * 1000.0, "ms", 1))
    if len(untraced) > 1:
        m.report.append(("warm_job_ms_p50", statistics.median(untraced[1:]) * 1000.0, "ms",
                         len(untraced) - 1))
    if traced:
        m.traced_units = len(traced)
        m.traced_wall_s = sum(traced)
        m.trace_overhead = statistics.median(traced) / statistics.median(untraced[1:]) - 1.0
        m.report.append(("traced_job_ms_p50", statistics.median(traced) * 1000.0, "ms", len(traced)))


# -------------------------------------------------------------------- main

def _prepare_env(work: Path, nproc: int) -> None:
    for d in ("spark-local", "tmp", "warehouse", "derby"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Spark's Python workers must import the engine from this checkout
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_MASTER", None)


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 sizes: dict | None = None, corrupt=None) -> dict:
    """Run one workload end to end; returns the result object (the JSON
    line's content plus the human-readable report)."""
    mod = importlib.import_module(WORKLOADS[name])
    work = ROOT / ".bench_work" / f"{name}-{os.getpid()}-{time.time_ns()}"
    ctx = Ctx(name, work, trace)
    _prepare_env(work, ctx.nproc)
    try:
        inputs = mod.make_inputs(seed, ROOT / ".bench_cache", sizes)
        # set-up rounds: a fresh SparkContext (the first round also launches
        # the JVM), a light warm-up job, and the workload's own set-up
        setup_times = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            ctx.start_session()
            ctx.spark.range(1 << 16).selectExpr("sum(id)").collect()
            st = mod.setup(ctx, inputs)
            setup_times.append(time.perf_counter() - t0)
        st.seed = seed
        # untimed: the checks' ground truth and oracles, and (serving only)
        # one warm-up call of each operation kind
        t0 = time.perf_counter()
        mod.prepare(ctx, st)
        warm_up_s = time.perf_counter() - t0
        m = Measurement()
        mod.measure(ctx, st, seconds, m, corrupt)
        ctx.release()
        from perfbench.trace import retained_heap_mb, vm_hwm_mb

        heap = retained_heap_mb(ctx.spark)
        from pyspark import SparkContext

        jvm_pid = getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)
        peak_rss = vm_hwm_mb() + (vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)
        e2e = {
            "setup_s": statistics.median(setup_times),
            "throughput_per_s": m.throughput_per_s,
            "cpu_s_per_op": m.cpu_s_per_op,
            "retained_heap_mb": heap,
            "stored_bytes_per_row": m.stored_bytes_per_row,
        }
        layers = per_layer(ctx, m, peak_rss) if trace else None
        if trace:
            traces = ROOT / ".bench_traces"
            traces.mkdir(exist_ok=True)
            ctx.tracer.write(traces / f"{name}-s{seed}.jsonl")
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)
    metrics = layers if trace else e2e
    units = LAYER_UNITS if trace else E2E_UNITS
    return {
        "correct": m.failed == 0 and m.attempted > 0,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        "_report": {
            "workload": name,
            "seed": seed,
            "setup_rounds_s": setup_times,
            "warm_up_s": warm_up_s,
            "e2e": e2e,
            "extra": m.report,
            "failures": m.failures,
            "failed_frac": m.failed / max(1, m.attempted),
        },
    }


def print_report(res: dict, trace: bool, out=sys.stdout) -> None:
    rep = res["_report"]
    print(f"== {rep['workload']} (seed {rep['seed']})", file=out)
    print(f"   setup rounds (s): {', '.join(f'{t:.3f}' for t in rep['setup_rounds_s'])}; "
          f"untimed warm-up {rep['warm_up_s']:.3f} s", file=out)
    for k, v in rep["e2e"].items():
        print(f"   {k:<32} {v:>14.4f} {E2E_UNITS[k]}", file=out)
    for name, v, unit, n in rep["extra"]:
        ns = f"  (n={n})" if n is not None else ""
        print(f"   {name:<32} {v:>14.4f} {unit}{ns}", file=out)
    print(f"   {'failed_frac':<32} {rep['failed_frac']:>14.4f}  "
          f"({res['failed']}/{res['attempted']})", file=out)
    for f in rep["failures"][:20]:
        print(f"   FAILED: {f}", file=out)
    if trace:
        for k, v in res["metrics"].items():
            print(f"   {k:<48} {v['value']:>16.6f} {v['unit']}", file=out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # on SIGTERM, unwind through run_workload's cleanup (stop the JVM,
    # remove the work dir) instead of dying on the spot
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print_report(res, bool(args.trace))
    res.pop("_report")
    sys.stdout.flush()
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
