"""Benchmark of the shopping analytics engine, driven only through the
engine's public functions.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads (``workloads.json`` records why
each was chosen, its loop type, input sizes and which end-to-end metric
each layer metric should move):

- ``ingest_live``: an open-loop generator drops order files while the
  streaming consumer and incremental gold run and one dashboard client
  refreshes in a closed loop; ends with a backlog catch-up.
- ``batch_curation``: one client runs passes over registry queries that
  span the operator modules, against seeded fixtures.

Standard output ends with two JSON lines. The first is the full report:
environment, sizes, every metric under its own name with tails and
sample counts, failures, and with ``--trace 1`` per-layer self times and
the spans file. The last line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.

Everything the run writes stays under ``perfbench/.work``. The Spark
session is pinned to ``nproc`` cores through ``SPARK_GRAFT_CPUS``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_live", "batch_curation")


def _per_layer_metrics() -> dict[str, str]:
    """Name -> unit of every per-layer metric, from BENCHMARK.json. Each
    must have an entry in ``workloads.json``'s ``layer_map``, whose keys
    may end in ``.*`` to cover a family (one metric per chart or query)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    with open(os.path.join(HERE, "workloads.json")) as fh:
        layer_map = json.load(fh)["layer_map"]
    families = tuple(k[:-1] for k in layer_map if k.endswith(".*"))
    unmapped = [m for m in metrics if m not in layer_map and not m.startswith(families)]
    if unmapped:
        raise KeyError(f"per-layer metrics missing from workloads.json layer_map: {unmapped}")
    return metrics


class Context:
    """What a workload reads (session, seed, seconds) and fills in
    (counts, metrics, report)."""

    def __init__(self, args, spark, tracer, jobs, work):
        self.spark, self.tracer, self.jobs, self.work = spark, tracer, jobs, work
        self.seed, self.seconds = args.seed, args.seconds
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer_counts: dict[str, float] = {}
        self.report: dict = {}
        self._w0 = self._gc0 = None
        self.window_s = self.gc_s = 0.0
        self.jvm_hwm_mb = self.python_hwm_mb = 0.0

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def start_window(self) -> None:
        from harness import jvm_gc_s

        self._w0, self._gc0 = time.perf_counter(), jvm_gc_s(self.spark)

    def window_elapsed(self) -> float:
        return time.perf_counter() - self._w0

    def end_window(self) -> None:
        from harness import jvm_gc_s

        self.window_s = self.window_elapsed()
        self.gc_s = jvm_gc_s(self.spark) - self._gc0


def _pin_environment(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # keep every temporary file of this process, the JVM and the Python
    # workers inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None


def _start_spark(work: str):
    from streamlit_projet_spark_streaming_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end, even when the
    gateway is already broken (the run was terminated mid-call)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _layer_metrics(ctx, wanted: dict[str, str], get_spark_s: float, spans_path: str) -> dict:
    """Every per-layer metric of BENCHMARK.json: self seconds per layer from
    the spans, session figures, and the counters the workload filled in.
    A layer or counter the workload never reaches reads 0."""
    from harness import span_cost_s

    tr = ctx.tracer
    self_s = tr.self_times()
    overhead_s = len(tr.spans) * span_cost_s()
    ctx.report.update({
        "layer_self_s": self_s,
        "spans": len(tr.spans),
        "spans_file": os.path.relpath(spans_path, ROOT),
        "tracing_overhead_s": overhead_s,
    })
    values = {
        "session.get_spark_s": get_spark_s,
        "session.jvm_gc_s": ctx.gc_s,
        "session.jvm_hwm_mb": ctx.jvm_hwm_mb,
        "session.python_hwm_mb": ctx.python_hwm_mb,
        "benchmark.tracing_overhead_s": overhead_s,
        **{f"{layer}.self_s": s for layer, s in self_s.items()},
        **ctx.layer_counts,
    }
    unknown = set(values) - set(wanted)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json per_layer: {sorted(unknown)}")
    return {name: (values.get(name, 0), unit) for name, unit in wanted.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [ROOT, HERE]
    try:
        import streamlit_projet_spark_streaming_spark.session  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    import harness

    per_layer = _per_layer_metrics()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".work", "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    _pin_environment(work)

    steal0, ticks0 = harness.host_cpu_ticks()
    tracer = harness.Tracer(bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("session", "get_spark", op="session"):
        spark = _start_spark(work)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = Context(args, spark, tracer, harness.JobCounter(spark), work)
        if args.workload == "ingest_live":
            import ingest_live as workload
        else:
            import batch_curation as workload
        workload.run(ctx)
        wall_s = time.perf_counter() - T_PROCESS
        ctx.jvm_hwm_mb = harness.vm_hwm_mb(harness.jvm_pid(spark))
        ctx.python_hwm_mb = harness.vm_hwm_mb()
        steal1, ticks1 = harness.host_cpu_ticks()
    finally:
        try:
            _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    ctx.e2e["setup_s"] = statistics.median(ctx.report["setup_s_each"])
    e2e = {k: (v, "s") for k, v in ctx.e2e.items()}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "env": harness.env_record(),
        "attempted": ctx.attempted, "failed": ctx.failed,
        "failed_ops_ratio": ctx.failed / max(1, ctx.attempted),
        "errors": ctx.errors, "window_s": ctx.window_s,
        "session_get_spark_s": get_spark_s, "jvm_gc_s": ctx.gc_s, "wall_s": wall_s,
        "peak_rss_mb": ctx.jvm_hwm_mb + ctx.python_hwm_mb,
        "host_steal_pct": 100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    }
    if args.trace:
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(spans_path)
        metrics = _layer_metrics(ctx, per_layer, get_spark_s, spans_path)
    else:
        metrics = e2e
    report.update(ctx.report)
    line = json.dumps(report, default=float)
    with open(os.path.join(out_dir, f"report-{args.workload}-{args.seed}-{args.trace}.json"), "w") as fh:
        fh.write(line + "\n")
    print(line)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
