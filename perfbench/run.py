"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload {ingest,query_mix} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It starts one Spark driver with
``SPARK_GRAFT_CPUS`` = the machine's core count and a fresh scratch
root, sets the workload up ``SETUP_ROUNDS`` times on fresh paths (first
touches, bootstrap, one warm-up op; ``setup_s`` takes the median round),
runs ops for ``--seconds`` seconds after an unmeasured warm-up, checks
the results against an oracle computed independently of the engine, and
prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, from spans recorded around the
engine's public functions on every second op (the other ops run
untraced, so their difference is the tracing overhead). Spans are
written to ``.perfbench_traces/`` at exit. A correctness mismatch exits
with code 1; a traced run in which an expected wrapper saw no call exits
with code 3; a directory without the engine's package exits with code 2.
All files the run writes live under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_traces/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "kinesis_datastore_app_spark"
# set-up rounds per run: the first runs on a cold JVM, so the median is
# a warm round, and one slow round does not move setup_s
SETUP_ROUNDS = 3

WRAPPED = (
    (f"{PKG}.catalog", "table"),
    (f"{PKG}.operators.cdc", "commit_bucketed_table"),
    (f"{PKG}.operators.cdc", "append_rows"),
    (f"{PKG}.streaming.queries", "append_sink_batch"),
    (f"{PKG}.sources.kinesis_sim", "_decode_envelope"),
    (f"{PKG}.txnlog", "occ_commit"),
    (f"{PKG}.txnlog", "cas_commit"),
)

# per-layer metric -> span name whose per-op summed duration it is
SPAN_TIMES = {
    "catalog.table_s": "catalog.table",
    "registry.build_s": "registry.build",
    "cdc.append_rows_s": "cdc.append_rows",
    "txnlog.occ_commit_s": "txnlog.occ_commit",
}
# per-layer values the workloads record per traced op (Spark status store,
# table-root listings, txnlog payload diffs)
OP_VALUES = (
    "spark.planning_s",
    "spark.jobs_per_op",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "txnlog.files_written",
    "txnlog.bytes_written",
)
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "jvm.heap_live_mb": "MB",
    "catalog.table_calls": "count",
    "catalog.table_s": "s",
    "registry.build_s": "s",
    "spark.planning_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.scan_run_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "streaming.wal_commit_s": "s",
    "cdc.append_rows_s": "s",
    "txnlog.occ_commit_s": "s",
    "txnlog.cas_attempts": "count",
    "txnlog.cas_retries": "count",
    "txnlog.files_written": "count",
    "txnlog.bytes_written": "bytes",
    "trace.overhead_s": "s",
}


class Context:
    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.sf = args.sf
        self.fault = args.inject_fault
        self.setup_rounds = SETUP_ROUNDS
        self.work = work
        self.spark = None
        self.tracer = None
        self.stats = None

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _driver_mem_mb(spark) -> tuple[float, float]:
    """(driver memory, JVM live heap) in MB after the measured ops. Driver
    memory is the Python driver's peak RSS plus the JVM's non-heap use
    (metaspace, code cache). The JVM heap is reported apart: even after a
    full GC it still holds blocks (broadcasts, shuffle state) that Spark's
    cleaner frees asynchronously, so it reads 76 or 265 MB on the same
    workload, and the JVM's RSS follows when the collector grew the
    heap."""
    with open("/proc/self/status") as f:
        py_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return (
        py_kb / 1024.0 + mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        mx.getHeapMemoryUsage().getUsed() / 2**20,
    )


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(w, setup_s: float, mem_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(w.op_times) / w.elapsed, "1/s"),
        "op_p50_s": (_median(w.op_times), "s"),
        "driver_mem_mb": (mem_mb, "MB"),
    }


def per_layer(w, tracer, start_s: float, heap_mb: float) -> dict:
    ops = list(w.layer)
    spans = {n: tracer.op_spans(n) for n in {*SPAN_TIMES.values(), "txnlog.cas_commit"}}

    def per_op(fn) -> float:
        return _median(fn(op) for op in ops)

    def span_sum(name):
        return lambda op: sum(s["end"] - s["start"] for s in spans[name].get(op, ()))

    cas = spans["txnlog.cas_commit"]
    vals: dict[str, float] = {
        "session.start_s": start_s,
        "jvm.heap_live_mb": heap_mb,
        "catalog.table_calls": per_op(lambda op: len(spans["catalog.table"].get(op, ()))),
        "txnlog.cas_attempts": per_op(lambda op: len(cas.get(op, ()))),
        "txnlog.cas_retries": per_op(lambda op: sum("error" in s for s in cas.get(op, ()))),
    }
    for metric, name in SPAN_TIMES.items():
        vals[metric] = per_op(span_sum(name))
    for metric in OP_VALUES:
        vals[metric] = _median(w.layer[op][metric] for op in ops if metric in w.layer[op])
    # streaming progress, per measured micro-batch (ingest only)
    prog = [w.progress[b] for b in getattr(w, "batch_ids", ()) if b in w.progress]
    ms = [p["durationMs"] for p in prog]
    vals["streaming.trigger_s"] = _median(d.get("triggerExecution", 0) / 1e3 for d in ms)
    vals["streaming.add_batch_s"] = _median(d.get("addBatch", 0) / 1e3 for d in ms)
    vals["streaming.overhead_s"] = _median(
        (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3 for d in ms
    )
    vals["streaming.wal_commit_s"] = _median(d.get("walCommit", 0) / 1e3 for d in ms)
    vals["sources.scan_run_s"] = _median(
        (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3 for d in ms
    )
    vals["sources.input_rows"] = _median(p["numInputRows"] for p in prog)
    traced = [t for t, on in zip(w.op_times, w.op_traced) if on]
    plain = [t for t, on in zip(w.op_times, w.op_traced) if not on]
    vals["trace.overhead_s"] = _median(traced) - _median(plain)
    return {k: (vals[k], u) for k, u in PER_LAYER_UNITS.items()}


def _stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _timeout(signum, frame):
    raise TimeoutError("perfbench: run exceeded its time limit")


def run(args) -> int:
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(170)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    for d in ("tmp", "spark-local", "scratch"):
        os.makedirs(os.path.join(work, d))
    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    # everything the engine, Spark and Python write goes under `work`;
    # these are read when the engine modules are first imported
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # for the driver JVM and spark-submit's launcher JVM: no hsperfdata
    # file under /tmp, and Java temp files in the work directory
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    # Python workers import the engine too, whatever the caller's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    ctx = Context(args, work)
    import workloads

    w = None
    result = None
    code = 0
    try:
        t0 = time.perf_counter()
        from kinesis_datastore_app_spark import registry
        from kinesis_datastore_app_spark.session import get_spark

        registry.load_all()
        ctx.spark = get_spark(
            cpus=cpus,
            extra_conf={
                "spark.driver.extraJavaOptions": jvm_opts,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        start_s = time.perf_counter() - t0
        if args.trace:
            import tracing as tr

            ctx.tracer = tr.Tracer()
            for mod, attr in WRAPPED:
                if ctx.tracer.wrap(mod, attr) == 0:
                    raise RuntimeError(f"wrapper bound no alias of {mod}.{attr}")
            ctx.stats = tr.SparkStats(ctx.spark)
            ctx.tracer.enabled = True  # set-up calls count toward the zero-call check
        w = workloads.WORKLOADS[args.workload](ctx)
        rounds = []
        for rnd in range(SETUP_ROUNDS):
            if rnd:
                w.end_round()
            t = time.perf_counter()
            w.setup(rnd)
            rounds.append(time.perf_counter() - t)
        setup_s = start_s + statistics.median(rounds)
        if ctx.tracer is not None:
            ctx.tracer.enabled = False
        w.measure(args.seconds)
        mem_mb, heap_mb = _driver_mem_mb(ctx.spark)
        t = time.perf_counter()
        correct = w.check()
        check_s = time.perf_counter() - t
        if args.trace:
            missing = [n for n in w.expected_calls if ctx.tracer.calls.get(n, 0) == 0]
            if missing:
                ctx.log(f"expected wrappers recorded zero calls: {missing}")
                return 3
            metrics = per_layer(w, ctx.tracer, start_s, heap_mb)
            if args.workload != "query_mix" and ctx.tracer.calls.get("catalog.table", 0):
                ctx.log("prediction missed: catalog.table was called")
            tdir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(tdir, exist_ok=True)
            ctx.tracer.dump(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(w, setup_s, mem_mb)
        ctx.log(
            f"{args.workload}: {len(w.op_times)} ops in {w.elapsed:.2f} s, "
            f"set-up {setup_s:.2f} s (start {start_s:.2f} s, rounds "
            f"{[round(t, 2) for t in rounds]}), check {check_s:.2f} s, "
            f"op times {[round(t, 2) for t in w.op_times]}"
        )
        result = {
            "correct": bool(correct),
            "attempted": int(w.attempted),
            "failed": int(w.failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        code = 0 if correct else 1
    finally:
        if w is not None:
            w.close()
        if ctx.stats is not None:
            ctx.stats.close()
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
    print(json.dumps(result))
    return code


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1, help="query_mix corpus scale factor")
    p.add_argument(
        "--inject-fault",
        choices=("skip_ingest_batch",),
        default=None,
        help="self-test of the correctness check: drop one ingest micro-batch",
    )
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
