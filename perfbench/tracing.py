"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources of per-layer numbers, all driven from the benchmark's own
files and none from inside the engine:

* :class:`Tracer` records spans around calls into the engine's public
  functions. :meth:`Tracer.wrap` rebinds EVERY alias of a function under
  ``sys.modules["kinesis_datastore_app_spark.*"]``: operator modules
  import ``catalog.table`` at load time, so patching only the defining
  module would miss their calls.
* :class:`SparkStats` reads the Spark status store (jobs, stages, task
  metrics) and a ``QueryExecutionListener`` (the ``QueryPlanningTracker``
  phases of every query the op ran), between a :meth:`~SparkStats.mark`
  and a :meth:`~SparkStats.take`.
* The workloads add streaming progress and txnlog file counts themselves.

Spans are kept in memory and written out once, at exit.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict

PKG = "kinesis_datastore_app_spark"


class Tracer:
    """In-memory span recorder. ``enabled`` is flipped per op so traced
    and untraced ops interleave in one run (tracing overhead = traced
    minus untraced op time); a disabled wrapper costs one flag test."""

    def __init__(self) -> None:
        self.enabled = False
        self.op_id: object = "setup"
        self.spans: list[dict] = []
        self.calls: dict[str, int] = defaultdict(int)
        self.errors: dict[str, int] = defaultdict(int)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def _stack(self) -> list[int]:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, module: str, attr: str, name: str | None = None) -> int:
        """Replace every binding of ``module.attr`` in the engine's loaded
        modules with a span-recording wrapper; return how many bindings
        were replaced. Load every engine module before calling this."""
        target = getattr(sys.modules[module], attr)
        label = name or f"{module.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(target)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return target(*args, **kwargs)
            with self.span(label):
                return target(*args, **kwargs)

        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for k, v in list(vars(mod).items()):
                if v is target:
                    setattr(mod, k, wrapper)
                    n += 1
        return n

    def op_spans(self, name: str) -> dict[object, list[dict]]:
        out: dict[object, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["name"] == name:
                out[s["op"]].append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: each span's duration minus the
        part of its interval that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": self.spans,
                    "calls": dict(self.calls),
                    "errors": dict(self.errors),
                    "self_s": self.self_times(),
                },
                f,
                default=str,
            )


class _Span:
    __slots__ = ("t", "name", "rec")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name, self.rec = tracer, name, None

    def __enter__(self):
        t = self.t
        stack = t._stack()
        with t._lock:
            sid = t._next_id
            t._next_id += 1
            t.calls[self.name] += 1
        self.rec = {
            "id": sid,
            "name": self.name,
            "parent": stack[-1] if stack else None,
            "op": t.op_id,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        stack.append(sid)
        return self

    def __exit__(self, exc_type, exc, tb):
        rec = self.rec
        rec["end"] = time.perf_counter()
        self.t._stack().pop()
        with self.t._lock:
            if exc_type is not None:
                self.t.errors[self.name] += 1
                rec["error"] = exc_type.__name__
            self.t.spans.append(rec)
        return False


class SparkStats:
    """Per-op Spark-side counters: jobs, tasks, executor run/CPU time,
    shuffle and spill bytes from the status store (works with the UI
    disabled), and planning time from the ``QueryPlanningTracker`` of
    every query execution that finished during the op."""

    _PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._lock = threading.Lock()
        self._planning_ms = 0
        ensure_callback_server_started(self._sc._gateway)
        self._listener = _PlanningListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)
        self._next_job = 0
        self.mark()

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _new_jobs(self) -> list[int]:
        """Job ids are allocated in sequence; probe forward from the last
        one seen (micro-batch jobs carry the stream's job group, so the
        group-less job listing would miss them)."""
        out = []
        misses = 0
        while misses < 3:
            try:
                self._store.job(self._next_job)
                out.append(self._next_job)
                misses = 0
            except Exception:  # not (yet) a job id
                misses += 1
            self._next_job += 1
        self._next_job -= misses
        return out

    def mark(self) -> None:
        """Forget everything that happened before now."""
        self._drain()
        self._new_jobs()
        with self._lock:
            self._planning_ms = 0

    def take(self) -> dict[str, float]:
        """Totals since the last mark/take."""
        self._drain()
        new = self._new_jobs()
        stages: set[int] = set()
        for j in new:
            try:
                ids = self._conv.asJava(self._store.job(j).stageIds())
            except Exception:  # job evicted from the status store
                continue
            stages.update(int(s) for s in ids)
        out = dict.fromkeys(
            ("tasks", "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"),
            0.0,
        )
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # stage never attempted (skipped) or evicted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        with self._lock:
            out["planning_s"] = self._planning_ms / 1e3
            self._planning_ms = 0
        out["jobs_per_op"] = len(new)
        return out

    def close(self) -> None:
        try:
            self._spark._jsparkSession.listenerManager().unregister(self._listener)
        except Exception:  # session already stopped
            pass

    def _on_query(self, qe) -> None:
        phases = qe.tracker().phases()
        ms = sum(phases.apply(p).durationMs() for p in self._PHASES if phases.contains(p))
        with self._lock:
            self._planning_ms += ms


class _PlanningListener:
    """py4j implementation of ``QueryExecutionListener``."""

    def __init__(self, stats: SparkStats) -> None:
        self._stats = stats

    def onSuccess(self, func_name, qe, duration_ns):
        self._stats._on_query(qe)

    def onFailure(self, func_name, qe, exception):
        self._stats._on_query(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
