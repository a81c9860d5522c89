"""Spans and counters around the calls into each layer of the engine.

The tracer lives entirely in the benchmark: it wraps the engine's public
functions from outside (rebinding every module attribute that refers to
them, so ``from ..catalog import table`` call sites are covered too),
counts py4j commands at ``GatewayClient.send_command``, and attributes
Spark jobs to ops through job groups. Spans stay in memory and are
written once, at exit.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

from metrics import self_times


class Tracer:
    """In-memory span recorder. Disabled, every hook is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.op_id: str | None = None
        self.py4j_calls = 0
        self._count_py4j = False

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "op": self.op_id, "start": start,
                               "end": time.perf_counter()})

    @contextmanager
    def counting_py4j(self):
        """Count py4j commands sent while the block runs."""
        self._count_py4j = self.enabled
        try:
            yield
        finally:
            self._count_py4j = False

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def install(self, targets: dict[str, tuple[object, str]],
                package: str) -> None:
        """Replace each target function with a span-recording wrapper in
        every loaded module of ``package`` that binds it by name.
        ``targets`` maps span name -> (module, attribute)."""
        if not self.enabled:
            return
        for span_name, (mod, attr) in targets.items():
            orig = getattr(mod, attr)
            wrapped = self.wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith(package):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)

    def install_py4j_counter(self) -> None:
        if not self.enabled:
            return
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(client, *args, **kwargs):
            if tracer._count_py4j:
                tracer.py4j_calls += 1
            return orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    def self_time_by_name(self, op_ids: set[str] | None = None) -> dict[str, float]:
        """Total self time per span name, over the spans of ``op_ids``."""
        st = self_times(self.spans)
        out: dict[str, float] = {}
        for s in self.spans:
            if op_ids is None or s["op"] in op_ids:
                out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
        return out

    def inclusive_by_name(self, op_ids: set[str] | None = None) -> dict[str, tuple[int, float]]:
        """(calls, inclusive seconds) per span name; a span nested inside
        a span of the same name is counted as a call but adds no time."""
        by_id = {s["id"]: s for s in self.spans}
        out: dict[str, tuple[int, float]] = {}
        for s in self.spans:
            if op_ids is not None and s["op"] not in op_ids:
                continue
            n, t = out.get(s["name"], (0, 0.0))
            p, nested = s["parent"], False
            while p is not None:
                if by_id[p]["name"] == s["name"]:
                    nested = True
                    break
                p = by_id[p]["parent"]
            out[s["name"]] = (n + 1, t + (0.0 if nested else s["end"] - s["start"]))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkCounters:
    """Per-op Spark facts: jobs, stages and tasks from the status tracker,
    task metrics from the JVM AppStatusStore (populated with the UI off).
    Jobs are found through the job group the op ran under."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, group: str) -> dict[str, float]:
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
             "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"), 0.0)
        stages = set()
        for j in self.tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


class StreamProgress:
    """StreamingQueryListener that keeps every micro-batch's progress.
    Events arrive on the py4j callback thread, hence the lock."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        self.started = 0
        self.terminated = 0
        self.lock = threading.Lock()
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.lock:
                    outer.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                batch = {
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
                with outer.lock:
                    outer.batches.append(batch)

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated += 1

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def drain(self, timeout_s: float = 10.0) -> None:
        """Wait until every started query's termination event arrived;
        listener events are delivered asynchronously."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self.lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.01)

    def take(self) -> list[dict]:
        self.drain()
        with self.lock:
            out, self.batches = self.batches, []
        return out


class OpRun:
    """One timed op. Traced, it opens the op's spans, counts py4j
    commands inside ``fn()`` and attributes Spark jobs to the op through
    two job groups: ``<op>.build`` (jobs started while the op builds)
    and ``<op>.exec`` (jobs of the final execution)."""

    def __init__(self, op: dict, tracer, counters):
        self.op = op
        self.traced = op["traced"]
        self.tracer = tracer
        self.counters = counters

    def span(self, name: str):
        return self.tracer.span(name) if self.traced else nullcontext()

    def py4j(self):
        return self.tracer.counting_py4j() if self.traced else nullcontext()

    def exec_phase(self) -> None:
        if self.traced:
            self.counters.set_group(self.op["id"] + ".exec")

    def __call__(self, body):
        """Time ``body()``; an exception marks the op failed."""
        op, tr = self.op, self.tracer
        if self.traced:
            tr.op_id, tr.py4j_calls = op["id"], 0
            self.counters.set_group(op["id"] + ".build")
        out = None
        t0 = time.perf_counter()
        try:
            with self.span("op"):
                out = body()
        except Exception as e:  # noqa: BLE001 - a failed op is recorded, not fatal
            op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        op["s"] = time.perf_counter() - t0
        print(f"  op {op['id']} {op['s']:.3f}s {op['error'] or ''}"[:200],
              file=sys.stderr, flush=True)
        if self.traced:
            tr.op_id = None
            self.counters.set_group("idle")
            op["py4j_calls"] = tr.py4j_calls
            build = self.counters.collect(op["id"] + ".build")
            exe = self.counters.collect(op["id"] + ".exec")
            op["eager_jobs"] = build["jobs"]
            op["spark"] = {k: build[k] + exe[k] for k in build}
            op["spark_exec_run_s"] = exe["executor_run_s"]
        return out
