"""Spans, Spark's own counters and process memory for the benchmark.

A span is recorded around each call the benchmark makes into a module's
public functions: name, start, end, parent span and run id. Spans stay in
memory and are written out when the run ends. After each traced action the
tracer reads Spark's counters over py4j: task metrics of every stage the
action's jobs ran (status store) and SQL operator metrics of the
QueryExecution that actually ran. Its own bookkeeping is a span too
(``trace``), so the tracing overhead is measured, not estimated.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable, NamedTuple

# planning phases of Spark's QueryPlanningTracker; analysis runs eagerly
# while the DataFrame is built, the other two inside the action
_PHASES = {"analysis": "build", "optimization": "exec", "planning": "exec"}


class Call(NamedTuple):
    """A library function or method to record a span around while tracing:
    ``owner.attr`` (a module or a class), the span's name, and an optional
    hook that receives the call's result."""
    owner: object
    attr: str
    span: str
    on_result: Callable | None = None


class Tracer:
    """In-memory span recorder. Disabled, every method is a no-op, so the
    untraced run executes the same benchmark code without the bookkeeping."""

    def __init__(self, enabled: bool, run_id: str, spark=None):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.notes: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._group = 0
        self._last_build: dict | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if name == "build":
            self._last_build = rec
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def traced_calls(self, calls: list[Call]):
        """Replace each call's ``owner.attr`` with a wrapper that records a
        span around it, and restore the originals on exit. The benchmark
        calls the library's own composites (``sources.validate_table``,
        ``variant.validate_json_auto``) traced or not; the wrappers give
        their inner steps a span each. While the tracer is disabled a
        wrapper only enters the no-op span."""
        saved = []
        try:
            for c in calls:
                raw = vars(c.owner)[c.attr]
                saved.append((c.owner, c.attr, raw))
                setattr(c.owner, c.attr, self._wrap(getattr(c.owner, c.attr), raw, c))
            yield
        finally:
            for owner, attr, raw in reversed(saved):
                setattr(owner, attr, raw)

    def _wrap(self, fn, raw, call: Call):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(call.span):
                result = fn(*args, **kwargs)
            if call.on_result is not None and self.enabled:
                call.on_result(result)
            return result
        # fn is already bound to its class; keep the wrapper unbound too
        return staticmethod(wrapper) if isinstance(raw, (classmethod, staticmethod)) else wrapper

    def _child(self, name: str, parent: dict, seconds: float) -> None:
        """A span Spark timed itself (a planning phase), nested in ``parent``."""
        self.spans.append({
            "id": len(self.spans), "name": name, "run": self.run_id, "parent": parent["id"],
            "start": parent["start"], "end": parent["start"] + seconds,
        })

    def add(self, name: str, value: float) -> None:
        """An additive counter, reported per operation."""
        if self.enabled:
            self.counters[name] += value

    def note(self, name: str, value: float) -> None:
        """A ratio or level, reported as its mean over the operations that
        noted it."""
        if self.enabled:
            self.notes[name].append(value)

    @contextmanager
    def operation(self, name: str):
        """Root span of one benchmark operation; its Spark jobs share a job
        group so their stages can be found again in the status store."""
        self._group += 1
        self._last_build = None
        group = f"{self.run_id}-{self._group}"
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, name)
        with self.span(f"op.{name}"):
            start = time.perf_counter()
            yield
            wall = time.perf_counter() - start
            if self.enabled and self.spark is not None:
                with self.span("trace"):
                    self._stage_counters(group, wall)

    def collect(self, df) -> list:
        """``df.collect()`` as the ``exec`` span; with tracing on, attach the
        planning phases and operator metrics of the QueryExecution it ran.
        Its analysis phase goes under the operation's latest ``build`` span,
        where the DataFrame was constructed."""
        with self.span("exec"):
            rows = df.collect()
        if self.enabled:
            exec_span = self.spans[-1]
            with self.span("trace"):
                self._plan_counters(df, exec_span, self._last_build)
        return rows

    # -- Spark's counters ------------------------------------------------
    def _stage_counters(self, group: str, wall: float) -> None:
        sc = self.spark.sparkContext
        run_ms = 0
        for sd in completed_stages(sc, group):
            run_ms += sd.executorRunTime()
            self.add("exec.stages", 1)
            self.add("exec.tasks", sd.numTasks())
            self.add("exec.run_s", sd.executorRunTime() / 1e3)
            self.add("exec.cpu_s", sd.executorCpuTime() / 1e9)
            self.add("exec.gc_s", sd.jvmGcTime() / 1e3)
            if sd.numTasks() == 1:
                self.add("exec.single_task_stage_s", sd.executorRunTime() / 1e3)
            self.add("exec.input_bytes", sd.inputBytes())
            self.add("exec.shuffle_write_bytes", sd.shuffleWriteBytes())
            self.add("exec.shuffle_read_bytes", sd.shuffleReadBytes())
            self.add("exec.shuffle_write_s", sd.shuffleWriteTime() / 1e9)
            self.add("exec.shuffle_fetch_wait_s", sd.shuffleFetchWaitTime() / 1e3)
            self.add("exec.spill_bytes", sd.memoryBytesSpilled() + sd.diskBytesSpilled())
        cores = sc.defaultParallelism
        self.note("exec.core_busy_share", run_ms / 1e3 / (wall * cores) if wall > 0 else 0.0)

    def _plan_counters(self, df, exec_span: dict, build: dict | None) -> None:
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            where = _PHASES.get(kv._1())
            parent = exec_span if where == "exec" else build
            if parent is not None:
                self._child(f"plan.{kv._1()}", parent, kv._2().durationMs() / 1e3)
        for node in _plan_nodes(qe.executedPlan()):
            metrics = {}
            mit = node.metrics().iterator()
            while mit.hasNext():
                kv = mit.next()
                metrics[kv._1()] = kv._2().value()
            if "pipelineTime" in metrics:
                self.add("exec.codegen_pipeline_s", metrics["pipelineTime"] / 1e3)
            if "collectTime" in metrics and "dataSize" in metrics:
                self.add("exec.broadcast_bytes", metrics["dataSize"])
                self.add("exec.broadcast_collect_s", metrics["collectTime"] / 1e3)
            if "pythonTotalTime" in metrics:
                self.add("exec.python_run_s", metrics["pythonTotalTime"] / 1e3)
                self.add("exec.python_boot_s", metrics.get("pythonBootTime", 0) / 1e3)
                self.add("exec.python_bytes_sent", metrics.get("pythonDataSent", 0))
                self.add("exec.python_bytes_returned", metrics.get("pythonDataReceived", 0))

    # -- reports -----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the time of its children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def completed_stages(sc, group: str):
    """Status-store data of every completed stage of one job group's jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        info = sc.statusTracker().getJobInfo(job)
        for stage in (info.stageIds if info else []):
            sd = store.lastStageAttempt(stage)
            if sd.status().toString() == "COMPLETE":
                yield sd


def task_cpu_s(spark, action, group: str) -> float:
    """Run ``action`` under job group ``group`` (a name not used before) and
    return the CPU seconds its tasks took: the plan's own work, without
    planning, scheduling, JIT compilation or time the host stole."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    action()
    return sum(sd.executorCpuTime() for sd in completed_stages(sc, group)) / 1e9


def _plan_nodes(plan):
    """Every physical operator of an executed plan, through AQE stages,
    reused exchanges and subqueries."""
    todo, seen = [plan], 0
    while todo and seen < 10_000:
        node = todo.pop()
        seen += 1
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        for seq in (node.children(), node.subqueries()):
            it = seq.iterator()
            while it.hasNext():
                todo.append(it.next())


_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _family() -> list[int]:
    """This process and all its descendants: the driver JVM, the Python
    worker daemon and its workers."""
    parents = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        parents[int(pid)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    family, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        family += kids
        frontier += kids
    return family


def _cpu_ticks(stat: bytes, children: bool) -> int:
    fields = stat[stat.rindex(b")") + 2:].split()
    return sum(int(x) for x in fields[11:15 if children else 13])


def family_cpu_s() -> float:
    """CPU seconds charged so far to this process, its descendants and their
    reaped children, less the JVM's JIT compiler threads: when the JIT
    compiles is up to the JVM, and that work lands on whichever operation
    happens to be running. Time the hypervisor steals is not in it."""
    total = 0
    for pid in _family():
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                total += _cpu_ticks(f.read(), children=True)
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm", "rb") as f:
                    if not f.read().startswith((b"C1 Compiler", b"C2 Compiler")):
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                    total -= _cpu_ticks(f.read(), children=False)
        except OSError:
            continue
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this machine so far,
    summed over its CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat", "rb") as f:
        return int(f.readline().split()[8]) / _TICK


class RssSampler:
    """Peak summed RSS of this process and all its descendants, sampled from
    /proc on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in _family():
            try:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)
