"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload clips_typed --seed 1 --seconds 5 --trace 0

Run from the repository root. One run is one fresh process. It starts a
``local[<cores>]`` Spark session and materializes the workload's seeded
inputs; that set-up is done three times (two session restarts) and
``setup_s`` is the median of their CPU time, scaled by the reference job.
Then one client issues the workload's operations one after another (a
closed loop): untimed warm-up passes over the operation kinds, then timed
passes until ``--seconds`` have passed, at least ``TIMED_PASSES`` of them.
Every answer is checked outside the timed region. The run prints one line
per operation kind and, as its last line, a JSON object ``{"correct",
"attempted", "failed", "metrics"}``: with ``--trace 0`` the end-to-end
metrics of BENCHMARK.json, with ``--trace 1`` its per-layer metrics, from
spans and Spark's own counters.

Scratch files (inputs, Spark local dirs, temporary outputs) live under
``.perfbench_work/`` in the repository and are removed at exit; traced runs
leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_SAMPLES = 3
WARM_UP_PASSES = 2  # one leaves the JIT mid-way: the next pass still ran 1.5-2x faster
TIMED_PASSES = 2  # at least; each kind's best timed operation is its figure
SPANS_DIR = os.path.join(ROOT, ".perfbench_out")  # traced runs write their spans here
# the reference job's best wall time on the quiet measuring VM: setup_s is
# given for a machine that fast
REF_NOMINAL_S = 0.25
DRIVER_MEMORY = "3g"  # the whole local-mode engine; fits a 15 GB box with room to spare

# span name -> per-layer metric (self time per operation)
SPAN_METRICS = {
    "schema.parse": "schema.parse_s",
    "resolver.resolve": "resolver.resolve_s",
    "compiler.compile": "compiler.compile_s",
    "variant.compile": "variant.compile_s",
    "build": "build_s",
    "plan.analysis": "plan.analysis_s",
    "plan.optimization": "plan.optimization_s",
    "plan.planning": "plan.planning_s",
    "exec": "exec.wall_s",
    "sources.read": "sources.read_s",
    "sources.write": "sources.write_s",
    "manifest.run": "manifest.run_s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str):
    from jsschema_spark.session import build_session

    cores = len(os.sched_getaffinity(0))
    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            # fixed compiler threads, so family_cpu_s can leave their CPU out;
            # a fixed heap and young generation, so GC work does not depend
            # on how the heap happened to grow
            "spark.driver.extraJavaOptions": " ".join([
                "-XX:+UseParallelGC", "-XX:-UsePerfData",
                "-XX:-UseDynamicNumberOfCompilerThreads",
                f"-Xms{DRIVER_MEMORY}", "-XX:-UseAdaptiveSizePolicy",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            ]),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait for it: the
    JVM exits when its stdin closes; the Python workers end with the
    session."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


@dataclass
class Op:
    kind: str
    warm_up: bool
    rows: int = 0
    answer: object = None
    wall_s: float | None = None  # less the share of one CPU stolen meanwhile
    cpu_s: float | None = None
    error: str | None = None


def measure(wl, tr, seconds: float) -> tuple[list[Op], float, int]:
    """The closed loop: passes over the operation kinds, one operation at a
    time. The first ``WARM_UP_PASSES`` warm the JVM, the codegen cache and
    the Python workers and are not timed. Timed passes follow until
    ``seconds`` have passed, at least ``TIMED_PASSES``: every kind gets the
    same number of timed operations, and its best comes from the same point
    of the JIT's progress in every run. Returns (ops, timed wall, peak RSS
    in bytes of a traced run)."""
    from spans import RssSampler, family_cpu_s, steal_s

    kinds = wl.kinds()
    traced, tr.enabled = tr.enabled, False
    ops: list[Op] = []

    def one(kind, warm_up):
        op = Op(kind, warm_up)
        cpu0, steal0 = family_cpu_s(), steal_s()
        t0 = time.perf_counter()
        try:
            with tr.operation(op.kind):
                op.rows, op.answer = wl.run(op.kind, tr, len(ops))
            op.wall_s = (time.perf_counter() - t0
                         - (steal_s() - steal0) / os.cpu_count())
            op.cpu_s = family_cpu_s() - cpu0
            if not warm_up and wl.kind_metric(op.kind):
                tr.note(wl.kind_metric(op.kind), op.wall_s)
        except Exception as e:  # one failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            op.error = f"{type(e).__name__}: {e}"
        print(f"op {op.kind} wall {op.wall_s} cpu {op.cpu_s}", file=sys.stderr)
        ops.append(op)

    # the sampler's own CPU would land on the operations: only traced runs sample
    with RssSampler() if traced else contextlib.nullcontext() as rss:
        for k in kinds * WARM_UP_PASSES:
            one(k, warm_up=True)
        tr.enabled = traced
        start = time.perf_counter()
        passes = 0
        while passes < TIMED_PASSES or time.perf_counter() - start < seconds:
            for k in kinds:
                one(k, warm_up=False)
            passes += 1
    return ops, time.perf_counter() - start, rss.peak_bytes if traced else 0


def run(args, work: str) -> dict:
    from spans import Tracer, family_cpu_s
    from workloads import WORKLOADS, Reference, traced_calls

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    wl = WORKLOADS[args.workload](args.seed, work)

    setup_s, spark = [], None
    try:
        for _ in range(SETUP_SAMPLES):
            if spark is not None:
                spark.stop()
            cpu0 = family_cpu_s()
            spark = start_session(work)
            wl.setup(spark)
            setup_s.append(family_cpu_s() - cpu0)

        tr = Tracer(bool(args.trace), f"{args.workload}-{args.seed}", spark)
        with tr.traced_calls(traced_calls(tr) if args.trace else []):
            ops, timed_wall, peak_rss = measure(wl, tr, args.seconds)
        # every answer is checked outside the timed region
        for op in ops:
            if op.error is None:
                try:
                    op.error = wl.check(op.kind, op.answer)
                except Exception as e:
                    traceback.print_exc(file=sys.stderr)
                    op.error = f"check raised {type(e).__name__}: {e}"
            if op.error is not None:
                print(f"FAILED {args.workload}/{op.kind}: {op.error}", file=sys.stderr)
        keyword = wl.keyword_costs() if args.trace else {}
    finally:
        stop_jvm(spark)
    if args.trace:
        os.makedirs(SPANS_DIR, exist_ok=True)
        tr.write(os.path.join(SPANS_DIR, f"{args.workload}-{args.seed}.jsonl"))

    timed = [op for op in ops if not op.warm_up and op.error is None]
    wall = {k: min(op.wall_s for op in timed if op.kind == k) for k in wl.kinds()
            if any(op.kind == k for op in timed)}
    ref = wall.pop(Reference.KIND, None)
    cpu = {k: min(op.cpu_s for op in timed if op.kind == k) for k in wall}
    rows = {op.kind: op.rows for op in timed}
    for k in wall:
        print(f"{args.workload}/{k}: {wl.rate_name(k)}={rows[k] / wall[k]:.6g} "
              f"({sum(op.kind == k for op in timed)} ops: best {wall[k]:.4f} s wall, "
              f"best {cpu[k]:.3f} CPU s)")
    for name, (delta, spread) in keyword.items():
        print(f"{args.workload}/{name}: {delta:.6g} (spread of its repeats {spread:.6g})")

    if args.trace:
        values = layer_metrics(tr, sum(not op.warm_up for op in ops), timed_wall,
                               {k: delta for k, (delta, _) in keyword.items()})
        values["process.peak_rss_mb"] = peak_rss / 2**20
        values["reference.wall_s"] = ref or 0.0
        names = spec["per_layer"]
    else:
        # each kind weighs the same, however cheap it is
        wall_op = statistics.geometric_mean(wall.values()) if wall else 0.0
        cpu_op = statistics.geometric_mean(cpu.values()) if cpu else 0.0
        values = {}
        if ref:  # scaled by the reference job's best wall time in this run
            values["op_cpu_ref"] = cpu_op / ref
            values["setup_s"] = statistics.median(setup_s) * REF_NOMINAL_S / ref
        names = spec["end_to_end"]
        print(f"{args.workload}: setup CPU samples {[round(s, 3) for s in setup_s]} s, "
              f"timed loop {timed_wall:.2f} s, reference job {ref} s; per operation "
              f"{wall_op:.4f} s wall, {cpu_op:.4f} CPU s")
    return {
        "correct": not any(op.error for op in ops),
        "attempted": len(ops),
        "failed": sum(op.error is not None for op in ops),
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in names},
    }


def layer_metrics(tr, n_timed: int, timed_wall: float, keyword: dict) -> dict:
    n_ops = max(1, n_timed)
    self_s = tr.self_times()
    out = {metric: self_s.get(span, 0.0) / n_ops for span, metric in SPAN_METRICS.items()}
    out.update({k: v / n_ops for k, v in tr.counters.items()})
    out.update({k: statistics.fmean(v) for k, v in tr.notes.items()})
    out.update(keyword)
    layers = sum(v for k, v in self_s.items() if not k.startswith("op."))
    out["trace.coverage_share"] = layers / timed_wall
    out["trace.overhead_share"] = self_s.get("trace", 0.0) / timed_wall
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "jsschema_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {ROOT} holds no jsschema_spark checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every scratch file of the session and its workers inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    t0 = time.perf_counter()
    try:
        result = run(args, work)
        print(f"perfbench: run took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
