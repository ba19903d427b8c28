#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into plans/r07/.

Usage: python scripts/capture_plans.py <suffix> q1 q2 ...
Writes plans/r07/<q>_<suffix>.txt (suffix = before|after). Each q is a
``__spark_entry__`` query, or ``clips_validate``: bench.py's flagship step
(the clips schema over a parquet clips table, ``valid`` rows only), over a
small table written to a temporary directory that the plan text names
``<tmp>``. No timing — plan capture only, so it is safe to run against a
slow tree.
Env: PLANS_DIR (default plans/r07), SPARK_GRAFT_SF_DIR (the tables'
directory, same default as bench.py), SPARK_GRAFT_CPUS, SPARK_DRIVER_MEMORY.
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile

USAGE = "usage: python scripts/capture_plans.py <suffix> <query> [<query> ...]"


def _clips_validate(spark, tmp: str, cpus: int):
    """bench.py's clips_validate DataFrame, over 10,000 synthesized rows."""
    from pyspark.sql import functions as F

    from jsschema_spark import parse_schema
    from jsschema_spark.compiler import TableValidator
    from jsschema_spark.synth import CLIPS_DRAFT04_SCHEMA, clips_table

    src = os.path.join(tmp, "clips")
    clips_table(spark, 10_000, with_audio=False, partitions=cpus * 2).write.parquet(src)
    clips = spark.read.parquet(src)
    tv = TableValidator(parse_schema(CLIPS_DRAFT04_SCHEMA), clips.schema)
    return tv.apply(clips, with_violations=False).where(F.col("valid"))


def main() -> None:
    if len(sys.argv) < 3:
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entry_mod
    from jsschema_spark.session import build_session

    out_dir = os.environ.get("PLANS_DIR", os.path.join(repo, "plans", "r07"))
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(
        app_name="jsschema-capture-plans", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(
                p for p in [repo, os.environ.get("PYTHONPATH", "")] if p
            ),
        },
    )
    tmp = tempfile.mkdtemp(prefix="capture-plans-")
    qs = entry_mod.queries()
    qs["clips_validate"] = lambda spark, _sf: _clips_validate(spark, tmp, cpus)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    try:
        for name in names:
            if name not in qs:
                print(f"SKIP {name}: not a declared query", file=sys.stderr)
                continue
            try:
                df = qs[name](spark, sf_dir)
                text = df._jdf.queryExecution().explainString(mode).replace(tmp, "<tmp>")
            except Exception as exc:  # noqa: BLE001 - record, keep going
                text = f"EXPLAIN FAILED: {exc!r}\n"
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(text)
            print(f"wrote {name}_{suffix}.txt", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
