"""The benchmark's workloads.

Each workload materializes its inputs in ``setup`` and then serves operations
of a few kinds, one at a time (a closed loop with one client). ``run``
returns the rows the operation processed and its answer; ``check`` compares
the answer with the generator's (or the stored oracle's) outside the timed
region and returns an error message, or None when the answer is right.

Traced or not, an operation makes the same calls. The benchmark's own calls
into a module get a span each (``schema.parse``, ``build``, ``exec``,
``manifest.run``); ``traced_calls`` lists the library functions that the
composites it calls (``sources.validate_table``,
``variant.validate_json_auto``) are made of, which the tracer wraps in a span
each while a traced run lasts.
"""

from __future__ import annotations

import decimal
import itertools
import json
import math
import os
import random
import shutil
import statistics

from pyspark.sql import functions as F

from jsschema_spark import generic, parse_schema, sources, validate_value
from jsschema_spark.compiler import TableValidator
from jsschema_spark.resolver import RefResolver
from jsschema_spark.variant import JsonColumnValidator, validate_json_auto

from inputs import (
    CLIPS_KEYWORD_SCHEMAS, CLIPS_SCHEMA, FALLBACK_SCHEMA, JSON_KEYWORD_SCHEMAS,
    VARIANT_SCHEMA, write_audio, write_clips, write_docs,
)
from spans import Call, task_cpu_s

KEYWORD_REPEATS = 3
_GROUPS = itertools.count()  # job group names for the keyword-cost actions


def traced_calls(tr) -> list[Call]:
    """The library steps a traced run gives a span each, wherever they are
    called from."""
    return [
        Call(RefResolver, "with_default_providers", "resolver.resolve"),
        Call(TableValidator, "__init__", "compiler.compile"),
        Call(sources, "read_for_validation", "sources.read"),
        Call(sources, "write_violations", "sources.write"),
        Call(sources, "write_metrics", "sources.write"),
        Call(JsonColumnValidator, "try_compile", "variant.compile",
             lambda jvm: tr.note("variant.tier_share", float(jvm is not None))),
        Call(JsonColumnValidator, "apply", "build"),
        Call(generic, "validate_json_column", "build"),
    ]


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith((".parquet", ".json")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _keyword_costs(spark, run_one, schemas: dict, n_rows: int, prefix: str) -> dict:
    """metric -> (delta, spread) in task CPU ns per row: each single-keyword
    sub-schema's median over ``KEYWORD_REPEATS`` actions less the empty
    schema's, and the range of its own repeats, to read the delta against.
    Task CPU leaves out the fixed driver-side cost of each action and the
    time the host steals, which would bury a keyword's share."""
    def times(schema):
        return [task_cpu_s(spark, lambda: run_one(schema), f"keyword-{next(_GROUPS)}")
                / n_rows * 1e9 for _ in range(KEYWORD_REPEATS)]

    base = statistics.median(times({}))
    out = {}
    for kw, schema in schemas.items():
        ts = times(schema)
        out[f"{prefix}{kw}.ns_per_row"] = (statistics.median(ts) - base, max(ts) - min(ts))
    return out


class Workload:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def kinds(self) -> list[str]:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run(self, kind: str, tr, i: int):
        raise NotImplementedError

    def check(self, kind: str, answer) -> str | None:
        raise NotImplementedError

    def keyword_costs(self) -> dict:
        return {}

    def rate_name(self, kind: str) -> str:
        return f"{kind}_rows_per_s"

    def kind_metric(self, kind: str) -> str | None:
        """Per-layer metric that reports this kind's own latency, if any."""
        return None


# ---------------------------------------------------------------------------

class ClipsTyped(Workload):
    """Typed Catalyst tier over the clips parquet table: valid count,
    per-keyword summary, sinks, and a killed-then-resumed manifest run."""

    N_ROWS = 100_000
    N_BUCKETS = 4
    BUCKETS_PER_JOB = 2
    KILL_AFTER_CHUNKS = 1

    def kinds(self):
        return ["validate", "summary", "sink", "resume"]

    def setup(self, spark):
        self.spark = spark
        self.path = os.path.join(self.work, "clips")
        self.expected = write_clips(self.seed, self.N_ROWS, _fresh(self.path))
        self.df = spark.read.parquet(self.path)
        self.df.count()

    def _validator(self, tr, df):
        with tr.span("schema.parse"):
            node = parse_schema(CLIPS_SCHEMA)
        tv = TableValidator(node, df.schema)
        tr.note("compiler.predicates", len(tv.predicates))
        return tv

    def run(self, kind, tr, i):
        from jsschema_spark.manifest import Manifest, ResumableValidation

        df, n = self.df, self.N_ROWS
        if kind == "validate":
            tv = self._validator(tr, df)
            with tr.span("build"):
                q = tv.apply(df, with_violations=False).where(F.col("valid")).agg(
                    F.count(F.lit(1)).alias("n"))
            return n, tr.collect(q)[0]["n"]
        if kind == "summary":
            tv = self._validator(tr, df)
            with tr.span("build"):
                q = tv.summary(df)
            return n, tr.collect(q)
        if kind == "sink":
            out = _fresh(os.path.join(self.work, f"sink-{i}"))
            vpath, mpath = os.path.join(out, "violations"), os.path.join(out, "metrics")
            with tr.span("schema.parse"):
                node = parse_schema(CLIPS_SCHEMA)
            # self time: building the violation details and the summary
            with tr.span("build"):
                summary = sources.validate_table(self.spark, self.path, node, vpath, mpath)
            rows = tr.collect(summary)
            if tr.enabled:
                with tr.span("trace"):
                    size, files = _dir_bytes_files(out)
                    tr.add("sources.bytes_written", size)
                    tr.add("sources.files_written", files)
            return n, (rows, out)
        if kind == "resume":
            tv = self._validator(tr, df)
            out = _fresh(os.path.join(self.work, f"resume-{i}"))
            mdir, odir = os.path.join(out, "manifest"), os.path.join(out, "output")

            def job():
                return ResumableValidation(
                    tv, mdir, odir, n_buckets=self.N_BUCKETS, buckets_per_job=self.BUCKETS_PER_JOB)

            with tr.span("manifest.run"):
                try:
                    job().run(df, fail_after_chunks=self.KILL_AFTER_CHUNKS)
                    raise AssertionError("the injected failure did not fire")
                except RuntimeError as e:
                    if "injected failure" not in str(e):
                        raise
            done_before = Manifest(mdir).completed_buckets()
            with tr.span("manifest.run"):
                resumed = job().run(df)
            if tr.enabled:
                with tr.span("trace"):
                    skipped = self.N_BUCKETS - len(resumed)
                    tr.note("manifest.buckets_skipped_share",
                            skipped / len(done_before) if done_before else 0.0)
                    tr.note("manifest.rows_revalidated",
                            sum(r.n_rows for r in resumed if r.bucket in done_before))
            return n, (done_before, out)
        raise KeyError(kind)

    def check(self, kind, answer):
        from jsschema_spark.manifest import Manifest

        exp = self.expected
        if kind == "validate":
            return None if answer == exp["valid"] else f"valid {answer} != {exp['valid']}"
        if kind in ("summary", "sink"):
            rows, out = (answer, None) if kind == "summary" else answer
            err = self._check_summary(rows)
            if err is None and out is not None:
                err = self._check_sinks(rows, out)
            if out is not None:
                shutil.rmtree(out, ignore_errors=True)
            return err
        if kind == "resume":
            done_before, out = answer
            recs = Manifest(os.path.join(out, "manifest")).records()
            shutil.rmtree(out, ignore_errors=True)
            buckets = sorted(r["bucket"] for r in recs)
            if buckets != list(range(self.N_BUCKETS)):
                return f"manifest buckets {buckets}"
            if not done_before or len(done_before) == self.N_BUCKETS:
                return f"{len(done_before)} buckets done before the kill"
            n_rows = sum(r["n_rows"] for r in recs)
            n_valid = sum(r["n_valid"] for r in recs)
            if (n_rows, n_valid) != (exp["rows"], exp["valid"]):
                return f"manifest totals {(n_rows, n_valid)} != {(exp['rows'], exp['valid'])}"
            return None
        raise KeyError(kind)

    def _check_summary(self, rows):
        got = {(r["path"], r["keyword"]): r["n_violations"] for r in rows if r["n_violations"]}
        if got != self.expected["summary"]:
            return f"summary {sorted(got.items())} != {sorted(self.expected['summary'].items())}"
        if any(r["n_rows"] != self.N_ROWS for r in rows):
            return "summary n_rows"
        return None

    def _check_sinks(self, rows, out):
        """The violation sink holds one row per violation, partitioned by
        keyword; the metrics sink holds the summary. Read with pyarrow, so
        checking starts no Spark job."""
        import pyarrow.parquet as pq

        vdir = os.path.join(out, "violations")
        per_kw = {}
        for part in os.listdir(vdir):
            if part.startswith("keyword="):
                per_kw[part[len("keyword="):]] = sum(
                    pq.ParquetFile(os.path.join(vdir, part, f)).metadata.num_rows
                    for f in os.listdir(os.path.join(vdir, part)) if f.endswith(".parquet"))
        want = {}
        for r in rows:
            if r["n_violations"]:
                want[r["keyword"]] = want.get(r["keyword"], 0) + r["n_violations"]
        if per_kw != want:
            return f"violation sink {per_kw} != summary {want}"
        mdir = os.path.join(out, "metrics")
        metrics = []
        for f in sorted(os.listdir(mdir)):
            if f.endswith(".json"):
                with open(os.path.join(mdir, f), encoding="utf-8") as fh:
                    metrics += [json.loads(line) for line in fh if line.strip()]
        if sorted((m["path"], m["keyword"], m["n_violations"]) for m in metrics) != sorted(
                (r["path"], r["keyword"], r["n_violations"]) for r in rows):
            return "metrics sink differs from the summary"
        return None

    def keyword_costs(self):
        # a typed-tier keyword costs a few hundred ns per row: each row ten
        # times over, so the per-row difference stands above the noise of
        # an action's task CPU
        copies = 10
        df = self.df.crossJoin(self.spark.range(copies).withColumnRenamed("id", "_copy")).drop(
            "_copy")

        def run_one(schema):
            tv = TableValidator(parse_schema(schema), df.schema)
            tv.apply(df, with_violations=False).where(F.col("valid")).agg(
                F.count(F.lit(1))).collect()

        return _keyword_costs(self.spark, run_one, CLIPS_KEYWORD_SCHEMAS, self.N_ROWS * copies,
                              "keyword.")


# ---------------------------------------------------------------------------

class JsonTiers(Workload):
    """validate_json_auto over a JSON-text column, once with a schema the
    Variant tier compiles and once with a recursive $ref (pandas UDF)."""

    N_DOCS = 3_000  # per-row tier work above the fixed cost of a job

    def kinds(self):
        return ["variant", "fallback"]

    def rate_name(self, kind):
        return f"{kind}_docs_per_s"

    def setup(self, spark):
        path = os.path.join(self.work, "docs")
        self.expected = write_docs(self.seed, self.N_DOCS, _fresh(path))
        self.df = spark.read.parquet(path)
        self.df.count()
        self._pyverdicts = {}

    def run(self, kind, tr, i):
        schema = VARIANT_SCHEMA if kind == "variant" else FALLBACK_SCHEMA
        q = validate_json_auto(self.df, "json", schema).where(
            ~F.col("validation.valid")).select("doc_id")
        return self.N_DOCS, {r["doc_id"] for r in tr.collect(q)}

    def check(self, kind, invalid):
        exp = self.expected
        if invalid != exp["invalid"]:
            return (f"{kind}: {len(invalid ^ exp['invalid'])} docs disagree with the "
                    f"generator's {len(exp['invalid'])} injected violations")
        schema = VARIANT_SCHEMA if kind == "variant" else FALLBACK_SCHEMA
        if kind not in self._pyverdicts:
            node = parse_schema(schema)
            self._pyverdicts[kind] = {
                d: not validate_value(node, json.loads(exp["docs"][d])) for d in exp["sample"]}
        disagree = [d for d, ok in self._pyverdicts[kind].items() if ok == (d in invalid)]
        return f"{kind}: disagrees with pyvalidate on docs {disagree[:5]}" if disagree else None

    def keyword_costs(self):
        df = self.df

        def run_one(schema):
            JsonColumnValidator(schema).apply(df, "json").where(
                F.col("validation.valid")).agg(F.count(F.lit(1))).collect()

        return _keyword_costs(df.sparkSession, run_one, JSON_KEYWORD_SCHEMAS, self.N_DOCS,
                              "variant.keyword.")


# ---------------------------------------------------------------------------

class AudioScan(Workload):
    """The file-granular SNR invariant scan over WAV payload parquet files."""

    N_CLIPS = 400

    def kinds(self):
        return ["invariant"]

    def rate_name(self, kind):
        return "audio_invariant_clips_per_s"

    def setup(self, spark):
        self.spark = spark
        self.path = os.path.join(self.work, "audio")
        self.expected = write_audio(self.seed, self.N_CLIPS, _fresh(self.path))

    def run(self, kind, tr, i):
        from jsschema_spark.audio import audio_invariant_scan

        with tr.span("build"):
            q = audio_invariant_scan(self.spark, self.path).where(
                F.col("snr_db") < 30.0).select("clip_id")
        return self.N_CLIPS, {r["clip_id"] for r in tr.collect(q)}

    def check(self, kind, failures):
        want = self.expected["snr_failures"]
        return None if failures == want else (
            f"{len(failures)} SNR failures, {len(want)} injected corruptions")


# ---------------------------------------------------------------------------

ENGINE_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
ORACLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracles.json")

# __spark_entry__.queries() entries, each compared with its stored DuckDB
# answer. conformance_corpus is left out: its corpus is not in the
# repository. near_dup_canonical and leakage_split_documents read a
# process-global memo filled by near_dup_groups, so their times depend on
# query order; all three are out, and nothing here touches the memo.
ENGINE_QUERIES = [
    "payload_size_clips",  # a documents "spread tax" leaf
    "violations_cube_orders",  # the round-7 regression cluster
]


def normalize_rows(rows) -> list[tuple]:
    """Rows as sorted tuples; floats to 9 significant digits, NaN as text."""
    def cell(v):
        if isinstance(v, decimal.Decimal):
            v = float(v)
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            v = float(f"{v:.9g}")
            return int(v) if v.is_integer() and abs(v) < 2**53 else v
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if hasattr(v, "asDict"):
            v = v.asDict()
        if isinstance(v, dict):
            return sorted([str(k), cell(x)] for k, x in v.items())
        if isinstance(v, (list, tuple)):
            return [cell(x) for x in v]
        if isinstance(v, (bytes, bytearray)):
            return v.hex()
        if v is not None and not isinstance(v, (bool, int, str)):
            return str(v)
        return v
    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


def rows_match(got: list[tuple], want: list[list]) -> bool:
    if len(got) != len(want):
        return False

    def same(a, b):
        if isinstance(a, float) or isinstance(b, float):
            if isinstance(a, (int, float)) and isinstance(b, (int, float)):
                return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
            return False
        if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
            return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
        return a == b

    return all(same(list(g), w) for g, w in zip(got, want))


class EngineSuite(Workload):
    """A fixed list of __spark_entry__ queries over the committed sf0.01
    tables; the seed only fixes the order."""

    def kinds(self):
        order = list(ENGINE_QUERIES)
        random.Random(self.seed).shuffle(order)
        return order

    def rate_name(self, kind):
        return f"q.{kind}_per_s"

    def kind_metric(self, kind):
        return f"entry.q.{kind}_s"

    def setup(self, spark):
        import __spark_entry__ as entry

        self.spark = spark
        self.queries = entry.queries()
        with open(ORACLES, encoding="utf-8") as f:
            self.oracles = json.load(f)

    def run(self, kind, tr, i):
        with tr.span("build"):
            df = self.queries[kind](self.spark, ENGINE_DATA)
        rows = tr.collect(df)
        return 1, (df.columns, rows)

    def check(self, kind, answer):
        cols, rows = answer
        want = self.oracles[kind]
        if [c.lower() for c in cols] != [c.lower() for c in want["columns"]]:
            return f"{kind}: columns {cols} != {want['columns']}"
        got = normalize_rows(rows)
        if not rows_match(got, want["rows"]):
            return f"{kind}: {len(got)} rows differ from the DuckDB oracle's {len(want['rows'])}"
        return None


class Reference(Workload):
    """A fixed Spark job that uses no library code: a grouped sum over a
    generated range, run ``JOBS`` times per operation. Its best time in a
    run measures how fast the machine is in that run, so the workloads'
    operations can be given in units of it (see run.py)."""

    KIND = "reference"
    ROWS = 8_000_000
    GROUPS = 1000
    JOBS = 2

    def kinds(self):
        return [self.KIND]

    def setup(self, spark):
        self.spark = spark

    def run(self, kind, tr, i):
        q = self.spark.range(0, self.ROWS, numPartitions=4).groupBy(
            (F.col("id") % self.GROUPS).alias("k")).agg(F.sum(F.col("id") * 3).alias("s")).agg(
            F.sum("s").alias("total"))
        return self.ROWS * self.JOBS, [tr.collect(q)[0]["total"] for _ in range(self.JOBS)]

    def check(self, kind, answer):
        want = [3 * self.ROWS * (self.ROWS - 1) // 2] * self.JOBS
        return None if answer == want else f"reference totals {answer} != {want}"


class Composite(Workload):
    """Several workloads' operation kinds served by one session, in turn."""

    def __init__(self, seed: int, work: str, parts):
        super().__init__(seed, work)
        self.parts = [p(seed, work) for p in parts]
        self.owner = {k: p for p in self.parts for k in p.kinds()}

    def kinds(self):
        return list(self.owner)

    def setup(self, spark):
        for p in self.parts:
            p.setup(spark)

    def run(self, kind, tr, i):
        return self.owner[kind].run(kind, tr, i)

    def check(self, kind, answer):
        return self.owner[kind].check(kind, answer)

    def rate_name(self, kind):
        return self.owner[kind].rate_name(kind)

    def kind_metric(self, kind):
        return self.owner[kind].kind_metric(kind)

    def keyword_costs(self):
        out = {}
        for p in self.parts:
            out.update(p.keyword_costs())
        return out


WORKLOADS = {
    "clips_typed": lambda seed, work: Composite(seed, work, [ClipsTyped, Reference]),
    "json_audio_engine": lambda seed, work: Composite(
        seed, work, [JsonTiers, AudioScan, EngineSuite, Reference]),
}
