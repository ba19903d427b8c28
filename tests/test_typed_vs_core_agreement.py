"""Randomized cross-tier agreement: the typed-column Catalyst tier must give
the same verdict as the pure-Python semantic core on every row, for
randomly generated schemas × randomly generated rows (fixed seed) — and so
must the Variant tier on the same rows serialized to JSON."""

import json
import random

from pyspark.sql import types as T

from jsschema_spark import parse_schema
from jsschema_spark.compiler import TableValidator
from jsschema_spark.pyvalidate import Validator
from jsschema_spark.variant import JsonColumnValidator

SEED = 20260816


def random_schema_and_rows(rng: random.Random, n_rows: int = 40):
    cols = {
        "s": (T.StringType(), lambda: rng.choice([None, "", "abc", "clip-42", "Xy" * rng.randint(1, 6)])),
        "i": (T.LongType(), lambda: rng.choice([None, 0, 1, 7, 15, -3, 100])),
        "d": (T.DoubleType(), lambda: rng.choice([None, 0.0, 2.5, 3.0, 99.9, -1.25])),
        "b": (T.BooleanType(), lambda: rng.choice([None, True, False])),
        "xs": (
            T.ArrayType(T.LongType()),
            lambda: rng.choice([None, [], [1], [1, 2, 3], [2, 2], [5, 10, 15, 20, 25, 30]]),
        ),
    }
    props = {}
    if rng.random() < 0.9:
        props["s"] = rng.choice(
            [
                {"type": "string", "minLength": rng.randint(0, 4)},
                {"pattern": rng.choice(["^clip-", "c$", "[0-9]+"])},
                {"enum": ["abc", "clip-42", ""]},
                {"maxLength": rng.randint(0, 8)},
            ]
        )
    if rng.random() < 0.9:
        props["i"] = rng.choice(
            [
                {"minimum": rng.randint(-5, 10)},
                {"maximum": rng.randint(0, 20), "exclusiveMaximum": rng.random() < 0.5},
                {"multipleOf": rng.randint(1, 5)},
                {"enum": [0, 1, 7]},
                {"oneOf": [{"multipleOf": 5}, {"multipleOf": 3}]},
                {"not": {"minimum": 50}},
            ]
        )
    if rng.random() < 0.7:
        props["d"] = rng.choice(
            [
                {"type": "integer"},
                {"minimum": 0, "exclusiveMinimum": rng.random() < 0.5},
                {"anyOf": [{"maximum": 1}, {"minimum": 50}]},
            ]
        )
    if rng.random() < 0.7:
        props["xs"] = rng.choice(
            [
                {"type": "array", "minItems": rng.randint(0, 3)},
                {"uniqueItems": True},
                {"items": {"type": "integer", "maximum": 20}},
                {"maxItems": rng.randint(0, 4)},
            ]
        )
    schema = {
        "type": "object",
        "properties": props,
        "required": rng.sample(["s", "i", "d", "b", "xs"], k=rng.randint(0, 2)),
    }
    fields = [T.StructField(name, dt) for name, (dt, _) in cols.items()]
    rows = [
        tuple(gen() for (_dt, gen) in cols.values())
        for _ in range(n_rows)
    ]
    return schema, T.StructType(fields), rows


def test_tier_divergence_edges(spark):
    """Regression pins for the round-1 tier-divergence bugs: hostname length
    guard, multipleOf at double-spacing extremes, schema-form dependencies on
    MapType columns."""
    # hostname > 253 chars: every label valid, total length not — all tiers
    # must reject (the rlike pattern previously dropped the length lookahead)
    long_host = ".".join(["a" * 63] * 4)  # 255 chars
    ok_host = "spark.apache.org"
    schema = {"properties": {"s": {"format": "hostname"}}}
    node = parse_schema(schema)
    st = T.StructType([T.StructField("s", T.StringType())])
    df = spark.createDataFrame([(long_host,), (ok_host,)], st)
    tv = TableValidator(node, st)
    got = {r.s: r.valid for r in tv.apply(df).collect()}
    core = Validator(node)
    assert got[long_host] is False and core.is_valid({"s": long_host}) is False
    assert got[ok_host] is True and core.is_valid({"s": ok_host}) is True

    # multipleOf where |quotient| > 2^30: absolute 1e-9 epsilon breaks down
    big = 7.0 * 2**40
    off = 7.0 * 2**40 + 3.0
    schema = {"properties": {"d": {"multipleOf": 7.0}}}
    node = parse_schema(schema)
    st = T.StructType([T.StructField("d", T.DoubleType())])
    df = spark.createDataFrame([(big,), (off,)], st)
    got = {r.d: r.valid for r in TableValidator(node, st).apply(df).collect()}
    core = Validator(node)
    assert got[big] is True and core.is_valid({"d": big}) is True
    assert got[off] is False and core.is_valid({"d": off}) is False

    # schema-form dependencies on a MapType column (struct path had it,
    # map path silently dropped the constraint)
    schema = {"properties": {"m": {"dependencies": {"credit": {"required": ["billing"]}}}}}
    node = parse_schema(schema)
    st = T.StructType([T.StructField("m", T.MapType(T.StringType(), T.LongType()))])
    rows = [({"credit": 1, "billing": 2},), ({"credit": 1},), ({"other": 3},)]
    df = spark.createDataFrame(rows, st)
    got = [r.valid for r in TableValidator(node, st).apply(df).collect()]
    core = Validator(node)
    expect = [core.is_valid({"m": row[0]}) for row in rows]
    assert expect == [True, False, True]
    assert got == expect

    # typed-tier defects the Variant tier never had: (a) an
    # additionalProperties schema on a struct and (b) on a MapType column
    # was ignored; an enum member of another JSON type than the column's
    # (c) crashed the job with CAST_INVALID_INPUT or (d) failed analysis
    cases = [
        ({"properties": {"a": {}}, "additionalProperties": {"type": "string"}},
         "a long, b long", [(1, 2), (1, None)], [False, True]),
        ({"properties": {"m": {"additionalProperties": {"maximum": 5}}}},
         "m map<string,long>", [({"a": 1, "z": 9},), ({"a": 1},)], [False, True]),
        ({"properties": {"s": {"enum": [1, "x"]}}}, "s string", [("x",), ("1",)], [True, False]),
        ({"properties": {"i": {"enum": [True, 7]}}}, "i long", [(7,), (1,)], [True, False]),
    ]
    for schema, ddl, rows, expect in cases:
        node = parse_schema(schema)
        df = spark.createDataFrame(rows, ddl)
        core = Validator(node)
        assert [
            core.is_valid({k: v for k, v in zip(df.columns, row) if v is not None})
            for row in rows
        ] == expect
        got = [r.valid for r in TableValidator(node, df.schema).apply(df).collect()]
        assert got == expect, (schema, got)


def test_random_agreement(spark):
    rng = random.Random(SEED)
    for trial in range(12):
        schema_dict, st, rows = random_schema_and_rows(rng)
        node = parse_schema(schema_dict)
        df = spark.createDataFrame(rows, st)
        tv = TableValidator(node, st)
        got = [r.valid for r in tv.apply(df, with_violations=False).collect()]

        # typed-path semantics: NULL column ≡ absent property
        docs = [
            {name: val for name, val in zip(st.names, row) if val is not None}
            for row in rows
        ]
        jv = JsonColumnValidator.try_compile(schema_dict)
        assert jv is not None, schema_dict
        jdf = spark.createDataFrame([(json.dumps(d),) for d in docs], "payload string")
        got_variant = [r.valid for r in jv.apply(jdf, "payload").select("validation.valid").collect()]

        core = Validator(node)
        for doc, spark_valid, variant_valid in zip(docs, got, got_variant):
            expect = core.is_valid(doc)
            assert spark_valid == variant_valid == expect, (
                f"trial {trial}: schema={schema_dict} row={doc} "
                f"typed={spark_valid} variant={variant_valid} core={expect}"
            )
