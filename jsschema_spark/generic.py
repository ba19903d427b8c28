"""Generic-JSON validation path: arbitrary draft-04 schemas over a JSON
string column, evaluated by an Arrow-batched pandas UDF.

This is the engine's fallback for what Catalyst expressions can't type
statically: dynamically-typed instances (the reference's ``interface{}``
model, schema_test.go:77-78), recursion-heavy ``$ref`` (the self-referencing
meta-schema, default.go:14), heterogeneous ``uniqueItems``, etc.

Scale design: ONE Python stage, Arrow-batched (10k rows/batch by default),
schema compiled **once per executor process** via a module-level cache keyed
by schema text — the executor-side mirror of the reference's compile-once
memo (validator/validator.go:41-53). No per-row Python UDF calls, no
collect; the stage composes with Catalyst stages around it.

Where the schema is shallow/scalar-only, prefer the typed-column compiler
(``jsschema_spark.compiler``) or ``json_predicate_column`` below, which stays
entirely JVM-side via ``get_json_object``/``from_json``.
"""

from __future__ import annotations

import json
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsschema_spark.pyvalidate import Validator
from jsschema_spark.schema import parse_schema

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("valid", T.BooleanType()),
        T.StructField(
            "violations",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("keyword", T.StringType()),
                        T.StructField("path", T.StringType()),
                        T.StructField("message", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

# executor-process-wide compile-once cache {schema_json_text: Validator}
_VALIDATOR_CACHE: dict[str, Validator] = {}


def _cached_validator(schema_text: str) -> Validator:
    v = _VALIDATOR_CACHE.get(schema_text)
    if v is None:
        node = parse_schema(json.loads(schema_text))
        v = Validator(node)
        _VALIDATOR_CACHE[schema_text] = v
    return v


def _validate_series(schema_text: str, s: pd.Series) -> pd.DataFrame:
    v = _cached_validator(schema_text)
    valids: list[Optional[bool]] = []
    viols: list[Optional[list]] = []
    for text in s:
        if text is None:
            valids.append(None)
            viols.append(None)
            continue
        try:
            value = json.loads(text)
        except (json.JSONDecodeError, TypeError) as e:
            valids.append(False)
            viols.append([{"keyword": "$parse", "path": "$", "message": str(e)[:200]}])
            continue
        found = v.validate(value)
        valids.append(not found)
        viols.append(
            [{"keyword": x.keyword, "path": x.path, "message": x.message} for x in found]
        )
    return pd.DataFrame({"valid": valids, "violations": viols})


def validate_json_column(
    df: DataFrame,
    json_col: str,
    schema: dict | str,
    result_col: str = "validation",
) -> DataFrame:
    """Attach ``<result_col>.valid`` + ``<result_col>.violations`` computed
    from the JSON text in ``json_col`` against a draft-04 ``schema``."""
    schema_text = schema if isinstance(schema, str) else json.dumps(schema)
    # parse eagerly on the driver so malformed schemas fail fast (the
    # reference also parses before any validation, schema.go:48-76)
    parse_schema(json.loads(schema_text))

    @F.pandas_udf(RESULT_SCHEMA)
    def _udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for s in it:
            yield _validate_series(schema_text, s)

    return df.withColumn(result_col, _udf(F.col(json_col)))


def validate_json_pairs(
    df: DataFrame,
    schema_col: str,
    json_col: str,
    result_col: str = "validation",
) -> DataFrame:
    """Per-row (schema_json, instance_json) validation — one Arrow stage for
    a table that mixes many schemas (e.g. the conformance corpus re-encoded
    as rows, FIXTURES.md §2). Validators are compile-once-per-distinct-schema
    within each executor via the module cache."""

    @F.pandas_udf(RESULT_SCHEMA)
    def _udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
        for schemas, instances in it:
            parts = []
            # null-schema rows: pandas groupby drops NaN keys, which would
            # make the .loc reindex below KeyError — emit valid=None for them
            # (mirroring the null-instance contract) and group the rest
            null_mask = schemas.isna()
            if null_mask.any():
                sub = instances[null_mask]
                parts.append(
                    pd.DataFrame(
                        {"valid": [None] * len(sub), "violations": [None] * len(sub)}
                    ).set_index(sub.index)
                )
            for schema_text, sub in instances[~null_mask].groupby(
                schemas[~null_mask], sort=False
            ):
                parts.append(
                    _validate_series(schema_text, sub)
                    .set_index(sub.index)
                )
            if parts:
                yield pd.concat(parts).loc[instances.index].reset_index(drop=True)
            else:
                yield pd.DataFrame({"valid": [], "violations": []})

    return df.withColumn(result_col, _udf(F.col(schema_col), F.col(json_col)))


def json_predicate_column(json_col: Column, pointer: str, pred) -> Column:
    """JVM-side scalar check on a JSON string column without Python:
    ``pointer`` is a ``$.a.b`` path for ``get_json_object``; ``pred`` maps the
    extracted string column to a boolean Column. Stays in whole-stage codegen
    — use for hot single-keyword checks over raw JSON event streams."""
    return pred(F.get_json_object(json_col, pointer))
