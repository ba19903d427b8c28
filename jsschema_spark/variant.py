"""JVM-side generic-JSON validation via Spark 4 VariantType.

The tier between the typed-column tier (static types) and the pandas-UDF
fallback (full draft-04): arbitrary JSON **text** columns validated entirely
inside Catalyst — ``try_parse_json`` once, then ``try_variant_get`` /
``schema_of_variant`` / ``is_variant_null`` predicates. No Python in the
row path. Not faster than the fallback on every schema: the benchmark's
3,000 nested clip-metadata docs (``perfbench/README.md``, 4-core box) took
2.9–3.8 s on this tier and 1.2–1.5 s on the pandas fallback.

The keywords are lowered by ``compiler._Lowering``, the same code as the
typed tier; this module supplies only the Variant value accessor
(``_Variant``), whose type tests are runtime Columns:

* ``schema_of_variant`` names the JSON type: BIGINT (int), DECIMAL(p,s) /
  DOUBLE (number), STRING, BOOLEAN, VOID (null), ARRAY<...>, OBJECT<...>.
* ``integer`` accepts BIGINT and any numeric whose value has no fraction
  (3.0 passes, 3.14 fails) — value check via double == floor(double).
* ``try_variant_get(v, path, "long")`` COERCES ("42" → 42), so type checks
  always go through ``schema_of_variant``, never through cast success.
* key missing ⇒ SQL NULL variant; key present with JSON null ⇒ VOID variant
  (non-null) — exactly draft-04's present-vs-null distinction, so
  ``required`` is ``try_variant_get(...).isNotNull()``.

Objects take the lowering's dynamic-map shape: key-set keywords
(patternProperties, additionalProperties, property counts) and arbitrary
property names (dots, quotes, spaces — names a ``$.name`` variant path would
misparse) go through ``try_variant_get(v, "$", "map<string,variant>")``: one
JVM-side cast per object level, then ordinary ``map_keys``/``map_entries``/
``element_at`` predicates. Arrays use the ``array<variant>`` cast.

Non-recursive ``$ref`` inlines at compile time through the same resolver
the typed tier uses (definitions + meta-/hyper-schema providers).
``try_compile`` returns None only for schemas Variant can't express
statically: RECURSIVE ``$ref`` (unbounded unrolling), non-scalar enum
members (canonical-JSON equality differs from the Python core's) and
nesting deeper than ``MAX_COMPILE_REF_DEPTH`` — callers fall back to the
Arrow pandas-UDF path (``validate_json_auto``).
"""

from __future__ import annotations

import functools
import json
import logging
import re
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jsschema_spark.compiler import (
    CompiledPredicate, CompileError, _Lowering, _or_all, _valid, _violations,
)
from jsschema_spark.resolver import RefResolver
from jsschema_spark.schema import SchemaNode, parse_schema

_log = logging.getLogger(__name__)

_NUMERIC_PREFIXES = ("BIGINT", "DOUBLE", "FLOAT", "DECIMAL")
_VARIANT_TYPE = {"string": "STRING", "boolean": "BOOLEAN", "null": "VOID"}
_CAST = {
    "number": "double", "string": "string", "boolean": "boolean",
    "array": "array<variant>", "object": "map<string,variant>",
}

# property names safe to embed in a `$.name` variant-get path; anything else
# (dots, brackets, quotes, spaces, unicode) goes through the map cast
_SIMPLE_NAME = re.compile(r"^[A-Za-z0-9_]+$")


class _Variant:
    """Value accessor for a Variant: type tests are runtime
    ``schema_of_variant`` checks (see ``compiler._Typed`` for the
    interface)."""

    jtype = None  # the JSON type is known only at run time
    fields = None  # object keys too: the dynamic-map shape

    def __init__(self, v: Column):
        self.col = v
        self._values: dict[str, Column] = {}

    @functools.cached_property
    def _t(self) -> Column:
        return F.schema_of_variant(self.col)

    def family(self, kind: str) -> Column:
        if kind == "number":
            return _or_all([self._t.startswith(p) for p in _NUMERIC_PREFIXES])
        if kind in ("array", "object"):
            return self._t.startswith(kind.upper())
        return self._t == _VARIANT_TYPE[kind]

    def is_type(self, declared: str) -> Column:
        if declared == "integer":
            d = self.value("number")
            return self.family("number") & (d == F.floor(d))
        return self.family(declared)

    def value(self, kind: str) -> Column:
        if kind == "json":
            raise CompileError("non-scalar enum")
        if kind not in self._values:
            self._values[kind] = F.try_variant_get(self.col, "$", _CAST[kind])
        return self._values[kind]

    def canon_items(self) -> Column:
        return F.transform(self.value("array"), lambda e: F.to_json(e))

    def inner(self, x: Column) -> "_Variant":
        return _Variant(x)

    def field(self, name: str) -> "_Variant":
        # a name with '.', '[', quotes or spaces would silently change a
        # `$.name` lookup, so those ALWAYS take the map route
        if _SIMPLE_NAME.match(name):
            return _Variant(F.try_variant_get(self.col, f"$.{name}", "variant"))
        return _Variant(F.element_at(self.value("object"), F.lit(name)))

    def has_key(self, name: str) -> Column:
        return self.field(name).col.isNotNull()


class JsonColumnValidator:
    """Compile-once Variant validator for a JSON string column."""

    def __init__(self, schema: SchemaNode | dict):
        if isinstance(schema, dict):
            schema = parse_schema(schema)
        self.schema = schema
        self._resolver = RefResolver.with_default_providers(schema.root())

    @classmethod
    def try_compile(cls, schema: SchemaNode | dict) -> Optional["JsonColumnValidator"]:
        self = cls(schema)
        try:
            self._predicates(F.lit(None).cast("string"))
        except CompileError as e:
            _log.info("not compilable on the Variant tier: %s", e)
            return None
        return self

    def _predicates(self, json_col: Column) -> list[CompiledPredicate]:
        v = F.try_parse_json(json_col)
        # malformed JSON / null input: parse failure is its own violation
        parse_ok = CompiledPredicate("$", "$parse", v.isNotNull(), "malformed JSON")
        return [parse_ok] + _Lowering(self._resolver).present(self.schema, _Variant(v), "$", 0)

    def apply(self, df: DataFrame, json_col: str, result_col: str = "validation") -> DataFrame:
        preds = self._predicates(F.col(json_col))
        return df.withColumn(
            result_col,
            F.when(
                F.col(json_col).isNull(),
                F.lit(None).cast(
                    "struct<valid:boolean,violations:array<struct<keyword:string,path:string,message:string>>>"
                ),
            ).otherwise(
                F.struct(_valid(preds).alias("valid"), _violations(preds).alias("violations"))
            ),
        )


def validate_json_auto(
    df: DataFrame, json_col: str, schema: dict | str, result_col: str = "validation",
) -> DataFrame:
    """JVM Variant path when the schema is expressible, Arrow pandas-UDF
    fallback otherwise — same output contract either way. Logs at INFO
    which tier ran (``try_compile`` logs why a schema falls back)."""
    schema_dict = json.loads(schema) if isinstance(schema, str) else schema
    jvm = JsonColumnValidator.try_compile(schema_dict)
    if jvm is not None:
        _log.info("validate_json_auto(%s): Variant tier", json_col)
        return jvm.apply(df, json_col, result_col)
    from jsschema_spark.generic import validate_json_column

    _log.info("validate_json_auto(%s): pandas-UDF fallback", json_col)
    return validate_json_column(df, json_col, schema_dict, result_col)
