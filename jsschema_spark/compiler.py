"""Draft-04 lowering: SchemaNode IR → Catalyst ``Column`` predicate DAG.

This is the engine's analogue of the reference's ``validator.Compile``
(validator/validator.go:32-39): a draft-04 schema compiles **once on the
driver** into pure ``pyspark.sql.Column`` expressions — no Python in the row
path, predicates eligible for pushdown.

Each keyword is lowered once (``_Lowering``), for both Catalyst tiers, over
a *value accessor* that answers type tests and reads the value as a number,
string, array or object. There are two accessors:

* ``_Typed`` (here, ``TableValidator``) — a typed column. Its static Spark
  type answers every type test at compile time (SURVEY.md §2.2 row 1): a
  keyword under a statically true test gets no ``CASE WHEN`` guard, one
  under a statically false test is not emitted, so ``{"type": "string"}``
  on a StringType column costs nothing at run time.
* ``variant._Variant`` (``JsonColumnValidator``) — JSON text parsed to a
  Variant: runtime ``schema_of_variant`` tests, ``try_variant_get`` reads
  and the ``map<string,variant>``/``array<variant>`` casts.

Object keywords take one of two shapes: a static one for ``StructType``
columns, whose field names are known at compile time, and a dynamic-map one
(``forall`` over map keys/entries) shared by typed ``MapType`` columns and
Variant objects.

Scale design (100 TB / 10^12 rows):

* Every keyword is a built-in-function expression (``rlike``, ``length``,
  ``isin``, ``size``, ``forall``, ``element_at`` …) — JVM-side, vectorized
  over columnar parquet batches; zero shuffles for the per-row pass.
* ``valid`` (cheap AND-of-preds) and ``violations`` (array of detail
  structs) are separate columns so a throughput-only pass can skip building
  the violation structs.
* The per-keyword violation summary is ONE aggregation pass —
  ``sum(when(!pred,1))`` per predicate, map-side partial aggregation — not a
  per-keyword scan.

Semantic notes on the typed tier (divergences forced by the typed
representation, SURVEY.md "hard parts"):

* JSON "property present" maps to SQL ``IS NOT NULL`` — a typed column always
  exists, so ``required`` = non-null, and every other keyword on a column is
  vacuously true when the value is NULL (mirrors draft-04 where keywords only
  constrain *present* properties). NULL array elements pass likewise.
* ``pattern`` uses Java regex via ``rlike`` (unanchored search, same as the
  reference's Go RE2 ``re.search`` — marshal.go:143-169); the corpus patterns
  sit in the common subset.
* Binary columns have no JSON type; only presence (`required`) and custom
  invariants (see ``jsschema_spark.audio``) apply.
"""

from __future__ import annotations

import functools
import json
import operator
from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsschema_spark.errors import ResolutionError, SchemaParseError
from jsschema_spark.resolver import RefResolver
from jsschema_spark.schema import FORBIDDEN, SchemaNode

MAX_COMPILE_REF_DEPTH = 16


class CompileError(SchemaParseError):
    """Schema cannot be compiled to Column expressions (nesting past
    ``MAX_COMPILE_REF_DEPTH``, an unresolvable ``$ref``, and on the Variant
    tier a recursive ``$ref`` or a non-scalar enum); callers fall back to
    the generic pandas-UDF path."""


@dataclass
class CompiledPredicate:
    path: str
    keyword: str
    pred: Column  # null-safe: True ⇒ constraint satisfied
    message: str


# a type test: a Python bool when it folds at compile time, else a Column
Test = Union[bool, Column]


def _json_type_of_spark(dt: T.DataType) -> str:
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integer"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "number"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "datetime"
    return "unknown"


# vetted Java-regex format patterns (mirror of pyvalidate's, rlike-ready)
_FORMAT_RLIKE = {
    "email": r"^[^@\s]+@[^@\s]+\.[^@\s]+$",
    # keeps the total-length lookahead from pyvalidate's _RE_HOSTNAME (Java
    # regex supports lookahead in rlike) — tier-parity with the Python core
    "hostname": r"^(?=.{1,253}$)[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$",
    "ipv4": r"^(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}$",
    "ipv6": r"^[0-9A-Fa-f:.]{2,45}$",
    "uri": r"^[A-Za-z][A-Za-z0-9+.-]*:",
    "date-time": r"^\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$",
}


def _and_all(cols: list[Column]) -> Column:
    if not cols:
        return F.lit(True)
    return functools.reduce(operator.and_, cols)


def _or_all(cols: list[Column]) -> Column:
    if not cols:
        return F.lit(False)
    return functools.reduce(operator.or_, cols)


def _and(*tests: Test) -> Test:
    """AND of type tests, folding the static ones."""
    if any(t is False for t in tests):
        return False
    cols = [t for t in tests if t is not True]
    return _and_all(cols) if cols else True


def _guard(test: Test, pred: Column) -> Column:
    """``pred`` where ``test`` holds, vacuously true elsewhere."""
    return pred if test is True else F.when(test, pred).otherwise(F.lit(True))


def _json_family(v) -> str:
    """The JSON type family of a schema literal (enum member)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, (int, float)):
        return "number"
    if isinstance(v, str):
        return "string"
    return "array" if isinstance(v, list) else "object"


def _valid(preds: list[CompiledPredicate]) -> Column:
    """A row's verdict: the AND of its null-safe predicates."""
    return _and_all([F.coalesce(p.pred, F.lit(False)) for p in preds])


def _violations(preds: list[CompiledPredicate]) -> Column:
    """A row's violations: one (keyword, path, message) struct per failed
    predicate."""
    if not preds:
        return F.array()
    return F.array_compact(F.array(*[
        F.when(
            ~F.coalesce(p.pred, F.lit(False)),
            F.struct(
                F.lit(p.keyword).alias("keyword"),
                F.lit(p.path).alias("path"),
                F.lit(p.message).alias("message"),
            ),
        )
        for p in preds
    ]))


class _Typed:
    """Value accessor for a typed column: its static Spark type answers
    every type test at compile time."""

    def __init__(self, col: Column, dt: T.DataType):
        self.col = col
        self.dt = dt
        self.jtype = _json_type_of_spark(dt)
        self.fields: Optional[dict[str, T.DataType]] = (
            {f.name: f.dataType for f in dt.fields} if isinstance(dt, T.StructType) else None
        )

    def family(self, kind: str) -> Test:
        """Is the value of the JSON type ``kind`` (``number`` covers
        ``integer``) — the guard of that type's keywords."""
        return kind == self.jtype or (kind == "number" and self.jtype == "integer")

    def is_type(self, declared: str) -> Test:
        """The ``type`` keyword's test. ``null`` never matches: on the typed
        tier null ≡ absent, and callers null-wrap."""
        if declared == "integer" and self.jtype == "number":
            return self.col == F.floor(self.col)
        # datetimes serialize as strings in JSON
        return self.family(declared) or (declared == "string" and self.jtype == "datetime")

    def value(self, kind: str) -> Column:
        """The value read as ``kind`` (``json``: canonical JSON text)."""
        return F.to_json(self.col) if kind == "json" else self.col

    def canon_items(self) -> Column:
        """The array in the form ``array_distinct`` compares for
        ``uniqueItems``."""
        return self.col

    def inner(self, x: Column) -> "_Typed":
        """Accessor for ``x``, an element of this array or a value of this
        map."""
        dt = self.dt.elementType if isinstance(self.dt, T.ArrayType) else self.dt.valueType
        return _Typed(x, dt)

    def field(self, name: str) -> Optional["_Typed"]:
        """Accessor for property ``name`` (None: the struct has no such
        field)."""
        if self.fields is None:
            return self.inner(F.element_at(self.col, F.lit(name)))
        return _Typed(self.col.getField(name), self.fields[name]) if name in self.fields else None

    def has_key(self, name: str) -> Test:
        if self.fields is None:
            return F.map_contains_key(self.col, name)
        return self.col.getField(name).isNotNull() if name in self.fields else False


def _has_object_keywords(s: SchemaNode) -> bool:
    return bool(
        s.required or s.properties or s.pattern_properties or s.dep_names or s.dep_schemas
        or s.additional_properties is not None
        or s.min_properties is not None or s.max_properties is not None
    )


class _Lowering:
    """Draft-04 keywords → ``CompiledPredicate``s over a value accessor
    (``_Typed`` or ``variant._Variant``). Every keyword is lowered here, once
    for both Catalyst tiers."""

    def __init__(self, resolver: RefResolver):
        self.resolver = resolver
        self._inlining: list[int] = []  # ids of the $ref targets being inlined

    def compile(self, s: SchemaNode, acc, path: str, depth: int = 0) -> list[CompiledPredicate]:
        """Predicates for a *present* (non-null) value.

        Callers are responsible for the null wrap (absent ⇒ vacuous pass).
        """
        if depth > MAX_COMPILE_REF_DEPTH:
            raise CompileError(f"schema nests deeper than {MAX_COMPILE_REF_DEPTH} at {path}")
        if s.ref:
            return self._inline_ref(s, acc, path, depth)

        out: list[CompiledPredicate] = []

        def add(p: str, keyword: str, test: Test, pred: Column, message: str) -> None:
            out.append(CompiledPredicate(p, keyword, _guard(test, pred), message))

        if s.types:
            tests = [acc.is_type(d) for d in s.types]
            if not any(t is True for t in tests):
                got = f", got {acc.jtype}" if acc.jtype else ""
                add(path, "type", True, _or_all([t for t in tests if t is not False]),
                    f"expected {s.types}{got}")

        if s.enum is not None:
            add(path, "enum", True, self._enum(s.enum, acc), "value not in enum")

        if s.multiple_of or s.minimum is not None or s.maximum is not None:
            test = acc.family("number")
            if test is not False:
                self._numeric(s, acc.value("number"), acc.jtype == "integer", test, path, add)

        if (s.min_length is not None or s.max_length is not None or s.pattern is not None
                or s.format in _FORMAT_RLIKE):
            test = acc.family("string")
            if test is not False:
                self._string(s, acc.value("string"), test, path, add)

        if s.min_items is not None or s.max_items is not None or s.unique_items or s.items is not None:
            test = acc.family("array")
            if test is not False:
                self._array(s, acc, test, path, depth, add)

        if _has_object_keywords(s):
            test = acc.family("object")
            if test is not False:
                self._object(s, acc, test, path, depth, add, out)

        for sub in s.all_of:
            out.extend(self.compile(sub, acc, path, depth + 1))
        if s.any_of:
            branches = [self._value_pred(b, acc, path, depth + 1) for b in s.any_of]
            add(path, "anyOf", True, _or_all(branches), "no branch matched")
        if s.one_of:
            branches = [self._value_pred(b, acc, path, depth + 1) for b in s.one_of]
            hits = functools.reduce(
                operator.add, [F.when(b, F.lit(1)).otherwise(F.lit(0)) for b in branches]
            )
            add(path, "oneOf", True, hits == 1, "not exactly one branch matched")
        if s.not_ is not None:
            add(path, "not", True, ~self._value_pred(s.not_, acc, path, depth + 1),
                "matched forbidden schema")
        return out

    def _inline_ref(self, s: SchemaNode, acc, path: str, depth: int) -> list[CompiledPredicate]:
        """Compile-time inlining of ``$ref`` (definitions, meta-/hyper-schema
        providers). A typed value nests only as deep as its Spark type, which
        ends a recursive ``$ref``; a Variant's JSON type is known only at run
        time (``jtype`` None), so there recursion never ends and fails at
        its first re-entry rather than after unrolling to the depth cap."""
        try:
            target = self.resolver.resolve_node(s)
        except ResolutionError as e:
            raise CompileError(str(e)) from None
        if acc.jtype is None and id(target) in self._inlining:
            raise CompileError(f"recursive $ref {s.ref!r} at {path}")
        self._inlining.append(id(target))
        try:
            return self.compile(target, acc, path, depth + 1)
        finally:
            self._inlining.pop()

    # ------------------------------------------------------------------
    @staticmethod
    def _enum(members: list, acc) -> Column:
        # one branch per JSON type family, each compared in that type
        branches: list[Column] = []
        for fam in ("string", "number", "boolean", "null", "array", "object"):
            ms = [m for m in members if _json_family(m) == fam]
            test = acc.family(fam) if ms else False
            if test is False:
                continue
            if fam == "null":
                branches.append(test)
            elif fam in ("array", "object"):
                canon = [json.dumps(m, sort_keys=True, separators=(",", ":")) for m in ms]
                branches.append(_and(test, acc.value("json").isin(*canon)))
            else:
                branches.append(_and(test, acc.value(fam).isin(*ms)))
        return _or_all(branches)

    @staticmethod
    def _numeric(s: SchemaNode, x: Column, integral: bool, test: Test, path: str, add) -> None:
        if s.multiple_of:
            if integral and float(s.multiple_of).is_integer():
                p = F.pmod(x, F.lit(int(s.multiple_of))) == 0
            else:
                # tolerance scales with ulp(q) (double spacing ≈ |q|·2e-16,
                # so a true multiple's computed q is within a few ulps of an
                # integer); 1e-9 floor absorbs decimal-literal error at small
                # q — kept in lockstep with pyvalidate.py
                q = x / F.lit(float(s.multiple_of))
                p = F.abs(q - F.round(q)) < F.greatest(F.lit(1e-9), F.abs(q) * F.lit(1e-14))
            add(path, "multipleOf", test, p, f"not a multiple of {s.multiple_of}")
        if s.minimum is not None:
            if s.exclusive_minimum:
                add(path, "exclusiveMinimum", test, x > F.lit(s.minimum), f"<= {s.minimum}")
            else:
                add(path, "minimum", test, x >= F.lit(s.minimum), f"< {s.minimum}")
        if s.maximum is not None:
            if s.exclusive_maximum:
                add(path, "exclusiveMaximum", test, x < F.lit(s.maximum), f">= {s.maximum}")
            else:
                add(path, "maximum", test, x <= F.lit(s.maximum), f"> {s.maximum}")

    @staticmethod
    def _string(s: SchemaNode, x: Column, test: Test, path: str, add) -> None:
        # F.length counts characters on strings
        if s.min_length is not None:
            add(path, "minLength", test, F.length(x) >= s.min_length, f"shorter than {s.min_length}")
        if s.max_length is not None:
            add(path, "maxLength", test, F.length(x) <= s.max_length, f"longer than {s.max_length}")
        if s.pattern is not None:
            add(path, "pattern", test, x.rlike(s.pattern.pattern),
                f"does not match {s.pattern.pattern!r}")
        if s.format in _FORMAT_RLIKE:
            p = x.rlike(_FORMAT_RLIKE[s.format])
            if s.format == "ipv6":
                p = p & x.contains(":")
            add(path, "format", test, p, f"not a valid {s.format}")

    def _array(self, s: SchemaNode, acc, test: Test, path: str, depth: int, add) -> None:
        xs = acc.value("array")
        if s.min_items is not None:
            add(path, "minItems", test, F.size(xs) >= s.min_items, f"fewer than {s.min_items} items")
        if s.max_items is not None:
            add(path, "maxItems", test, F.size(xs) <= s.max_items, f"more than {s.max_items} items")
        if s.unique_items:
            k = acc.canon_items()
            add(path, "uniqueItems", test, F.size(F.array_distinct(k)) == F.size(k),
                "duplicate elements")
        if s.items is None:
            return
        if not s.items.tuple_mode:
            each = self._each(s.items.schemas[0], acc, f"{path}[*]", depth + 1)
            add(path, "items", test, F.forall(xs, each), "element violates item schema")
            return
        arity = len(s.items.schemas)
        for i, sub in enumerate(s.items.schemas):
            each = self._each(sub, acc, f"{path}[{i}]", depth + 1)
            add(f"{path}[{i}]", "items", _and(test, F.size(xs) > i),
                each(F.element_at(xs, i + 1)), "tuple element violates item schema")
        if s.additional_items is FORBIDDEN:
            add(path, "additionalItems", test, F.size(xs) <= arity,
                f"more than tuple arity {arity} items")
        elif isinstance(s.additional_items, SchemaNode):
            each = self._each(s.additional_items, acc, f"{path}[*]", depth + 1)
            add(path, "additionalItems", test,
                F.forall(F.slice(xs, arity + 1, 2_147_483_647 - arity), each),
                "additional element violates schema")

    def _object(self, s: SchemaNode, acc, test: Test, path: str, depth: int, add, out) -> None:
        fields = acc.fields  # None: keys known only at run time (map shape)
        for req in s.required:
            has = acc.has_key(req)
            if has is False:
                add(f"{path}.{req}", "required", test, F.lit(False),
                    f"column {req!r} missing from table schema")
            else:
                add(f"{path}.{req}", "required", test, has, f"missing required property {req!r}")

        for name, sub in s.properties.items():
            child = acc.field(name)
            if child is not None:  # absent property ⇒ vacuously valid
                out.extend(self.present(sub, child, f"{path}.{name}", depth + 1))

        if fields is not None:
            # static shape: patternProperties / additionalProperties against
            # the struct's field names, resolved at compile time (SURVEY
            # §2.2 row 15)
            unmatched = [n for n in fields if n not in s.properties]
            for _src, (rx, sub) in s.pattern_properties.items():
                for name in fields:
                    if rx.search(name):
                        out.extend(self.present(sub, acc.field(name), f"{path}.{name}", depth + 1))
                unmatched = [n for n in unmatched if not rx.search(n)]
            for name in unmatched:
                if s.additional_properties is FORBIDDEN:
                    add(f"{path}.{name}", "additionalProperties", test,
                        acc.field(name).col.isNull(), f"unexpected property {name!r}")
                elif isinstance(s.additional_properties, SchemaNode):
                    out.extend(self.present(
                        s.additional_properties, acc.field(name), f"{path}.{name}", depth + 1))
        else:
            self._dynamic_key_set(s, acc, test, path, depth, add)

        if s.min_properties is not None or s.max_properties is not None:
            if fields is not None:  # "present" ≡ non-null field
                n = functools.reduce(operator.add, [
                    F.when(acc.has_key(f), F.lit(1)).otherwise(F.lit(0)) for f in fields
                ])
            else:
                n = F.size(acc.value("object"))
            if s.min_properties is not None:
                add(path, "minProperties", test, n >= s.min_properties,
                    f"fewer than {s.min_properties} properties")
            if s.max_properties is not None:
                add(path, "maxProperties", test, n <= s.max_properties,
                    f"more than {s.max_properties} properties")

        for pname, deplist in s.dep_names.items():
            cond = _and(test, acc.has_key(pname))
            if cond is not False:
                for d in deplist:
                    has = acc.has_key(d)
                    add(path, "dependencies", cond, F.lit(has) if isinstance(has, bool) else has,
                        f"{pname!r} requires {d!r}")
        for pname, dschema in s.dep_schemas.items():
            cond = _and(test, acc.has_key(pname))
            if cond is not False:
                add(path, "dependencies", cond, self._value_pred(dschema, acc, path, depth + 1),
                    f"{pname!r} schema dependency violated")

    def _dynamic_key_set(self, s: SchemaNode, acc, test: Test, path: str, depth: int, add) -> None:
        # map shape: key-set keywords as `forall` over the map's keys/entries
        m = acc.value("object")
        for src, (_rx, sub) in s.pattern_properties.items():
            each = self._each(sub, acc, f"{path}.<{src}>", depth + 1)
            ok = F.forall(F.map_entries(m), lambda e: F.when(
                ~e.getField("key").rlike(src), F.lit(True)).otherwise(each(e.getField("value"))))
            add(path, "patternProperties", test, ok, f"patternProperties {src!r} violated")
        if s.additional_properties is None:
            return
        known = list(s.properties)
        rxs = list(s.pattern_properties)

        def key_known(k: Column) -> Column:
            ok = k.isin(*known) if known else F.lit(False)
            for src in rxs:
                ok = ok | k.rlike(src)
            return ok

        if s.additional_properties is FORBIDDEN:
            ok = F.forall(F.map_keys(m), key_known)
        else:
            each = self._each(s.additional_properties, acc, f"{path}.<additional>", depth + 1)
            ok = F.forall(F.map_entries(m), lambda e: (
                key_known(e.getField("key")) | each(e.getField("value"))))
        add(path, "additionalProperties", test, ok, "unexpected properties")

    # ------------------------------------------------------------------
    def _value_pred(self, s: SchemaNode, acc, path: str, depth: int) -> Column:
        """Single null-safe conjunction for a value (used by combinators)."""
        return F.coalesce(_and_all([p.pred for p in self.compile(s, acc, path, depth)]), F.lit(False))

    def present(self, s: SchemaNode, acc, path: str, depth: int) -> list[CompiledPredicate]:
        """``s``'s predicates on a value that may be absent (NULL ⇒ pass)."""
        return [
            CompiledPredicate(
                cp.path, cp.keyword,
                F.when(acc.col.isNull(), F.lit(True)).otherwise(F.coalesce(cp.pred, F.lit(False))),
                cp.message,
            )
            for cp in self.compile(s, acc, path, depth)
        ]

    def _each(self, s: SchemaNode, acc, path: str, depth: int):
        """``s`` as a function of an element/value column of ``acc`` (NULL ⇒
        pass), for ``forall`` and ``element_at``."""

        def each(x: Column) -> Column:
            return F.when(x.isNull(), F.lit(True)).otherwise(
                self._value_pred(s, acc.inner(x), path, depth)
            )

        return each


# --------------------------------------------------------------------------

VIOLATION_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("keyword", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("message", T.StringType()),
        ]
    )
)


class TableValidator:
    """Compile-once validator for a typed table (compile on driver, reuse
    across every partition — the reference's lazy compile-once cache,
    validator/validator.go:41-53, without needing the mutex: Spark ships the
    serialized plan to executors)."""

    def __init__(
        self,
        schema: SchemaNode,
        df_schema: T.StructType,
        resolver: Optional[RefResolver] = None,
    ):
        self.schema = schema
        self.df_schema = df_schema
        resolver = resolver or RefResolver.with_default_providers(schema.root())
        # the root instance is the row itself: a struct of the table columns
        row_col = F.struct(*[F.col(f.name) for f in df_schema.fields])
        self.predicates: list[CompiledPredicate] = _Lowering(resolver).compile(
            schema, _Typed(row_col, df_schema), "$"
        )

    # -- columns ---------------------------------------------------------
    def valid_column(self) -> Column:
        return _valid(self.predicates)

    def violations_column(self) -> Column:
        return _violations(self.predicates).cast(VIOLATION_SCHEMA)

    # -- table ops --------------------------------------------------------
    def apply(
        self, df: DataFrame, with_violations: bool = True,
        valid_col: str = "valid", violations_col: str = "violations",
    ) -> DataFrame:
        out = df.withColumn(valid_col, self.valid_column())
        if with_violations:
            out = out.withColumn(violations_col, self.violations_column())
        return out

    def violation_details(self, df: DataFrame, id_cols: Optional[list[str]] = None) -> DataFrame:
        """Exploded per-violation detail rows (north_rule's detail records)."""
        id_cols = id_cols or []
        applied = self.apply(df, with_violations=True)
        v = F.explode(F.col("violations")).alias("v")
        return applied.where(~F.col("valid")).select(*id_cols, v).select(
            *id_cols,
            F.col("v.keyword").alias("keyword"),
            F.col("v.path").alias("path"),
            F.col("v.message").alias("message"),
        )

    def violation_samples(
        self, df: DataFrame, k: int = 3,
        id_cols: Optional[list[str]] = None,
        order_by: Optional[list[str]] = None,
    ) -> DataFrame:
        """Top-``k`` sample rows per (path, keyword) violation — the
        north_rule's per-keyword detail records, bounded so a 10^12-row table
        yields at most ``k × n_keywords`` rows. Deterministic when
        ``order_by`` (default: ``id_cols``) is a unique ordering. One window
        shuffle partitioned by (path, keyword) — ≤ n_keywords partitions,
        each capped by the upstream violation filter."""
        from pyspark.sql import Window

        order_cols = order_by or id_cols
        if not order_cols:
            raise ValueError("violation_samples needs id_cols or order_by for determinism")
        # project the UNION of id and ordering columns — order_by without
        # id_cols must still resolve inside the window input
        detail_cols = list(dict.fromkeys((id_cols or []) + list(order_cols)))
        details = self.violation_details(df, id_cols=detail_cols)
        w = Window.partitionBy("path", "keyword").orderBy(*[F.col(c) for c in order_cols])
        return (
            details.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
        )

    def summary(self, df: DataFrame) -> DataFrame:
        """Per-(path, keyword) violation counts in ONE aggregation pass
        (map-side partial agg; a single job regardless of keyword count)."""
        aggs = [
            F.sum(
                F.when(~F.coalesce(p.pred, F.lit(False)), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"p{i}")
            for i, p in enumerate(self.predicates)
        ]
        aggs.append(F.count(F.lit(1)).alias("__total"))
        row = df.agg(*aggs)
        if not self.predicates:
            return row.select(
                F.lit("$").alias("path"), F.lit("none").alias("keyword"),
                F.lit(0).cast("long").alias("n_violations"),
                F.col("__total").alias("n_rows"),
            )
        # unpivot via Column API (explode of struct literals), never by
        # interpolating schema-supplied path/keyword text into SQL — schema
        # documents are untrusted input and property names may contain quotes
        entries = F.array(
            *[
                F.struct(
                    F.lit(p.path).alias("path"),
                    F.lit(p.keyword).alias("keyword"),
                    F.col(f"p{i}").alias("n_violations"),
                )
                for i, p in enumerate(self.predicates)
            ]
        )
        return row.select(
            F.explode(entries).alias("s"), F.col("__total").alias("n_rows")
        ).select("s.path", "s.keyword", "s.n_violations", "n_rows")
