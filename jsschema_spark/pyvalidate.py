"""Pure-Python draft-04 instance validator over the SchemaNode IR.

This is the engine's *semantic core*: the observable pass/fail behavior is
pinned by the reference's golden corpus (/root/reference/test, harness
schema_test.go:35-105 — 21 suites, 40 pass + 35 fail fixtures). The reference
delegates runtime evaluation to go-jsval (validator/validator.go:32-38); we
implement the draft-04 keyword semantics from scratch here.

It runs in two places:

* driver-side, for schema self-validation and unit tests;
* executor-side inside an Arrow-batched pandas UDF (see
  ``jsschema_spark.generic``) — the generic-JSON fallback path for
  dynamically-typed instances that Catalyst expressions can't type statically.

Key draft-04 semantics the corpus pins:

* ``integer`` rejects numbers with a fractional part (3.1415926) AND
  strings ("42"); JSON ``true`` is not a number (Python quirk: ``bool`` is an
  ``int`` subclass — explicitly excluded).
* Keywords apply only to instances of their type family: ``minLength`` on a
  number is vacuously true, etc.
* ``items`` tuple mode allows arrays shorter than the tuple;
  ``additionalItems: false`` caps the length at the tuple arity.
* ``additionalProperties: false`` rejects keys matched by neither
  ``properties`` nor ``patternProperties``.
* ``oneOf`` = exactly one branch passes (15 fails oneOf(×5, ×3)).
* ``uniqueItems`` uses deep equality with type distinction ([] passes).
* A node with ``$ref`` validates against the resolved target (siblings
  ignored, per draft-04).
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass
from typing import Any, Optional

from jsschema_spark.errors import ResolutionError
from jsschema_spark.resolver import RefResolver
from jsschema_spark.schema import FORBIDDEN, SchemaNode


@dataclass(frozen=True)
class Violation:
    keyword: str
    path: str
    message: str


MAX_REF_DEPTH = 64  # recursive $ref guard (meta-schema "#" self-reference)


def json_type_of(v: Any) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "integer"
    if isinstance(v, float):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    if isinstance(v, dict):
        return "object"
    raise TypeError(f"not a JSON value: {type(v).__name__}")


def _type_matches(declared: str, v: Any) -> bool:
    t = json_type_of(v)
    if declared == t:
        # draft-04: a float with zero fraction counts as integer
        return True
    if declared == "number" and t == "integer":
        return True
    if declared == "integer" and t == "number":
        return isinstance(v, float) and v.is_integer() and math.isfinite(v)
    return False


def _canon_value(v: Any) -> Any:
    """Recursively normalize integral floats to ints ([1] == [1.0], nested
    dicts too) — draft-04 numeric equality; the Go reference decodes every
    number as float64 so 1 and 1.0 are indistinguishable at any depth."""
    if isinstance(v, bool):
        return v
    if isinstance(v, float) and v.is_integer() and math.isfinite(v):
        return int(v)
    if isinstance(v, list):
        return [_canon_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon_value(x) for k, x in v.items()}
    return v


def _canon(v: Any) -> str:
    """Canonical form for deep equality (enum membership, uniqueItems) that
    keeps JSON types distinct (1 != true, 1 != "1"; but 1 == 1.0)."""
    if isinstance(v, bool):
        return "b:" + ("1" if v else "0")
    return json.dumps(_canon_value(v), sort_keys=True, ensure_ascii=False)


# vetted format regexes (draft-04 names, reference interface.go:38-45);
# annotation-grade in draft-04 — every tier enforces them
_RE_EMAIL = re.compile(r"^[^@\s]+@[^@\s]+\.[^@\s]+$")
_RE_HOSTNAME = re.compile(
    r"^(?=.{1,253}$)[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?"
    r"(\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$"
)
_RE_IPV4 = re.compile(
    r"^(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
    r"(\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}$"
)
_RE_IPV6 = re.compile(r"^[0-9A-Fa-f:.]{2,45}$")
_RE_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
_RE_DATETIME = re.compile(
    r"^\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
)


def _format_ok(fmt: str, v: str) -> bool:
    if fmt == "date-time":
        return bool(_RE_DATETIME.match(v))
    if fmt == "email":
        return bool(_RE_EMAIL.match(v))
    if fmt == "hostname":
        return bool(_RE_HOSTNAME.match(v))
    if fmt == "ipv4":
        return bool(_RE_IPV4.match(v))
    if fmt == "ipv6":
        return ":" in v and bool(_RE_IPV6.match(v))
    if fmt == "uri":
        return bool(_RE_URI.match(v))
    return True  # unknown formats are annotations


def _multiple_of(v, k) -> bool:
    if k == 0:
        return True
    # exact for int÷int (draft-04 integer corpus); float path scales the
    # tolerance with ulp(q) — double spacing exceeds any absolute epsilon
    # once |q| ≳ 2^30 (kept in lockstep with compiler.py/variant.py)
    if isinstance(v, int) and isinstance(k, int) and not isinstance(v, bool):
        return v % k == 0
    q = v / k
    return abs(q - round(q)) < max(1e-9, abs(q) * 1e-14)


class Validator:
    """Compile-once wrapper (reference validator/validator.go:21-53): the
    resolver + schema pair is built once and reused across every instance."""

    def __init__(self, schema: SchemaNode, resolver: Optional[RefResolver] = None):
        self.schema = schema
        self.resolver = resolver or RefResolver.with_default_providers(schema.root())

    def validate(self, value: Any) -> list[Violation]:
        """Return all violations ([] ⇒ valid). The reference stops at the
        first failure (binary pass/fail, schema_test.go:82,100); we collect
        every violation because the engine's sink contract wants detail rows
        (north_rule) — pass/fail agrees either way."""
        out: list[Violation] = []
        self._check(self.schema, value, "$", out, 0)
        return out

    def is_valid(self, value: Any) -> bool:
        return not self.validate(value)

    # ------------------------------------------------------------------
    def _subtree_valid(self, schema: SchemaNode, value: Any, depth: int) -> bool:
        tmp: list[Violation] = []
        self._check(schema, value, "$", tmp, depth)
        return not tmp

    def _check(self, s: SchemaNode, v: Any, path: str, out: list[Violation], depth: int) -> None:
        if depth > MAX_REF_DEPTH:
            out.append(Violation("$ref", path, "max $ref recursion depth exceeded"))
            return
        if s.ref:
            try:
                target = self.resolver.resolve(s.ref)
            except ResolutionError as e:
                out.append(Violation("$ref", path, str(e)))
                return
            self._check(target, v, path, out, depth + 1)
            return

        t = json_type_of(v)

        if s.types and not any(_type_matches(d, v) for d in s.types):
            out.append(Violation("type", path, f"expected {s.types}, got {t}"))

        if s.enum is not None:
            allowed = {_canon(e) for e in s.enum}
            if _canon(v) not in allowed:
                out.append(Violation("enum", path, f"value not in enum"))

        # numeric keywords — apply only to numbers (bool excluded)
        if t in ("integer", "number"):
            if s.multiple_of is not None and not _multiple_of(v, s.multiple_of):
                out.append(Violation("multipleOf", path, f"{v} not a multiple of {s.multiple_of}"))
            if s.minimum is not None:
                if s.exclusive_minimum:
                    if not v > s.minimum:
                        out.append(Violation("exclusiveMinimum", path, f"{v} <= {s.minimum}"))
                elif not v >= s.minimum:
                    out.append(Violation("minimum", path, f"{v} < {s.minimum}"))
            if s.maximum is not None:
                if s.exclusive_maximum:
                    if not v < s.maximum:
                        out.append(Violation("exclusiveMaximum", path, f"{v} >= {s.maximum}"))
                elif not v <= s.maximum:
                    out.append(Violation("maximum", path, f"{v} > {s.maximum}"))

        # string keywords (length = code points, draft-04)
        if t == "string":
            if s.min_length is not None and len(v) < s.min_length:
                out.append(Violation("minLength", path, f"length {len(v)} < {s.min_length}"))
            if s.max_length is not None and len(v) > s.max_length:
                out.append(Violation("maxLength", path, f"length {len(v)} > {s.max_length}"))
            if s.pattern is not None and not s.pattern.search(v):
                out.append(Violation("pattern", path, f"does not match {s.pattern.pattern!r}"))
            if s.format and not _format_ok(s.format, v):
                out.append(Violation("format", path, f"not a valid {s.format}"))

        # array keywords
        if t == "array":
            n = len(v)
            if s.min_items is not None and n < s.min_items:
                out.append(Violation("minItems", path, f"{n} items < {s.min_items}"))
            if s.max_items is not None and n > s.max_items:
                out.append(Violation("maxItems", path, f"{n} items > {s.max_items}"))
            if s.unique_items and n > 1:
                if len({_canon(x) for x in v}) != n:
                    out.append(Violation("uniqueItems", path, "duplicate elements"))
            if s.items is not None:
                if s.items.tuple_mode:
                    arity = len(s.items.schemas)
                    for i, (sub, elem) in enumerate(zip(s.items.schemas, v)):
                        self._check(sub, elem, f"{path}[{i}]", out, depth + 1)
                    if n > arity:
                        if s.additional_items is FORBIDDEN:
                            out.append(
                                Violation("additionalItems", path, f"{n} items > tuple arity {arity}")
                            )
                        elif isinstance(s.additional_items, SchemaNode):
                            for i in range(arity, n):
                                self._check(s.additional_items, v[i], f"{path}[{i}]", out, depth + 1)
                else:
                    sub = s.items.schemas[0]
                    for i, elem in enumerate(v):
                        self._check(sub, elem, f"{path}[{i}]", out, depth + 1)

        # object keywords (JSON "present" = key in dict, even if value null)
        if t == "object":
            keys = set(v.keys())
            if s.min_properties is not None and len(keys) < s.min_properties:
                out.append(Violation("minProperties", path, f"{len(keys)} props < {s.min_properties}"))
            if s.max_properties is not None and len(keys) > s.max_properties:
                out.append(Violation("maxProperties", path, f"{len(keys)} props > {s.max_properties}"))
            for req in s.required:
                if req not in keys:
                    out.append(Violation("required", path, f"missing property {req!r}"))
            for k, sub in s.properties.items():
                if k in v:
                    self._check(sub, v[k], f"{path}.{k}", out, depth + 1)
            matched_by_pattern = set()
            for src, (rx, sub) in s.pattern_properties.items():
                for k in keys:
                    if rx.search(k):
                        matched_by_pattern.add(k)
                        self._check(sub, v[k], f"{path}.{k}", out, depth + 1)
            leftover = keys - set(s.properties) - matched_by_pattern
            if leftover:
                if s.additional_properties is FORBIDDEN:
                    out.append(
                        Violation(
                            "additionalProperties", path,
                            f"unexpected properties {sorted(leftover)}",
                        )
                    )
                elif isinstance(s.additional_properties, SchemaNode):
                    for k in leftover:
                        self._check(s.additional_properties, v[k], f"{path}.{k}", out, depth + 1)
            for pname, deplist in s.dep_names.items():
                if pname in keys:
                    for d in deplist:
                        if d not in keys:
                            out.append(
                                Violation("dependencies", path, f"{pname!r} requires {d!r}")
                            )
            for pname, dschema in s.dep_schemas.items():
                if pname in keys:
                    self._check(dschema, v, path, out, depth + 1)

        # combinators
        for sub in s.all_of:
            self._check(sub, v, path, out, depth + 1)
        if s.any_of:
            if not any(self._subtree_valid(sub, v, depth + 1) for sub in s.any_of):
                out.append(Violation("anyOf", path, "no branch matched"))
        if s.one_of:
            hits = sum(1 for sub in s.one_of if self._subtree_valid(sub, v, depth + 1))
            if hits != 1:
                out.append(Violation("oneOf", path, f"{hits} branches matched, want exactly 1"))
        if s.not_ is not None:
            if self._subtree_valid(s.not_, v, depth + 1):
                out.append(Violation("not", path, "matched forbidden schema"))


def validate_value(schema: SchemaNode, value: Any, **kw) -> list[Violation]:
    """One-shot convenience (compiles a fresh Validator — prefer caching the
    Validator in hot paths, as the reference memoizes its compiled jsval,
    validator/validator.go:41-53)."""
    return Validator(schema, **kw).validate(value)
