"""Declarative rule/segment definitions: JSON → Catalyst Column.

The reference hardcodes its rules and segments as compiled-in lambdas
(`core/Rules.kt`, `cdp/segments/SegmentEngine.kt`) — changing a threshold
means a redeploy.  This engine's rules/segments are already *data*
(named boolean Column expressions); this module closes the loop with a
small, safe JSON dialect so definitions can live in config stores and
compile to the same Column expressions — no Python `eval`, no UDFs, pure
Catalyst (codegen-able, pushdown-able).

Dialect::

    operand   := "column_name" | number | string | bool
               | {"+"|"-"|"*"|"/": [operand, operand]}
    predicate := {"op": ">"|">="|"<"|"<="|"=="|"!=",
                  "left": operand, "right": operand}
               | {"op": "in"|"not_in", "left": operand, "values": [lit, ...]}
               | {"op": "is_null"|"not_null", "left": operand}
               | {"all": [predicate, ...]}    # AND
               | {"any": [predicate, ...]}    # OR
               | {"not": predicate}

Strings are column references; to compare against a string LITERAL wrap
it as ``{"lit": "value"}``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

_ARITH = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
}

_CMP = {
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
}


def compile_operand(spec, resolver=F.col) -> Column:
    if isinstance(spec, str):
        return resolver(spec)
    if isinstance(spec, bool) or isinstance(spec, (int, float)):
        return F.lit(spec)
    if isinstance(spec, dict):
        if "lit" in spec:
            return F.lit(spec["lit"])
        if len(spec) == 1:
            (op, args), = spec.items()
            if op in _ARITH:
                left, right = args
                return _ARITH[op](
                    compile_operand(left, resolver), compile_operand(right, resolver)
                )
    raise ValueError(f"bad operand spec: {spec!r}")


def compile_predicate(spec: dict, resolver=F.col) -> Column:
    if "all" in spec:
        return reduce(lambda a, b: a & b, (compile_predicate(p, resolver) for p in spec["all"]))
    if "any" in spec:
        return reduce(lambda a, b: a | b, (compile_predicate(p, resolver) for p in spec["any"]))
    if "not" in spec:
        return ~compile_predicate(spec["not"], resolver)
    op = spec["op"]
    left = compile_operand(spec["left"], resolver)
    if op in _CMP:
        return _CMP[op](left, compile_operand(spec["right"], resolver))
    if op == "in":
        return left.isin(*spec["values"])
    if op == "not_in":
        return ~left.isin(*spec["values"])
    if op == "is_null":
        return left.isNull()
    if op == "not_null":
        return left.isNotNull()
    raise ValueError(f"bad predicate op: {op!r}")


def segments_from_spec(spec: dict) -> dict:
    """{name: predicate-spec} → {name: resolver-thunk} — drop-in for
    ``operators.segments.segment_membership(segments=...)``, matching the
    DEFAULT_SEGMENTS calling convention (a thunk taking an optional
    column resolver so the same definition evaluates against a plain
    snapshot or segment_events' suffixed dual-snapshot row)."""
    return {
        name: (lambda c=F.col, _p=p: compile_predicate(_p, resolver=c))
        for name, p in spec.items()
    }
