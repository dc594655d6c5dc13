"""Go-template conditions → Column.

The reference's second condition syntax renders a template and checks for
"y" (/root/reference/condition_filter/filter.go:23-41), conventionally
written ``{{if <expr>}}y{{end}}``. The common forms compile to Columns:

  {{if .name}}y{{end}}                     field truthy (non-null, non-empty)
  {{if eq .name "childe"}}y{{end}}         equality (also ne lt le gt ge)
  {{if and (eq .a 1) (.b)}}y{{end}}        and / or / not combinators
  {{if before . "-24h"}}y{{end}}           @timestamp vs now()+duration
                                           (template_value_render.go before/after)

Anything else (sprig functions, printf pipelines) raises — the DSL syntax
covers those cases.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TEMPLATE_IF = re.compile(r"^\{\{\s*if\s+(.*?)\s*\}\}\s*y\s*\{\{\s*end\s*\}\}$", re.S)


class TemplateConditionError(ValueError):
    pass


def _tokenize(s: str) -> list[str]:
    toks, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
        elif c in "()":
            toks.append(c)
            i += 1
        elif c == '"':
            j = i + 1
            while j < n and s[j] != '"':
                j += 2 if s[j] == "\\" else 1
            toks.append(s[i : j + 1])
            i = j + 1
        else:
            m = re.match(r"[^\s()]+", s[i:])
            toks.append(m.group(0))
            i += len(m.group(0))
    return toks


class _Parser:
    def __init__(self, toks: list[str], df: DataFrame | None, ts_field: str):
        self.toks = toks
        self.pos = 0
        self.df = df
        self.ts_field = ts_field

    def peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.pos += 1
        return t

    # expr at top level or inside parens: maybe a function call with args
    def parse_expr(self) -> Column:
        t = self.peek()
        if t in ("and", "or", "not", "eq", "ne", "lt", "le", "gt", "ge", "before", "after"):
            return self.parse_call()
        return self.parse_atom()

    def parse_call(self) -> Column:
        name = self.next()
        args: list = []
        while self.peek() is not None and self.peek() != ")":
            args.append(self.parse_atom())
        return self.apply(name, args)

    def parse_atom(self):
        t = self.next()
        if t == "(":
            inner = self.parse_expr()
            if self.next() != ")":
                raise TemplateConditionError("unbalanced parens")
            return inner
        if t is None:
            raise TemplateConditionError("unexpected end of template expr")
        if t == ".":
            from gohangout_spark.expr.paths import field_col

            return field_col(self.ts_field, self.df)
        if t.startswith("."):
            from gohangout_spark.expr.paths import field_col

            path = "".join(f"[{p}]" for p in t[1:].split("."))
            return ("__field__", field_col(path, self.df))
        if t.startswith('"'):
            return t[1:-1]
        try:
            return int(t)
        except ValueError:
            pass
        try:
            return float(t)
        except ValueError:
            raise TemplateConditionError(f"unsupported template token {t!r}")

    # -------------------------------------------------------------- semantics
    def truthy(self, v) -> Column:
        if isinstance(v, tuple) and v[0] == "__field__":
            col = v[1]
            return col.isNotNull() & (col.cast("string") != "")
        if isinstance(v, Column):
            return v
        return F.lit(bool(v))

    def value(self, v) -> Column:
        if isinstance(v, tuple) and v[0] == "__field__":
            return v[1]
        if isinstance(v, Column):
            return v
        return F.lit(v)

    def apply(self, name: str, args: list) -> Column:
        if name == "not":
            return ~self.truthy(args[0])
        if name in ("and", "or"):
            acc = self.truthy(args[0])
            for a in args[1:]:
                acc = (acc & self.truthy(a)) if name == "and" else (acc | self.truthy(a))
            return acc
        if name in ("eq", "ne", "lt", "le", "gt", "ge"):
            a, b = self.value(args[0]), self.value(args[1])
            return {
                "eq": a == b, "ne": a != b, "lt": a < b,
                "le": a <= b, "gt": a > b, "ge": a >= b,
            }[name]
        if name in ("before", "after"):
            from gohangout_spark.expr.conditions import parse_go_duration

            ts = self.value(args[0])
            secs = parse_go_duration(args[1])
            bound = F.current_timestamp() + F.expr(f"INTERVAL {secs:.9f} SECOND")
            return ts < bound if name == "before" else ts > bound
        raise TemplateConditionError(f"unsupported template function {name!r}")


def compile_template_condition(
    s: str, df: DataFrame | None = None, ts_field: str = "@timestamp"
) -> Column:
    m = _TEMPLATE_IF.match(s.strip())
    if not m:
        raise TemplateConditionError(
            f"only '{{{{if <expr>}}}}y{{{{end}}}}' templates supported: {s!r}"
        )
    p = _Parser(_tokenize(m.group(1)), df, ts_field)
    expr = p.parse_expr()
    if p.peek() is not None:
        raise TemplateConditionError(f"trailing tokens in {s!r}")
    return p.truthy(expr)
