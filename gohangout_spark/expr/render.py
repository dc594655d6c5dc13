"""Value renders → Column compiler.

The reference renders values for add_fields / sink index names / message keys
via several syntaxes (/root/reference/value_render/value_render.go:28-56):

- field refs (bare / bracket / jsonpath)          → paths.field_col
- ES index pattern ``web-%{appid}-%{+2006.01.02}``
  (/root/reference/value_render/index_render.go:68-153)
  → concat(lit, col, date_format(@timestamp, fmt))
- Go template ``{{.first}}.{{.last}}``
  (/root/reference/value_render/template_value_render.go:41-158)
  → concat of the compiled actions; ``_Action`` is the one action
  compiler, which ``{{if X}}y{{end}}`` conditions (conditions.py) share
- anything else → literal
"""

from __future__ import annotations

import operator
import re
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gohangout_spark.expr.dateformat import go_layout_to_java
from gohangout_spark.expr.paths import field_col, is_field_ref

_INDEX_PART = re.compile(r"%\{([^}]+)\}")


def compile_render(
    value,
    df: DataFrame | None = None,
    ts_field: str = "@timestamp",
    bare_is_field: bool = True,
    allow_udf_templates: bool = False,
) -> Column:
    """Compile a render spec to a Column.

    ``bare_is_field`` mirrors GetValueRender2 vs GetValueRender
    (value_render.go:68-74): in add_fields the *value* side treats a bare word
    as a literal unless it looks like a reference; field-name sides treat bare
    words as one-level fields.

    ``allow_udf_templates`` opts in to the sprig long-tail pandas-UDF
    fallback (SURVEY §1.3) for template actions outside the
    Column-compiled subset. Off by default: the UDF path is the slow path,
    and a silent fallback would hide a 10-100x regression in a hot
    pipeline.
    """
    if not isinstance(value, str):
        return F.lit(value)
    s = value
    if is_field_ref(s):
        return field_col(s, df)
    if "%{" in s:
        return _compile_index_pattern(s, df, ts_field)
    if "{{" in s:
        return _compile_template(s, df, ts_field, allow_udf=allow_udf_templates)
    if bare_is_field and re.fullmatch(r"[A-Za-z_@][A-Za-z0-9_@.\-]*", s or "") and (
        df is None or s in df.columns
    ):
        return field_col(s, df)
    return F.lit(s)


def _compile_index_pattern(s: str, df: DataFrame | None, ts_field: str) -> Column:
    """``web-%{appid}-%{+2006.01.02}`` → concat(lit,col,date_format(...))."""
    cols: list[Column] = []
    pos = 0
    for m in _INDEX_PART.finditer(s):
        if m.start() > pos:
            cols.append(F.lit(s[pos : m.start()]))
        inner = m.group(1)
        if inner.startswith("+"):
            fmt = go_layout_to_java(inner[1:])
            cols.append(F.date_format(field_col(ts_field, df), fmt))
        else:
            cols.append(field_col(inner, df).cast("string"))
        pos = m.end()
    if pos < len(s):
        cols.append(F.lit(s[pos:]))
    return cols[0] if len(cols) == 1 else F.concat(*cols)


_ANY_ACTION = re.compile(r"\{\{\s*(.*?)\s*\}\}", re.S)


def _compile_template(
    s: str, df: DataFrame | None, ts_field: str = "@timestamp", allow_udf: bool = False
) -> Column:
    """``{{.a}}-{{.b.c}}``, the Go builtins ``eq ne lt le gt ge and or
    not``, the reference's custom template functions, and the
    commonly-used sprig string/math subset
    (template_value_render.go:41-158 registers sprig.FuncMap plus custom
    funcs) — all compiled to Columns by ``_Action``. Unknown actions raise
    at compile time unless ``allow_udf`` routes known long-tail sprig
    functions through a pandas UDF."""
    cols: list[Column] = []
    pos = 0
    for m in _ANY_ACTION.finditer(s):
        if m.start() > pos:
            cols.append(F.lit(s[pos : m.start()]))
        action, _ = _Action(m.group(1), df, ts_field, allow_udf).compile()
        cols.append(action.cast("string"))
        pos = m.end()
    if pos < len(s):
        cols.append(F.lit(s[pos:]))
    return cols[0] if len(cols) == 1 else F.concat(*cols)


_WORD = re.compile(r"[^\s()|]+")


def _tokenize_action(expr: str) -> list[str]:
    """Quote-aware split of a template action into ``(``, ``)``, ``|``,
    string literals (escapes kept) and bare words."""
    toks, i, n = [], 0, len(expr)
    while i < n:
        c = expr[i]
        if c.isspace():
            i += 1
        elif c in "()|":
            toks.append(c)
            i += 1
        elif c == '"':
            j = i + 1
            while j < n and expr[j] != '"':
                j += 2 if expr[j] == "\\" else 1
            toks.append(expr[i : j + 1])
            i = j + 1
        else:
            m = _WORD.match(expr, i)
            toks.append(m.group(0))
            i = m.end()
    return toks


_IDENT = re.compile(r"[A-Za-z_]\w*")
# functions that read the event's @timestamp: Go spells the event ``.``
_EVENT_FUNCS = ("timestamp", "before", "after")
# functions whose result is a boolean, which is its own Go ``if`` truth
_BOOL_FUNCS = frozenset((
    "eq", "ne", "lt", "le", "gt", "ge", "and", "or", "not", "before", "after",
    "contains", "containsAny", "hasprefix", "hassuffix", "empty", "has",
))
_COMPARE = {
    "eq": operator.eq, "ne": operator.ne, "lt": operator.lt,
    "le": operator.le, "gt": operator.gt, "ge": operator.ge,
}


def _truth(col: Column, is_bool: bool, df: DataFrame | None) -> Column:
    """Go ``if`` truth. A boolean function result is itself. Any other
    value follows Go's rule for its type, resolved on ``df`` at plan time:
    a boolean is itself, a string, binary, array or map is true when
    non-empty, and null is false. A number is true when non-null: the
    reference's JSON decoder yields ``json.Number`` (a string), so ``0``
    is true there; a struct or timestamp is true when non-null too."""
    if is_bool:
        return col
    if df is None:
        raise ValueError("Go `if` truth needs the event frame to resolve the value's type")
    dtype = df.select(col).schema[0].dataType
    if isinstance(dtype, T.NullType):
        return F.lit(False)
    if isinstance(dtype, T.BooleanType):
        test = col
    elif isinstance(dtype, (T.StringType, T.BinaryType)):
        test = F.length(col) > 0
    elif isinstance(dtype, (T.ArrayType, T.MapType)):
        test = F.size(col) > 0
    else:
        test = col.isNotNull()
    return F.coalesce(test, F.lit(False))


class _Action:
    """Recursive-descent compiler of one template action: a pipeline of
    commands joined by ``|``, each a function name with operands or a lone
    operand; a parenthesised pipeline is an operand. Pipelines append the
    piped value as the LAST argument, like Go templates. Every value
    compiles to a ``(Column, is_bool)`` pair."""

    def __init__(self, expr: str, df: DataFrame | None, ts_field: str, allow_udf: bool):
        self.expr, self.df, self.ts_field, self.allow_udf = expr, df, ts_field, allow_udf
        self.toks = _tokenize_action(expr)
        self.pos = 0

    def compile(self) -> tuple[Column, bool]:
        out = self._pipeline()
        if self.pos != len(self.toks):
            raise ValueError(f"bad template action {self.expr!r}")
        return out

    def _peek(self) -> str | None:
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def _at_end(self) -> bool:
        return self._peek() in (None, ")", "|")

    def _pipeline(self) -> tuple[Column, bool]:
        piped = self._command(None)
        while self._peek() == "|":
            self.pos += 1
            piped = self._command(piped)
        return piped

    def _command(self, piped: tuple[Column, bool] | None) -> tuple[Column, bool]:
        if self._at_end():
            raise ValueError(f"empty template action in {self.expr!r}")
        head = self.toks[self.pos]
        if not _IDENT.fullmatch(head):
            value = self._operand()
            if not self._at_end():
                raise ValueError(f"bad template action {self.expr!r}")
            return value
        self.pos += 1
        if head in _EVENT_FUNCS and self._peek() == ".":
            self.pos += 1
        args: list[tuple[Column, bool]] = []
        raw_args: list[str | None] = []
        while not self._at_end():
            tok = self._peek()
            args.append(self._operand())
            raw_args.append(None if tok == "(" else tok)
        if piped is not None:
            args.append(piped)
            raw_args.append(None)
        if head in ("and", "or", "not"):
            cols = [_truth(c, b, self.df) for c, b in args]
        else:
            cols = [c for c, _ in args]
        try:
            col = _apply_template_func(head, cols, raw_args, self.expr, self.df, self.ts_field)
        except UnsupportedTemplateFunc:
            if not (self.allow_udf and head in SPRIG_PY):
                raise
            col = _sprig_udf_call(head, cols)
        return col, head in _BOOL_FUNCS

    def _operand(self) -> tuple[Column, bool]:
        tok = self.toks[self.pos]
        self.pos += 1
        if tok == "(":
            value = self._pipeline()
            if self._peek() != ")":
                raise ValueError(f"unbalanced parens in {self.expr!r}")
            self.pos += 1
            return value
        if tok == ".":
            raise ValueError(
                f"'.' is only an argument of {'/'.join(_EVENT_FUNCS)}: {self.expr!r}"
            )
        return _action_arg(tok, self.df), False


def compile_action_truth(
    expr: str, df: DataFrame | None = None, ts_field: str = "@timestamp"
) -> Column:
    """The Go ``{{if expr}}`` truth of one template action."""
    return _truth(*_Action(expr, df, ts_field, allow_udf=False).compile(), df)


def _field_ref(tok: str, df: DataFrame | None) -> Column:
    path = "".join(f"[{p}]" for p in tok[1:].split("."))
    return field_col(path, df)


def _apply_template_func(
    head: str, args: list[Column], raw_args: list, expr: str,
    df: DataFrame | None, ts_field: str,
) -> Column:
    def need(n):
        if len(args) != n:
            raise ValueError(f"{head} needs {n} arg(s): {expr!r}")

    def s(i):
        return args[i].cast("string")

    # ---- Go template builtins; and/or/not get each operand's ``if``
    # truth and return a boolean (Go returns the deciding operand) ----
    if head in _COMPARE:
        need(2)
        return _COMPARE[head](args[0], args[1])
    if head == "not":
        need(1)
        return ~args[0]
    if head in ("and", "or"):
        if not args:
            raise ValueError(f"{head} needs operands: {expr!r}")
        return reduce(operator.and_ if head == "and" else operator.or_, args)

    # ---- reference custom funcs (template_value_render.go:41-158) ----
    if head == "now":  # Unix MILLISECONDS (:58)
        return F.unix_millis(F.current_timestamp())
    if head == "timestamp":  # event @timestamp in ms, 0 when absent (:59-68)
        ts = field_col(ts_field, df)
        return F.coalesce(F.unix_millis(ts), F.lit(0).cast("long"))
    if head in ("before", "after"):  # @timestamp vs now()+dur (:69-95)
        from gohangout_spark.expr.conditions import parse_go_duration

        need(1)
        secs = parse_go_duration(raw_args[0].strip('"'))
        bound = F.current_timestamp() + F.expr(f"INTERVAL {secs:.9f} SECOND")
        ts = field_col(ts_field, df)
        return ts < bound if head == "before" else ts > bound
    if head in ("plus", "minus", "multiply", "divide"):  # float64 math (:97-129)
        need(2)
        a, b = (c.cast("double") for c in args)
        return {"plus": a + b, "minus": a - b, "multiply": a * b, "divide": a / b}[head]
    if head == "mod":  # int64 (:130-137)
        need(2)
        a, b = (c.cast("long") for c in args)
        return a % b
    if head == "compare":  # strings.Compare
        need(2)
        return F.when(s(0) < s(1), -1).when(s(0) > s(1), 1).otherwise(0)
    if head == "contains":
        need(2)
        return s(0).contains(s(1))
    if head == "containsAny":
        need(2)
        return s(0).rlike(F.concat(F.lit("["), F.lit(re.escape(raw_args[1].strip('"'))), F.lit("]"))) \
            if raw_args[1] is not None else s(0).rlike(F.concat(F.lit("["), s(1), F.lit("]")))
    if head == "hasprefix":
        need(2)
        return s(0).startswith(s(1))
    if head == "hassuffix":
        need(2)
        return s(0).endswith(s(1))
    if head == "replace":  # strings.Replace(s, old, new, n); n=-1 → all
        need(4)
        n = raw_args[3]
        if n is not None and n.strip() != "-1":
            raise ValueError(f"replace: only n=-1 compiles to a Column ({expr!r})")
        return F.replace(s(0), s(1), s(2))
    if head == "timeFormat":  # t.Format(goLayout)
        need(2)
        return F.date_format(args[0], go_layout_to_java(raw_args[1].strip('"')))

    # ---- sprig common subset (value-last calling convention) ----
    if head in ("upper", "lower", "trim", "title"):
        need(1)
        fn = {"upper": F.upper, "lower": F.lower, "trim": F.trim, "title": F.initcap}[head]
        return fn(s(0))
    if head == "trimAll":
        need(2)
        return F.btrim(s(1), s(0))
    if head == "trimPrefix":
        need(2)
        rest = s(1).substr(F.length(s(0)) + 1, F.length(s(1)))
        return F.when(s(1).startswith(s(0)), rest).otherwise(s(1))
    if head == "trimSuffix":
        need(2)
        return F.when(
            s(1).endswith(s(0)), s(1).substr(F.lit(1), F.length(s(1)) - F.length(s(0)))
        ).otherwise(s(1))
    if head == "repeat":
        need(2)
        return F.repeat(s(1), args[0].cast("int"))
    if head == "substr":  # substr start end s — 0-based, end exclusive
        need(3)
        start, end = args[0].cast("int"), args[1].cast("int")
        return s(2).substr(start + 1, end - start)
    if head == "trunc":
        need(2)
        return s(1).substr(F.lit(1), args[0].cast("int"))
    if head == "nospace":
        need(1)
        return F.regexp_replace(s(0), r"\s+", "")
    if head == "b64enc":
        need(1)
        return F.base64(s(0).cast("binary"))
    if head == "b64dec":
        need(1)
        return F.unbase64(s(0)).cast("string")
    if head == "quote":
        need(1)
        return F.concat(F.lit('"'), s(0), F.lit('"'))
    if head == "default":  # default d v → v unless null/empty
        need(2)
        v = args[1]
        return F.when(v.isNull() | (v.cast("string") == ""), args[0]).otherwise(v)
    if head == "coalesce":
        return F.coalesce(*args)
    if head == "ternary":  # ternary t f cond
        need(3)
        return F.when(args[2].cast("boolean"), args[0]).otherwise(args[1])
    if head in ("add", "sub", "mul"):  # sprig int64 math
        a = [c.cast("long") for c in args]
        if head == "add":
            out = a[0]
            for c in a[1:]:
                out = out + c
            return out
        need(2)
        return a[0] - a[1] if head == "sub" else a[0] * a[1]
    if head == "div":
        need(2)
        return (args[0].cast("long") / args[1].cast("long")).cast("long")
    if head == "add1":
        need(1)
        return args[0].cast("long") + 1
    if head == "len":
        need(1)
        return F.length(s(0))
    if head == "atoi":
        need(1)
        return s(0).try_cast("int")
    if head == "toString":
        need(1)
        return s(0)
    if head == "cat":
        return F.concat_ws(" ", *[s(i) for i in range(len(args))])
    if head == "sha1sum":
        need(1)
        return F.sha1(s(0).cast("binary"))
    if head == "sha256sum":
        need(1)
        return F.sha2(s(0).cast("binary"), 256)
    # ---- sprig tranche 2 (r4): math / casts / date / url, still Columns ----
    if head in ("floor", "ceil"):
        need(1)
        fn = F.floor if head == "floor" else F.ceil
        return fn(args[0].cast("double")).cast("double")  # sprig returns float64
    if head == "round":  # value-last: round PLACES v (module convention)
        need(2)
        return F.round(args[1].cast("double"), args[0].cast("int"))
    if head in ("max", "min"):  # sprig int64 varargs
        a = [c.cast("long") for c in args]
        return a[0] if len(a) == 1 else (F.greatest if head == "max" else F.least)(*a)
    if head in ("maxf", "minf"):
        a = [c.cast("double") for c in args]
        return a[0] if len(a) == 1 else (F.greatest if head == "maxf" else F.least)(*a)
    if head in ("int", "int64"):
        need(1)
        return s(0).try_cast("double").cast("long")  # sprig casts via float64
    if head == "float64":
        need(1)
        return s(0).try_cast("double")
    if head == "empty":
        need(1)
        return args[0].isNull() | (s(0) == "")
    if head == "date":  # value-last: date GO_LAYOUT t (sprig date formatting)
        need(2)
        return F.date_format(args[1], go_layout_to_java(raw_args[0].strip('"')))
    if head == "urlquery":  # Go template builtin: URL query escaping
        need(1)
        return F.url_encode(s(0))
    # ---- sprig tranche 3 (r4): list functions, value-last like the rest.
    # The list operand is an ARRAY column (events carry []any fields);
    # intermediate pipeline stages pass Columns unchanged, so
    # `{{.tags | sortAlpha | join ","}}` composes; only the action's final
    # result is stringified.
    if head == "join":  # join SEP list — literal separator, like splitList
        need(2)
        if raw_args[0] is None or not raw_args[0].startswith('"'):
            raise ValueError(f"join needs a literal separator: {expr!r}")
        return F.concat_ws(
            raw_args[0].strip('"'),
            F.transform(args[1], lambda x: x.cast("string")),
        )
    if head == "splitList":  # splitList SEP s — literal separator
        need(2)
        if raw_args[0] is None or not raw_args[0].startswith('"'):
            raise ValueError(f"splitList needs a literal separator: {expr!r}")
        return F.split(s(1), re.escape(raw_args[0].strip('"')))
    if head in ("first", "last"):
        need(1)
        # try_element_at: sprig's first/last return nil on an empty list;
        # plain element_at THROWS under this repo's ANSI-on Spark 4 default
        return F.try_element_at(args[0], F.lit(1 if head == "first" else -1))
    if head == "initial":  # all but last
        need(1)
        return F.slice(args[0], 1, F.greatest(F.size(args[0]) - 1, F.lit(0)))
    if head == "rest":  # all but first
        need(1)
        # clamped slice keeps the input's element type (an explicit empty
        # array literal would pin array<string> and break int lists)
        return F.slice(args[0], 2, F.greatest(F.size(args[0]) - 1, F.lit(0)))
    if head == "sortAlpha":
        need(1)
        return F.array_sort(F.transform(args[0], lambda x: x.cast("string")))
    if head == "uniq":
        need(1)
        return F.array_distinct(args[0])
    if head == "compact":  # drop empty/null entries
        need(1)
        return F.filter(
            args[0], lambda x: x.isNotNull() & (x.cast("string") != "")
        )
    if head == "reverse":
        need(1)
        return F.reverse(args[0])
    if head == "has":  # has NEEDLE list
        need(2)
        return F.array_contains(args[1], args[0])
    if head == "without":  # without ITEM... list (value last)
        out = args[-1]
        for item in args[:-1]:
            out = F.array_remove(out, item)
        return out
    raise UnsupportedTemplateFunc(f"unsupported template function {head!r} in {expr!r}")


class UnsupportedTemplateFunc(ValueError):
    """Template action outside the Column-compiled subset (distinct from
    arity/argument errors so the UDF fallback never masks a genuine misuse
    of a supported function)."""


# --------------------------------------------------------------------------
# sprig long tail (pandas-UDF fallback, opt-in)
# --------------------------------------------------------------------------
# Pure-Python implementations of deterministic sprig functions that have no
# reasonable Column translation. Go reference: the full sprig.FuncMap is
# registered at template_value_render.go:42; each entry here mirrors the
# documented sprig/goutils behavior. Value-last calling convention like the
# Column subset (pipelines append the piped value as the last argument).
# Randomized sprig funcs (randAlpha, shuffle, uuidv4) are deliberately
# absent: replay/retry of a Spark task must be deterministic.

def _go_expand(repl: str) -> str:
    """Go regexp replacement syntax (${1}, $1) → Python (\\1)."""
    return re.sub(r"\$\{(\w+)\}|\$(\w+)", lambda m: "\\" + (m.group(1) or m.group(2)), repl)


import posixpath as _posixpath
import zlib as _zlib


def _go_path_base(s: str) -> str:
    """Go path.Base: "" → ".", all-slashes → "/", else last element."""
    if not s:
        return "."
    s = s.rstrip("/")
    if not s:
        return "/"
    return _posixpath.basename(s)


def _go_path_dir(s: str) -> str:
    """Go path.Dir: Clean(path minus last element); "a" → ".", "/a" → "/"."""
    d = _posixpath.dirname(s)
    if not d:
        return "."
    return _go_path_clean(d)


def _go_path_ext(s: str) -> str:
    """Go path.Ext: suffix from the FINAL dot in the last element — unlike
    posixpath.splitext, a leading-dot name like ".bashrc" IS an extension
    in Go (returns the whole ".bashrc")."""
    base = s.rsplit("/", 1)[-1]
    i = base.rfind(".")
    return base[i:] if i >= 0 else ""


def _go_path_clean(s: str) -> str:
    """Go path.Clean: normpath, but Go collapses a leading "//" that POSIX
    (and posixpath.normpath) deliberately preserves."""
    if not s:
        return "."
    r = _posixpath.normpath(s)
    if r.startswith("//"):
        r = "/" + r.lstrip("/")
    return r


def _wrap_words(width: int, s: str) -> str:
    """goutils Wrap: greedy word wrap at `width` columns, long words kept."""
    out, line = [], ""
    for w in s.split(" "):
        if not line:
            line = w
        elif len(line) + 1 + len(w) <= width:
            line += " " + w
        else:
            out.append(line)
            line = w
    out.append(line)
    return "\n".join(out)


SPRIG_PY = {
    # case conversions (goutils ToSnakeCase / ToCamelCase / SwapCase)
    "snakecase": lambda s: re.sub(
        r"(?<=[a-z0-9])(?=[A-Z])", "_", re.sub(r"[\s\-]+", "_", s)
    ).lower(),
    "kebabcase": lambda s: re.sub(
        r"(?<=[a-z0-9])(?=[A-Z])", "-", re.sub(r"[\s_]+", "-", s)
    ).lower(),
    "camelcase": lambda s: "".join(
        p[:1].upper() + p[1:] for p in re.split(r"[_\s\-]+", s)
    ),
    "swapcase": lambda s: s.swapcase(),
    "untitle": lambda s: re.sub(r"(^|\s)([A-Z])", lambda m: m.group(1) + m.group(2).lower(), s),
    "initials": lambda s: "".join(w[0] for w in s.split() if w),
    # abbrev maxWidth s — truncate to maxWidth INCLUDING the "..." suffix
    "abbrev": lambda n, s: s if len(s) <= int(n) else s[: int(n) - 3] + "...",
    "wrap": lambda n, s: _wrap_words(int(n), s),
    "wrapWith": lambda n, sep, s: sep.join(_wrap_words(int(n), s).split("\n")),
    "indent": lambda n, s: "\n".join(" " * int(n) + l for l in s.split("\n")),
    "nindent": lambda n, s: "\n" + "\n".join(" " * int(n) + l for l in s.split("\n")),
    "squote": lambda s: f"'{s}'",
    "plural": lambda one, many, n: one if int(n) == 1 else many,
    "seq": lambda *a: " ".join(
        str(i)
        for i in (
            range(1, int(a[0]) + 1)
            if len(a) == 1
            else range(int(a[0]), int(a[1]) + 1)
            if len(a) == 2
            else range(int(a[0]), int(a[2]) + (1 if int(a[1]) > 0 else -1), int(a[1]))
        )
    ),
    # Go RE2 regex funcs (RE2 is a compatible subset of Python re for the
    # deterministic features; Go's ${n} expansion is translated)
    "regexMatch": lambda p, s: str(bool(re.search(p, s))).lower(),
    "regexFind": lambda p, s: (lambda m: m.group(0) if m else "")(re.search(p, s)),
    # NOTE sprig's regex trio puts the INPUT in the middle: (regex, s, repl)
    "regexReplaceAll": lambda p, s, r: re.sub(p, _go_expand(r), s),
    "regexReplaceAllLiteral": lambda p, s, r: re.sub(p, r.replace("\\", "\\\\"), s),
    "regexSplit": lambda p, s, n: " ".join(re.split(p, s, maxsplit=0 if int(n) == -1 else int(n))),
    # tranche 2 (r4): Go path helpers + adler32 — deterministic, no Column
    # translation. Go path.Base("")/path.Dir("a") return "." — mirrored
    # explicitly where posixpath differs.
    "base": lambda s: _go_path_base(s),
    "dir": lambda s: _go_path_dir(s),
    "ext": lambda s: _go_path_ext(s),
    "clean": lambda s: _go_path_clean(s),
    "isAbs": lambda s: str(s.startswith("/")).lower(),
    "osBase": lambda s: _go_path_base(s),
    "osDir": lambda s: _go_path_dir(s),
    "osExt": lambda s: _go_path_ext(s),
    "osClean": lambda s: _go_path_clean(s),
    "osIsAbs": lambda s: str(s.startswith("/")).lower(),
    "adler32sum": lambda s: str(_zlib.adler32(s.encode("utf-8"))),
}


def _sprig_udf_call(head: str, args: list[Column]) -> Column:
    """Arrow-batched pandas UDF evaluating one long-tail sprig function.
    All inputs ship as strings (sprig's template context stringifies
    arguments the same way); NULL in → NULL out, matching Column semantics."""
    from pyspark.sql.functions import pandas_udf

    pyfn = SPRIG_PY[head]

    @pandas_udf("string")
    def run(*series):
        import pandas as pd

        def one(vals):
            if any(v is None for v in vals):
                return None
            return pyfn(*vals)

        return pd.Series([one(vals) for vals in zip(*series)])

    return run(*[a.cast("string") for a in args])


def _action_arg(tok: str, df: DataFrame | None) -> Column:
    if tok.startswith("."):
        return _field_ref(tok, df)
    if tok.startswith('"') and tok.endswith('"'):
        return F.lit(tok[1:-1].replace('\\"', '"').replace("\\\\", "\\"))
    try:
        return F.lit(int(tok))
    except ValueError:
        pass
    try:
        return F.lit(float(tok))
    except ValueError:
        raise ValueError(f"bad template argument {tok!r}")
