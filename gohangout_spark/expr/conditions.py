"""Conditions → PySpark Columns (and → bool over dicts).

The reference guards filters/outputs with a list of ``if`` conditions that are
AND-ed together (/root/reference/condition_filter/filter.go:743-754). Each
condition is either a boolean expression over predicate calls combined with
``&& || ! ( )`` (shunting-yard parser,
/root/reference/condition_filter/parse.go:27-190) or a Go template rendering
"y" (filter.go:23-41).

The DSL has one tokenizer and one shunting-yard (``_fold``); it folds into a
Column (``compile_condition``) or, for driver-side uses like the ES sniff
``match``, into a bool over a dict (``evaluate_condition``). A template
condition ``{{if X}}y{{end}}`` compiles ``X`` with the value render's action
compiler (render.py) and takes its Go ``if`` truth:

  {{if .name}}y{{end}}                     field truthy (non-null, non-empty)
  {{if eq .name "childe"}}y{{end}}         equality (also ne lt le gt ge)
  {{if and (eq .a 1) (.b)}}y{{end}}        and / or / not combinators
  {{if before . "-24h"}}y{{end}}           @timestamp vs now()+duration
                                           (``.`` is the event; optional)

Predicates (/root/reference/condition_filter/filter.go):
  Exist(a,b)            path a.b exists (absent≡null in fixed schema)
  EQ(a,b,v)             path equals literal (quoted=str, bare=int/float, nil)
  IN(f,"v")             v ∈ list field f
  HasPrefix/HasSuffix/Contains(f,"s")
  ContainsAny(f,"chars")
  Match(f,"regex")
  Random(n)             true with probability 1/n
  Before(d) / After(d)  @timestamp vs now()+Go-duration d

Operator precedence: ! > && > || (parse.go:10-17); ! is right-associative.
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gohangout_spark.expr.paths import field_col, field_exists, parse_field
from gohangout_spark.expr.render import compile_action_truth


class ConditionSyntaxError(ValueError):
    pass


class TemplateConditionError(ValueError):
    pass


# ---------------------------------------------------------------- tokenizer

@dataclass
class Tok:
    kind: str  # 'pred' | 'op' | 'lparen' | 'rparen'
    text: str


def _tokenize(s: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
        elif s.startswith("&&", i):
            toks.append(Tok("op", "&&"))
            i += 2
        elif s.startswith("||", i):
            toks.append(Tok("op", "||"))
            i += 2
        elif c == "!":
            toks.append(Tok("op", "!"))
            i += 1
        elif c == "(":
            toks.append(Tok("lparen", "("))
            i += 1
        elif c == ")":
            toks.append(Tok("rparen", ")"))
            i += 1
        else:
            m = re.match(r"[A-Za-z_][A-Za-z0-9_]*", s[i:])
            if not m:
                raise ConditionSyntaxError(f"unexpected char {c!r} at {i} in {s!r}")
            name = m.group(0)
            j = i + len(name)
            while j < n and s[j].isspace():
                j += 1
            if j >= n or s[j] != "(":
                raise ConditionSyntaxError(f"predicate {name!r} missing '(' in {s!r}")
            # scan balanced parens, honoring quotes and backslash escapes
            depth, k, in_str = 0, j, False
            while k < n:
                ch = s[k]
                if in_str:
                    if ch == "\\":
                        k += 1
                    elif ch == '"':
                        in_str = False
                elif ch == '"':
                    in_str = True
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        break
                k += 1
            if depth != 0:
                raise ConditionSyntaxError(f"unbalanced parens in {s!r}")
            toks.append(Tok("pred", name + s[j : k + 1]))
            i = k + 1
    return toks


# ------------------------------------------------------------- arg parsing

def _split_args(argstr: str) -> list[str]:
    args, cur, depth, in_str, escaped = [], [], 0, False, False
    for ch in argstr:
        if in_str:
            cur.append(ch)
            if escaped:
                escaped = False
            elif ch == "\\":
                escaped = True
            elif ch == '"':
                in_str = False
        elif ch == '"':
            cur.append(ch)
            in_str = True
        elif ch == "(" or ch == "[":
            depth += 1
            cur.append(ch)
        elif ch == ")" or ch == "]":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        args.append("".join(cur).strip())
    return [a for a in args if a != ""]


def _literal(arg: str):
    """Typed literal per filter.go:174-257: quoted=string, bare=num, nil=null."""
    if arg == "nil":
        return None
    if len(arg) >= 2 and arg[0] == '"' and arg[-1] == '"':
        return arg[1:-1].replace('\\"', '"').replace("\\\\", "\\")
    try:
        return int(arg)
    except ValueError:
        pass
    try:
        return float(arg)
    except ValueError:
        raise ConditionSyntaxError(f"bad literal {arg!r} (quote strings)")


_GO_DUR = re.compile(r"(-?\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")
_DUR_SECONDS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_go_duration(s: str) -> float:
    """Go time.ParseDuration subset → seconds (e.g. '-1h30m' → -5400)."""
    s = s.strip()
    neg = s.startswith("-")
    if neg or s.startswith("+"):
        s = s[1:]
    total, pos = 0.0, 0
    for m in _GO_DUR.finditer(s):
        if m.start() != pos:
            raise ConditionSyntaxError(f"bad duration {s!r}")
        total += float(m.group(1)) * _DUR_SECONDS[m.group(2)]
        pos = m.end()
    if pos != len(s) or pos == 0:
        raise ConditionSyntaxError(f"bad duration {s!r}")
    return -total if neg else total


def _path_of(args: list[str]) -> str:
    """Multi-arg path (Exist(a,b) → a.b) or single jsonpath/bracket arg."""
    if len(args) == 1:
        return args[0]
    return "".join(f"[{a}]" for a in args)


# ---------------------------------------------------------- predicate compile

def _compile_pred(text: str, df: DataFrame | None, ts_field: str) -> Column:
    name, argstr = text.split("(", 1)
    args = _split_args(argstr[:-1])

    if name == "Exist":
        return field_exists(_path_of(args), df)
    if name == "EQ":
        if len(args) < 2:
            raise ConditionSyntaxError(f"EQ needs path and value: {text}")
        path, val = _path_of(args[:-1]), _literal(args[-1])
        col = field_col(path, df)
        return col.isNull() if val is None else col == F.lit(val)
    if name == "IN":
        if len(args) < 2:
            raise ConditionSyntaxError(f"IN needs path and value: {text}")
        path, val = _path_of(args[:-1]), _literal(args[-1])
        return F.array_contains(field_col(path, df), F.lit(val))
    if name in ("HasPrefix", "HasSuffix", "Contains", "ContainsAny", "Match"):
        if len(args) < 2:
            raise ConditionSyntaxError(f"{name} needs path and string: {text}")
        path, val = _path_of(args[:-1]), _literal(args[-1])
        if not isinstance(val, str):
            # reference configs use bare numbers against string fields,
            # e.g. HasPrefix(message,2) in test/itest-2.yml
            val = str(val)
        col = field_col(path, df).cast("string")
        if name == "HasPrefix":
            return col.startswith(val)
        if name == "HasSuffix":
            return col.endswith(val)
        if name == "Contains":
            return col.contains(val)
        if name == "ContainsAny":
            if val == "":
                return F.lit(False)
            return col.rlike("[" + re.escape(val).replace("\\ ", " ") + "]")
        return col.rlike(val)  # Match
    if name == "Random":
        n = int(args[0])
        return F.rand() * n < 1
    if name in ("Before", "After"):
        secs = parse_go_duration(args[0])
        bound = F.current_timestamp() + F.expr(f"INTERVAL {secs:.9f} SECOND")
        ts = field_col(ts_field, df)
        return ts < bound if name == "Before" else ts > bound
    raise ConditionSyntaxError(f"unknown predicate {name!r}")


# ------------------------------------------------------- dict predicates

def _dict_get(obj, path: str):
    cur = obj
    for seg in parse_field(path):
        if isinstance(seg, int):
            if not isinstance(cur, (list, tuple)) or seg >= len(cur):
                return None, False
        elif not isinstance(cur, dict) or seg not in cur:
            return None, False
        cur = cur[seg]
    return cur, True


def _eval_pred(text: str, obj) -> bool:
    name, argstr = text.split("(", 1)
    args = _split_args(argstr[:-1])

    if name == "Exist":
        return _dict_get(obj, _path_of(args))[1]
    if name in ("EQ", "IN", "HasPrefix", "HasSuffix", "Contains", "ContainsAny", "Match"):
        if len(args) < 2:
            raise ConditionSyntaxError(f"{name} needs path and value: {text}")
        path, val = _path_of(args[:-1]), _literal(args[-1])
        v, found = _dict_get(obj, path)
        if name == "EQ":
            if val is None:
                return found and v is None
            if isinstance(val, (int, float)) and isinstance(v, (int, float)):
                return float(v) == float(val)
            return v == val
        if name == "IN":
            return isinstance(v, (list, tuple)) and val in v
        if not isinstance(v, str):
            return False
        sval = val if isinstance(val, str) else str(val)
        if name == "HasPrefix":
            return v.startswith(sval)
        if name == "HasSuffix":
            return v.endswith(sval)
        if name == "Contains":
            return sval in v
        if name == "ContainsAny":
            return any(ch in v for ch in sval)
        return re.search(sval, v) is not None  # Match
    raise ConditionSyntaxError(
        f"predicate {name!r} not supported in dict conditions (sniff match)"
    )


# ------------------------------------------------------------ shunting yard

_PREC = {"!": 3, "&&": 2, "||": 1}


def _fold(s: str, leaf, and_, or_, not_):
    """Parse the boolean DSL ``s`` and fold it bottom-up: each predicate
    token through ``leaf``, each ``&& || !`` through ``and_ or_ not_``."""
    out: list = []
    ops: list[str] = []

    def reduce_op(op: str):
        if op == "!":
            if not out:
                raise ConditionSyntaxError(f"dangling '!' in {s!r}")
            out.append(not_(out.pop()))
        else:
            if len(out) < 2:
                raise ConditionSyntaxError(f"dangling {op!r} in {s!r}")
            b, a = out.pop(), out.pop()
            out.append(and_(a, b) if op == "&&" else or_(a, b))

    for t in _tokenize(s):
        if t.kind == "pred":
            out.append(leaf(t.text))
        elif t.kind == "lparen":
            ops.append("(")
        elif t.kind == "rparen":
            while ops and ops[-1] != "(":
                reduce_op(ops.pop())
            if not ops:
                raise ConditionSyntaxError(f"unbalanced ')' in {s!r}")
            ops.pop()
        else:  # operator
            prec = _PREC[t.text]
            # '!' is right-associative (NOT right-assoc per parse.go); && || left
            while (
                ops
                and ops[-1] != "("
                and (_PREC[ops[-1]] > prec or (_PREC[ops[-1]] == prec and t.text != "!"))
            ):
                reduce_op(ops.pop())
            ops.append(t.text)
    while ops:
        op = ops.pop()
        if op == "(":
            raise ConditionSyntaxError(f"unbalanced '(' in {s!r}")
        reduce_op(op)
    if len(out) != 1:
        raise ConditionSyntaxError(f"bad condition {s!r}")
    return out[0]


_TEMPLATE_IF = re.compile(r"^\{\{\s*if\s+(.*?)\s*\}\}\s*y\s*\{\{\s*end\s*\}\}$", re.S)


def compile_condition(s: str, df: DataFrame | None = None, ts_field: str = "@timestamp") -> Column:
    """Compile one condition string to a boolean Column.

    Dispatches the two reference syntaxes (filter.go:628-643): Go-template
    conditions (``{{if X}}y{{end}}``, ``X`` compiled by the value render's
    action compiler) and the boolean predicate DSL."""
    if s.strip().startswith("{{"):
        m = _TEMPLATE_IF.match(s.strip())
        if not m:
            raise TemplateConditionError(
                f"only '{{{{if <expr>}}}}y{{{{end}}}}' templates supported: {s!r}"
            )
        return compile_action_truth(m.group(1), df, ts_field)
    # a predicate over an absent field is NULL in SQL but false in the
    # reference, so '!' negates NULL-as-false; && || already agree once the
    # filter reads a NULL result as false
    return _fold(
        s,
        lambda t: _compile_pred(t, df, ts_field),
        operator.and_,
        operator.or_,
        lambda c: ~F.coalesce(c, F.lit(False)),
    )


def evaluate_condition(s: str, obj) -> bool:
    """Evaluate one boolean-DSL condition string against a dict — the
    driver-side twin of ``compile_condition`` for ES sniff ``match``
    (output/elasticsearch_output.go:479-489 runs a condition_filter over
    node-info maps)."""
    return _fold(
        s, lambda t: _eval_pred(t, obj), lambda a, b: a and b, lambda a, b: a or b, operator.not_
    )


def compile_conditions(
    conds: list[str] | None, df: DataFrame | None = None, ts_field: str = "@timestamp"
) -> Column:
    """AND a list of ``if`` conditions (filter.go:743-754); empty → true."""
    if not conds:
        return F.lit(True)
    acc = compile_condition(conds[0], df, ts_field)
    for c in conds[1:]:
        acc = acc & compile_condition(c, df, ts_field)
    return acc
