"""Field addressing: the reference's "column expression" language.

The reference dispatches four read syntaxes by regex
(/root/reference/value_render/value_render.go:28-56):

- bare name        ``message``            -> top-level column
- bracket path     ``[geo][cityname]``    -> nested access
- JSONPath         ``$.store.book[0].id`` -> struct/array navigation
- anything else    literal / template     (handled in render.py)

Writes auto-create intermediate maps
(/root/reference/field_setter/mfields_field_setter.go:23-38); in a
fixed-schema DataFrame world we use ``withField`` on structs, and deletes use
``dropFields`` / ``drop``. Absent field == NULL column (documented semantic
mapping, SURVEY.md §2.4 Exist nuance).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BRACKET_RE = re.compile(r"^(\[[^\]\[]+\])+$")
_BRACKET_PART = re.compile(r"\[([^\]\[]+)\]")
# $.a.b[0].c  — enough JSONPath for the reference's usage (oliveagle/jsonpath)
_JSONPATH_RE = re.compile(r"^\$\.")
_JSONPATH_TOKEN = re.compile(r"([A-Za-z0-9_@\-]+)|\[(\d+)\]")


def is_field_ref(s: str) -> bool:
    """A bracket path or a JSONPath (a bare word is ambiguous: it may be a
    literal)."""
    return bool(_BRACKET_RE.match(s) or _JSONPATH_RE.match(s))


def parse_field(path: str) -> list[str | int]:
    """Parse a field reference into access segments (str key / int index)."""
    path = path.strip()
    if _BRACKET_RE.match(path):
        return list(_BRACKET_PART.findall(path))
    if _JSONPATH_RE.match(path):
        segs: list[str | int] = []
        for m in _JSONPATH_TOKEN.finditer(path[2:]):
            if m.group(1) is not None:
                segs.append(m.group(1))
            else:
                segs.append(int(m.group(2)))
        return segs
    return [path]


def _navigate(root: Column, segs: list[str | int]) -> Column:
    col = root
    for seg in segs:
        if isinstance(seg, int):
            # JSONPath arrays are 0-based; Spark element_at is 1-based.
            col = F.element_at(col, seg + 1)
        else:
            col = col.getItem(seg)  # struct field or map key
    return col


def field_col(path: str, df: DataFrame | None = None) -> Column:
    """Compile a field reference to a Column.

    If ``df`` is given and any path segment is missing from the schema
    (top-level column, or a struct without that field), returns NULL
    (absent == null semantics) instead of an analysis error.
    """
    segs = parse_field(path)
    top = str(segs[0])
    if df is None:
        return _navigate(F.col(f"`{top}`"), segs[1:])

    if top not in df.columns:
        return F.lit(None)
    # walk the schema while building the column: a missing struct field or a
    # numeric index into a non-array resolves to NULL (absent == null)
    # instead of an AnalysisException; int keys into maps use getItem
    # directly (element_at's 1-based adjustment is only for arrays)
    from pyspark.sql import types as T

    col = F.col(f"`{top}`")
    dtype = df.schema[top].dataType
    for seg in segs[1:]:
        if isinstance(seg, int):
            if isinstance(dtype, T.ArrayType):
                col = F.element_at(col, seg + 1)
                dtype = dtype.elementType
            elif isinstance(dtype, T.MapType):
                col = col.getItem(seg)
                dtype = dtype.valueType
            else:
                return F.lit(None)
        elif isinstance(dtype, T.StructType):
            if seg not in dtype.names:
                return F.lit(None)
            col = col.getItem(seg)
            dtype = dtype[seg].dataType
        elif isinstance(dtype, T.MapType):
            col = col.getItem(seg)
            dtype = dtype.valueType
        else:
            return F.lit(None)
    return col


def field_exists(path: str, df: DataFrame | None = None) -> Column:
    """Exist(a,b) — path resolves to a non-null value.

    Nuance vs reference: gohangout's Exist passes when a key is present with
    an explicit null value (/root/reference/condition_filter/filter.go:143-172);
    a fixed schema cannot distinguish present-null from absent, so absent≡null.
    """
    return field_col(path, df).isNotNull()


def set_field(df: DataFrame, path: str, value: Column) -> DataFrame:
    """Write ``value`` at ``path``; nested paths use withField on structs.

    Mirrors /root/reference/field_setter/mfields_field_setter.go:23-38 except
    intermediate containers must already exist as struct columns (fixed
    schema); a missing top-level struct becomes a new struct column.
    """
    segs = parse_field(path)
    top = str(segs[0])
    if len(segs) == 1:
        return df.withColumn(top, value)
    rest = [str(s) for s in segs[1:]]
    if top in df.columns:
        col = F.col(f"`{top}`").withField(".".join(f"`{s}`" for s in rest), value)
    else:
        # build nested struct from scratch
        inner = value
        for s in reversed(rest):
            inner = F.struct(inner.alias(s))
        col = inner
    return df.withColumn(top, col)


def delete_field(df: DataFrame, path: str) -> DataFrame:
    """Delete the field at ``path`` (drop column / dropFields on struct)."""
    segs = parse_field(path)
    top = str(segs[0])
    if top not in df.columns:
        return df
    if len(segs) == 1:
        return df.drop(top)
    rest = ".".join(f"`{s}`" for s in segs[1:])
    return df.withColumn(top, F.col(f"`{top}`").dropFields(rest))
