"""Date filter — try a parser list in order, write a timestamp to target.

Mirrors /root/reference/filter/date.go:226-240 (apply) and :30-152 (parsers):
formats are Go layouts plus UNIX / UNIX_MS / RFC3339 / ISO8601; first
successful parse wins; optional ``location`` timezone; ``add_year`` for
year-less layouts; target default ``@timestamp``.

Spark realization: ``coalesce(try_to_timestamp(col, fmt1), ...,
timestamp_seconds(...), timestamp_millis(...))`` — the whole parser ladder is
one JVM-side expression (Go layouts are translated to Java patterns at
compile time by expr.dateformat)."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gohangout_spark.expr.dateformat import go_layout_to_java
from gohangout_spark.expr.paths import field_col
from gohangout_spark.operators.base import Filter, FilterEffect

_NUM_RE = r"^-?\d{1,11}(\.\d+)?$"   # seconds epoch; 11 digits ≈ year 5138
_MS_RE = r"^-?\d{1,14}$"
_QUOTED_RE = re.compile(r"'[^']*'")  # quoted literal text in a Java pattern

_RFC3339_PATTERNS = [
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
]
_ISO8601_PATTERNS = _RFC3339_PATTERNS + [
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
]


class Date(Filter):
    def __init__(
        self,
        src: str,
        formats: list[str],
        target: str = "@timestamp",
        location: str | None = None,
        add_year: bool = False,
        overwrite: bool = True,
    ):
        self.src = src
        self.formats = formats
        self.target = target
        self.location = location
        self.add_year = add_year
        self.overwrite = overwrite

    def _located(self, parsed: Column, java_pattern: str | None) -> Column:
        """Apply `location` only to wall-time layouts — epochs and layouts
        with explicit zone/offset tokens are already absolute instants
        (Go ParseInLocation only uses location when the layout has no zone)."""
        if not self.location:
            return parsed
        if java_pattern is None:
            return parsed
        # quoted text is literal: Go's bare `Z` becomes 'Z', not a zone
        letters = _QUOTED_RE.sub("", java_pattern)
        if any(t in letters for t in ("X", "z", "Z", "O")):
            return parsed
        return F.to_utc_timestamp(parsed, self.location)

    def _parsers(self, col: Column) -> list[Column]:
        parsers: list[Column] = []
        s = F.trim(col.cast("string"))
        for fmt in self.formats:
            if fmt == "UNIX":
                parsers.append(
                    F.when(s.rlike(_NUM_RE), F.timestamp_seconds(s.try_cast("double")))
                )
            elif fmt == "UNIX_MS":
                parsers.append(
                    F.when(s.rlike(_MS_RE), F.timestamp_millis(s.try_cast("long")))
                )
            elif fmt == "RFC3339":
                parsers.extend(F.try_to_timestamp(s, F.lit(p)) for p in _RFC3339_PATTERNS)
            elif fmt == "ISO8601":
                parsers.extend(
                    self._located(F.try_to_timestamp(s, F.lit(p)), p)
                    for p in _ISO8601_PATTERNS
                )
            else:
                java = go_layout_to_java(fmt)
                if self.add_year and "y" not in java:
                    # year-less layout (filter/date.go add_year): prepend year
                    parsers.append(
                        self._located(
                            F.try_to_timestamp(
                                F.concat(
                                    F.date_format(F.current_date(), "yyyy"),
                                    F.lit(" "),
                                    s,
                                ),
                                F.lit("yyyy " + java),
                            ),
                            java,
                        )
                    )
                else:
                    parsers.append(self._located(F.try_to_timestamp(s, F.lit(java)), java))
        return parsers

    def build(self, df: DataFrame) -> FilterEffect:
        col = field_col(self.src, df)
        parsed = F.coalesce(*self._parsers(col))
        eff = FilterEffect()
        target_old = field_col(self.target, df)
        value = parsed if self.overwrite else F.coalesce(target_old.cast("timestamp"), parsed)
        eff.assignments[self.target] = value
        eff.otherwise[self.target] = target_old.cast("timestamp")
        eff.success = col.isNotNull() & parsed.isNotNull()
        return eff
