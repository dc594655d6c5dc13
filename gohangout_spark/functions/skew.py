"""Skew mitigation helpers for hot-key aggregations and joins.

At 100 TB a handful of hot group keys (one tenant, one null bucket) can pin
a single reducer. AQE's skew-join splitting handles joins; for AGGREGATIONS
the classic fix is two-phase salting, packaged here so every operator can
opt in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# aggregates that merge algebraically: (partial agg expr, final merge expr)
_MERGEABLE = {
    "count": (lambda c: F.count(c), F.sum),
    "sum": (lambda c: F.sum(c), F.sum),
    "min": (lambda c: F.min(c), F.min),
    "max": (lambda c: F.max(c), F.max),
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-phase aggregation: groupBy(keys + salt) → partials, then
    groupBy(keys) → merged finals. ``aggs`` maps output column →
    (agg_name, input_col); avg is expressed as sum+count internally.

    Use when one key dominates: the first shuffle spreads the hot key over
    ``salt_buckets`` reducers; the second shuffle moves only
    buckets×groups pre-aggregated rows.
    """
    salt = (F.rand() * salt_buckets).cast("int").alias("__salt")
    partial_exprs: list[Column] = []
    final_exprs: list[Column] = []
    for out, (name, col) in aggs.items():
        if name == "avg":
            partial_exprs.append(F.sum(col).alias(f"__{out}_sum"))
            partial_exprs.append(F.count(col).alias(f"__{out}_cnt"))
            final_exprs.append(
                (F.sum(f"__{out}_sum") / F.sum(f"__{out}_cnt")).alias(out)
            )
            continue
        if name not in _MERGEABLE:
            raise ValueError(f"salted_agg: non-algebraic aggregate {name!r}")
        partial, merge = _MERGEABLE[name]
        partial_exprs.append(partial(col).alias(f"__{out}_p"))
        final_exprs.append(merge(f"__{out}_p").alias(out))
    partials = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(*partial_exprs)
    return partials.groupBy(*keys).agg(*final_exprs)

