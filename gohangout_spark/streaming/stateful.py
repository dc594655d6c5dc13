"""Strict-parity cumulative LinkMetric as a native streaming aggregation.

The reference's ``accumulateMode: cumulative`` re-emits the RUNNING total for
a (window, fields...) group every emission tick while keeping state for
``reserveWindow`` seconds (/root/reference/filter/link_metric.go:169-179,
214-219). This module keeps that state in the JVM state store with one
``groupBy(window_start, *fields).agg(...)`` in ``update`` output mode:

- group key: (window_start, *fields) where window_start = event-time bucket
  ``ts - ts % batchWindow`` (link_metric.go:219), carrying the watermark
  ``max(window_start) - reserveWindow``
- per micro-batch: the batch's rows merge into the group's running
  count/min/max/sum and the updated totals are emitted (cumulative
  re-emission); a group whose values are all null emits count 0, sum 0.0
  and null min/max/mean
- watermark rule: micro-batch b drops every row whose window_start is at or
  below the watermark of batch b-1, and evicts (without emitting) every
  group whose window_start is at or below its own watermark.

Eviction at ``window_start <= watermark`` is shorter than the reference's
window end + ``reserveWindow`` retention, and emits the same rows: the
watermark never moves back, so once a group is evicted every later row for
it is at or below the previous batch's watermark and is dropped before it
reaches the state store. Longer retention would hold totals no row could
ever update again.

Checkpoints written by the earlier Python state operator
(``applyInPandasWithState``) do not restore into this plan: a query on such
a checkpoint must start from a fresh checkpoint location.

Scale: state is O(live groups × a few longs), partitioned by group hash
across executors; RocksDB state store handles beyond-memory cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gohangout_spark.expr.paths import field_col


def cumulative_link_metric_stream(
    df: DataFrame,
    fields_link: str,
    batch_window: int,
    reserve_window: int | None = None,
    ts_field: str = "@timestamp",
    stats_field: str | None = None,
) -> DataFrame:
    """Streaming DataFrame → cumulative metric stream.

    Without ``stats_field``: emits (window_start, *fields, count).
    With ``stats_field`` (LinkStatsMetric shape): adds min/max/sum/mean.
    ``fields_link`` is the GROUP chain (a->b); the aggregated numeric field
    goes in ``stats_field``.
    """
    group_fields = [f.strip() for f in fields_link.split("->") if f.strip()]
    if not group_fields:
        raise ValueError(
            "cumulative_link_metric_stream: empty group chain — for the stats "
            "variant fieldsLink must be 'group...->value' with the numeric "
            "value field last"
        )
    reserve = int(reserve_window or batch_window)
    keys = [f"__k{i}" for i in range(len(group_fields))]

    ts = field_col(ts_field, df)
    bucket = F.timestamp_seconds(
        (F.unix_timestamp(ts) - F.unix_timestamp(ts) % batch_window)
    ).alias("window_start")

    cols = [bucket] + [
        field_col(f, df).cast("string").alias(k) for k, f in zip(keys, group_fields)
    ]
    if stats_field is not None:
        cols.append(field_col(stats_field, df).cast("double").alias("__v"))
    src = df.select(*cols).withWatermark("window_start", f"{reserve} seconds")

    if stats_field is not None:
        v = F.col("__v")
        n = F.count(v)
        total = F.coalesce(F.sum(v), F.lit(0.0))
        aggs = [
            n.alias("count"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            total.alias("sum"),
            F.when(n > 0, total / n).alias("mean"),
        ]
    else:
        aggs = [F.count(F.lit(1)).alias("count")]
    out = src.groupBy("window_start", *keys).agg(*aggs)
    for k, f in zip(keys, group_fields):
        out = out.withColumnRenamed(k, f)
    return out
