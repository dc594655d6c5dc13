"""LinkMetric / LinkStatsMetric — windowed aggregation over a field chain.

Reference semantics (/root/reference/filter/link_metric.go,
link_stats_metric.go): group events by the values of ``fields_link``
(``a->b->c``), in tumbling event-time windows of ``batchWindow`` seconds
(bucket = ts - ts % batchWindow, :219), drop data outside ``reserveWindow``
(:214-217), emit one synthetic event per group per window
(flatten, :124-152), either clearing state (``accumulateMode: separate``) or
keeping running totals (``cumulative``); ``reduce: true`` merges pre-counted
events from an upstream instance (:191-199); ``drop_original_event`` controls
whether original events pass through; emitted events re-enter the chain
mid-stream (:259-261).

Spark mapping (SURVEY §3.3): one windowed aggregation —
``groupBy(window(ts, batchWindow), *fields)`` — Catalyst already splits it
into partial+final HashAggregate (the two-instance ``reduce`` tree is native).
Streaming: ``withWatermark(ts, reserveWindow)``; ``separate`` ≈ append mode,
``cumulative`` ≈ update mode. Mid-chain re-injection = unionByName of the
metric stream with the passthrough stream.

Scale notes: count/min/max/sum/mean are all algebraic → map-side partial
aggregation bounds shuffle volume by group-count, not row-count. Skewed group
keys are handled by AQE; for extreme skew pre-salt with
``repartition(window, fields, salt)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gohangout_spark.expr.paths import field_col
from gohangout_spark.operators.base import Filter, FilterBox


def _parse_link(fields_link: str) -> list[str]:
    return [f.strip() for f in fields_link.split("->")]


class LinkMetric(Filter):
    plan_level = True
    value_field: str | None = None  # LinkStatsMetric overrides

    def __init__(
        self,
        fields_link: str,
        batch_window: int,
        reserve_window: int | None = None,
        ts_field: str = "@timestamp",
        accumulate_mode: str = "separate",
        drop_original_event: bool = False,
        reduce: bool = False,
        window_offset: int = 0,
        strict_cumulative: bool = False,
    ):
        self.fields = _parse_link(fields_link)
        self.batch_window = int(batch_window)
        self.reserve_window = int(reserve_window or batch_window)
        self.ts_field = ts_field
        self.accumulate_mode = accumulate_mode
        self.drop_original_event = drop_original_event
        self.reduce = reduce
        # windowOffset delays a window's emission until N further windows
        # have elapsed (link_metric.go:164: emit only k <= now_floor -
        # batchWindow*windowOffset). Event-time translation: widen the
        # watermark delay to batch_window*window_offset (floored at
        # reserve_window, which still governs state retention) — in append
        # mode the window then finalizes only after offset windows' worth
        # of event time has passed its end.
        self.window_offset = int(window_offset)
        # strict_cumulative routes streaming runs through
        # streaming/stateful.py: the reference's ts - ts % batchWindow
        # bucket as a grouping key under a reserveWindow watermark, state in
        # the JVM state store; default uses the built-in windowed
        # aggregation in update mode (SURVEY §4 documented delta)
        self.strict_cumulative = bool(strict_cumulative)

    # ---- aggregation spec -------------------------------------------------
    def _aggs(self, df: DataFrame):
        if self.reduce:
            # merge pre-aggregated events: sum their 'count' (link_metric.go:191-199)
            return [F.sum(field_col("count", df).cast("long")).alias("count")]
        return [F.count(F.lit(1)).alias("count")]

    def _group_fields(self):
        return self.fields if not isinstance(self, LinkStatsMetric) else self.fields[:-1]

    def metrics_df(self, df: DataFrame, streaming: bool = False) -> DataFrame:
        ts = field_col(self.ts_field, df)
        gf = self._group_fields()
        # events missing any link field are skipped (updateMetric early return)
        cond = ts.isNotNull()
        for fname in gf:
            cond = cond & field_col(fname, df).isNotNull()
        src = df.filter(cond)
        if streaming:
            from gohangout_spark.io import ensure_event_time

            delay = max(self.reserve_window, self.batch_window * self.window_offset)
            src = ensure_event_time(src, self.ts_field)
            src = src.withWatermark(f"`{self.ts_field}`", f"{delay} seconds")
        win = F.window(ts, f"{self.batch_window} seconds")
        grouped = src.groupBy(win.alias("window"), *[F.col(f"`{f}`") for f in gf])
        out = grouped.agg(*self._aggs(df))
        return out.select(
            F.col("window.start").alias("window_start"),
            *[F.col(f"`{f}`") for f in gf],
            *[F.col(c) for c in out.columns if c not in ("window", *gf)],
        )

    def apply_plan(self, df: DataFrame, box: FilterBox) -> DataFrame:
        from gohangout_spark.expr.conditions import compile_conditions

        cond = compile_conditions(box.ifs, df, box.ts_field)
        guarded = df.filter(cond) if box.ifs else df
        streaming = df.isStreaming
        if streaming and self.strict_cumulative and self.accumulate_mode == "cumulative":
            from gohangout_spark.streaming.stateful import cumulative_link_metric_stream

            stats = (
                self.fields[-1] if isinstance(self, LinkStatsMetric) else None
            )
            if stats and len(self.fields) < 2:
                raise ValueError(
                    "LinkStatsMetric fieldsLink needs 'group...->value' "
                    f"(got {self.fields!r})"
                )
            # same skip-if-missing rule as metrics_df (updateMetric early
            # return): null event time or link fields would otherwise be
            # counted under a null group key
            skip = field_col(self.ts_field, guarded).isNotNull()
            for fname in self._group_fields():
                skip = skip & field_col(fname, guarded).isNotNull()
            guarded = guarded.filter(skip)
            metrics = cumulative_link_metric_stream(
                guarded,
                "->".join(self._group_fields()),
                self.batch_window,
                self.reserve_window,
                ts_field=self.ts_field,
                stats_field=stats,
            )
        else:
            metrics = self.metrics_df(guarded, streaming=streaming)
        # metric events re-enter the chain (input_box.go:117-127); with
        # drop_original_event only the metric stream continues (Filter
        # returns nil → no PostProcess, link_metric.go:267-272)
        if self.drop_original_event:
            return metrics
        # Filter() always returns success=false for the original event
        # (link_metric.go:267-273) → the shared PostProcess appends failTag
        # to every cond-passing original and never applies add/remove.
        # Synthetic metric rows bypass PostProcess (emitted via next.Process,
        # not returned) → their markers stay null, which the shared stage
        # treats as no-op.
        passthrough = df.withColumn(FilterBox._EFF, F.lit(False)).withColumn(
            FilterBox._FAILED,
            F.coalesce(cond, F.lit(False)) if box.ifs else F.lit(True),
        )
        return passthrough.unionByName(metrics, allowMissingColumns=True)


class LinkStatsMetric(LinkMetric):
    """count/min/max/sum/mean of the numeric LAST field of the chain
    (/root/reference/filter/link_stats_metric.go:299-305, flatten :127-159)."""

    def _aggs(self, df: DataFrame):
        v = field_col(self.fields[-1], df).cast("double")
        if self.reduce:
            # merge partial stats emitted upstream (:189-279); mean is
            # recomputed from merged sum/count afterwards (algebraic merge)
            return [
                F.sum(field_col("count", df).cast("long")).alias("count"),
                F.min(field_col("min", df).cast("double")).alias("min"),
                F.max(field_col("max", df).cast("double")).alias("max"),
                F.sum(field_col("sum", df).cast("double")).alias("sum"),
            ]
        return [
            F.count(v).alias("count"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            F.sum(v).alias("sum"),
            F.avg(v).alias("mean"),
        ]

    def metrics_df(self, df: DataFrame, streaming: bool = False) -> DataFrame:
        out = super().metrics_df(df, streaming=streaming)
        if self.reduce and "mean" not in out.columns:
            out = out.withColumn("mean", F.col("sum") / F.col("count").cast("double"))
        return out
