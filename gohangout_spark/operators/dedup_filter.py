"""Dedup filter: exactly-once event identity over at-least-once transports.

The reference has no dedup plugin — its Kafka input replays events after a
crash and downstream consumers are expected to cope (gohangout README's
at-least-once caveat). On Spark the platform can close that gap, so this
engine exposes it as a first-class filter:

- batch: ``dropDuplicates`` over the identity key(s); with ``order_by`` the
  survivor is the first row by that ordering (window rank — deterministic on
  any partition layout), otherwise Spark's arbitrary-first (cheaper: no
  sort, map-side partial dedup).
- streaming: ``dropDuplicatesWithinWatermark`` — state is bounded by the
  ``keep_within`` horizon: two copies of an event arriving farther apart
  than ``keep_within`` may BOTH survive. That trade (bounded state vs
  perfect dedup) is exactly Kafka-replay dedup wants: replays arrive
  seconds apart, state stays O(events per horizon).

Scale: one shuffle keyed on the identity fields; dedup state partitions
across executors, RocksDB state store for beyond-memory horizons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gohangout_spark.expr.paths import field_col
from gohangout_spark.operators.base import RowSubsetFilter


class Dedup(RowSubsetFilter):
    def __init__(
        self,
        fields,
        timestamp: str | None = None,
        keep_within: str | None = None,
        order_by: str | None = None,
    ):
        self.fields = [fields] if isinstance(fields, str) else list(fields)
        if not self.fields:
            raise ValueError("Dedup: fields must name at least one identity key")
        self.timestamp = timestamp
        self.keep_within = keep_within
        self.order_by = order_by

    def transform(self, df: DataFrame, ts_field: str) -> DataFrame:
        # identity keys may be nested paths — materialize them as flat
        # columns for dropDuplicates/partitionBy, dropped afterwards
        key_names = [f"__dk{i}" for i in range(len(self.fields))]
        keyed = df
        for name, path in zip(key_names, self.fields):
            keyed = keyed.withColumn(name, field_col(path, df))
        if keyed.isStreaming:
            if not self.keep_within:
                raise ValueError(
                    "Dedup on a streaming input needs keep_within (the "
                    "watermark horizon bounding dedup state), e.g. "
                    "keep_within: '10 minutes'"
                )
            if self.order_by:
                import logging

                logging.getLogger("gohangout_spark.dedup").warning(
                    "Dedup order_by=%r is batch-only: the streaming path "
                    "keeps the FIRST-ARRIVED copy (dropDuplicatesWithin"
                    "Watermark has no ordering)", self.order_by
                )
            ts = self.timestamp or ts_field
            from gohangout_spark.io import ensure_event_time

            keyed = ensure_event_time(keyed, ts)
            out = keyed.withWatermark(f"`{ts}`", self.keep_within)
            out = out.dropDuplicatesWithinWatermark(key_names)
        elif self.order_by:
            w = Window.partitionBy(*key_names).orderBy(
                field_col(self.order_by, keyed).asc_nulls_last()
            )
            out = (
                keyed.withColumn("__drank", F.row_number().over(w))
                .filter(F.col("__drank") == 1)
                .drop("__drank")
            )
        else:
            out = keyed.dropDuplicates(key_names)
        return out.drop(*key_names)
