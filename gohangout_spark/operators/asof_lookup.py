"""AsofLookup filter: enrich events from a temporal (SCD-style) table.

The reference's enrichment plugins are point lookups (Translate = dict,
IPIP = geo db). A temporal dimension — "the row that was CURRENT when this
event happened" — needs an as-of join, which no gohangout plugin offers.
Config-reachable here:

    - AsofLookup:
        path: /dims/price_history.parquet     # or `table:` for a temp view
        on: item_id                            # key column(s), both sides
        timestamp: ts                          # event-time field (left)
        right_timestamp: valid_from            # version time (right)
        direction: backward                    # latest at-or-before (default)
        tolerance_seconds: 86400               # optional staleness bound
        select: [price, currency]              # right columns to bring over

Batch only: the underlying union+window plan needs a bounded frame, which
a streaming DataFrame cannot provide (no watermark semantics on an
arbitrary-key window). Streaming pipelines get a loud error — enrich in a
foreachBatch stage or run --available-now backfills instead.

Scale: inherits functions.joins.asof_join's shape — ONE shuffle on the
keys, no theta join, no row explosion; the dimension streams through the
same window rather than being broadcast, so dimension size is unbounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gohangout_spark.operators.base import Filter, FilterEffect


class AsofLookup(Filter):
    if_unsupported = (
        "AsofLookup does not support box-level `if` guards: the "
        "enriched columns would be typed per-branch. Guard with a "
        "Drop before/after instead."
    )

    def __init__(
        self,
        on,
        timestamp: str,
        right_timestamp: str,
        path: str | None = None,
        table: str | None = None,
        format: str = "parquet",
        direction: str = "backward",
        tolerance_seconds: int | None = None,
        select: list[str] | None = None,
        suffix: str = "_right",
    ):
        if not (path or table) or (path and table):
            raise ValueError("AsofLookup: exactly one of path/table is required")
        self.on = [on] if isinstance(on, str) else list(on)
        self.timestamp = timestamp
        self.right_timestamp = right_timestamp
        self.path = path
        self.table = table
        self.format = format
        self.direction = direction
        self.tolerance_seconds = tolerance_seconds
        self.select = select
        self.suffix = suffix

    def _right(self, spark) -> DataFrame:
        if self.table:
            right = spark.table(self.table)
        else:
            right = spark.read.format(self.format).load(self.path)
        if self.select:
            keep = list(
                dict.fromkeys([*self.on, self.right_timestamp, *self.select])
            )
            right = right.select(*keep)
        return right

    def build(self, df: DataFrame) -> FilterEffect:
        from gohangout_spark.functions.joins import asof_join

        if df.isStreaming:
            raise ValueError(
                "AsofLookup is batch-only: the as-of window cannot run on an "
                "unbounded stream. Enrich inside a foreachBatch stage, or "
                "run a checkpointed --available-now backfill."
            )
        right = self._right(df.sparkSession)
        out = asof_join(
            df,
            right,
            self.on,
            left_ts=self.timestamp,
            right_ts=self.right_timestamp,
            direction=self.direction,
            tolerance_seconds=self.tolerance_seconds,
            suffix=self.suffix,
        )
        # success = a match was found (rendered right_ts column non-null);
        # failTag/add/remove then follow the shared box contract
        ts_out = (
            self.right_timestamp + self.suffix
            if self.right_timestamp in df.columns
            else self.right_timestamp
        )
        return FilterEffect(frame=out, success=F.col(ts_out).isNotNull())
