"""Filters — a nested filter chain as one filter with a shared ``if``.

Mirrors /root/reference/filter/filters.go:20-44. Plan composition: the nested
boxes are applied in order; the shared guard semantics are approximated by
pushing the parent's ``if`` conditions into every child box (same effective
row-set because conditions are evaluated against fields the children read
before writing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from gohangout_spark.operators.base import Filter, FilterBox


class Filters(Filter):
    plan_level = True

    def __init__(self, boxes: list[FilterBox]):
        self.boxes = boxes

    GUARD = "__filters_guard"

    def apply_plan(self, df: DataFrame, box: FilterBox) -> DataFrame:
        from pyspark.sql import functions as F

        from gohangout_spark.expr.conditions import compile_conditions
        from gohangout_spark.expr.render import compile_render

        # Evaluate the shared `if` ONCE against the pre-chain event
        # (FilterBox.Process checks conditions before the nested chain runs);
        # re-evaluating per child would flip when a child mutates a field
        # the condition reads. The snapshot rides as a marker column.
        snapshotted = bool(box.ifs)
        if snapshotted:
            cond0 = compile_conditions(box.ifs, df, box.ts_field)
            df = df.withColumn(self.GUARD, F.when(cond0, F.lit(1)))
            parent_ifs = [f"Exist({self.GUARD})"]
        else:
            parent_ifs = []

        for child in self.boxes:
            merged_ifs = parent_ifs + (child.ifs or [])
            saved = child.ifs
            child.ifs = merged_ifs
            try:
                df = child.apply(df)
            finally:
                child.ifs = saved

        # the box's own add_fields then remove_fields, in one projection
        assigns = {
            path: compile_render(spec, df, box.ts_field, bare_is_field=False)
            for path, spec in box.add_fields.items()
        }
        assigns.update((path, F.lit(None)) for path in box.remove_fields)
        if assigns:
            cond = compile_conditions(parent_ifs, df, box.ts_field)
            df = FilterBox._project(df, assigns, {}, cond)
        if snapshotted:
            df = df.drop(self.GUARD)
        return df
