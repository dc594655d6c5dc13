"""FilterBox — the shared guard / post-process contract every filter obeys.

Mirrors /root/reference/topology/filter.go:69-110:
- all ``if`` conditions must pass, else the filter is skipped for that row;
- on per-row success: apply ``add_fields`` then ``remove_fields``;
- on per-row failure: append ``failtag`` to the ``tags`` field.

Spark realization: one conditional projection per box —
``when(cond & success, new_value).otherwise(old_value)`` per touched column —
so a box is a single narrow ``select`` that Catalyst folds into whole-stage
codegen. No UDFs, no row loops.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gohangout_spark.expr.conditions import compile_conditions
from gohangout_spark.expr.paths import delete_field, field_col, parse_field, set_field
from gohangout_spark.expr.render import compile_render


@dataclass
class FilterEffect:
    """What a filter wants to do to the DataFrame, declaratively.

    assignments: field-path -> new value Column (expressions over the INPUT df)
    deletions:   field paths removed on success
    success:     per-row success Column (None = always succeeds), mirrors the
                 bool returned by Filter() in topology/filter.go:14-16
    drop_row:    rows to remove entirely (Drop filter semantics)
    """

    assignments: dict[str, Column] = field(default_factory=dict)
    deletions: list[str] = field(default_factory=list)
    success: Column | None = None
    drop_row: Column | None = None
    # apply assignments even on per-row FAILURE (success only drives
    # failTag/add/remove) — KV semantics: a partially-malformed token list
    # returns false but the parseable pairs are still written (kv.go:93-111)
    assign_on_failure: bool | Column = False
    # per-path override of the not-applied branch — needed when the filter
    # changes the column TYPE (e.g. Convert): rows skipped by the if-guard
    # cannot keep the old type in a fixed-schema column, so the filter
    # supplies e.g. old.cast(target) here.
    otherwise: dict[str, Column] = field(default_factory=dict)
    # the frame the Columns above are defined on, when the filter needs a
    # join or a UDF column first (Translate's broadcast join, IPIP's geo
    # column, AsofLookup's as-of join): the input's columns plus the
    # filter's; ``scratch`` names the helper columns dropped after stage 1
    frame: DataFrame | None = None
    scratch: list[str] = field(default_factory=list)


class Filter:
    """Base class. A filter declares what it computes in one of three
    shapes; FilterBox owns the ``if`` guard and PostProcess for all of them:

    - row-wise: ``build(df)`` returns a FilterEffect (per-row assignments,
      success, drop) — optionally over a joined/UDF ``frame``;
    - row-subset: a RowSubsetFilter's ``transform`` works on a set of rows
      (dedup, curation gates, group bands); the box runs it on the
      ``if``-passing rows;
    - stream-restructuring: ``plan_level`` filters (the metric union, the
      nested chain) override ``apply_plan(df, box)`` and read the box
      themselves.
    """

    def build(self, df: DataFrame) -> FilterEffect:  # pragma: no cover
        raise NotImplementedError

    plan_level = False

    def apply_plan(self, df: DataFrame, box: "FilterBox") -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    # set by a filter whose effect cannot be guarded: the error FilterBox
    # raises when the box has ``if`` conditions
    if_unsupported: str | None = None


class RowSubsetFilter(Filter):
    """A filter over a set of rows, not one row. ``transform`` sees only the
    rows whose ``if`` passes; the rest pass through with the columns of
    ``null_outputs()`` NULLed, so the union keeps one schema. It never
    fails, so failTag never applies."""

    def transform(self, df: DataFrame, ts_field: str) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def null_outputs(self) -> dict[str, Column]:
        return {}


class FilterBox:
    def __init__(
        self,
        flt: Filter,
        ifs: list[str] | None = None,
        add_fields: dict | None = None,
        remove_fields: list[str] | None = None,
        fail_tag: str | None = None,
        tags_field: str = "tags",
        ts_field: str = "@timestamp",
        prometheus_counter: dict | None = None,
    ):
        self.filter = flt
        self.ifs = ifs or []
        self.add_fields = add_fields or {}
        self.remove_fields = remove_fields or []
        self.fail_tag = fail_tag
        self.tags_field = tags_field
        self.ts_field = ts_field
        # topology/prom_counter.go GetPromCounter: a per-box event counter
        # exposed on the prometheus endpoint. Spark-side it is df.observe —
        # counted inside the plan (no extra pass), surfaced per micro-batch
        # through StreamingQueryProgress.observedMetrics.
        self.prometheus_counter = prometheus_counter or None

    # guard marker columns carried between the two stages
    _EFF = "__box_eff"
    _FAILED = "__box_failed"

    def apply(self, df: DataFrame) -> DataFrame:
        out = self._apply_inner(df)
        if self.prometheus_counter:
            name = self.prometheus_counter.get("name")
            if name and out.isStreaming:
                out = out.observe(name, F.count(F.lit(1)).alias("events"))
            elif name:
                # batch runs and the foreachBatch refresh path have no
                # StreamingQueryProgress to carry observed metrics — the
                # counter would silently read 0; say so once instead
                import logging

                logging.getLogger("gohangout_spark.metrics").warning(
                    "prometheus_counter %r only reports on the in-plan "
                    "streaming path; this chain is applied per-batch, the "
                    "counter will not be populated",
                    name,
                )
        return out

    def _apply_inner(self, df: DataFrame) -> DataFrame:
        flt = self.filter
        if flt.plan_level:
            # the filter restructures the stream and reads the box config
            # itself; a filter whose original rows still take PostProcess
            # (LinkMetric's failTag) hands back __box_eff/__box_failed
            out = flt.apply_plan(df, self)
            if self._EFF in out.columns:
                out = self._post_process(out, unconditional=False, has_success=True)
                out = out.drop(self._EFF, self._FAILED)
            return out
        if self.ifs and flt.if_unsupported:
            raise ValueError(flt.if_unsupported)
        if isinstance(flt, RowSubsetFilter):
            return self._apply_subset(df, flt)

        cond = compile_conditions(self.ifs, df, self.ts_field)
        effect = flt.build(df)

        if effect.drop_row is not None:
            # Drop-with-if = selective delete (filter/drop.go:20-22); a NULL
            # condition means "conditions did not pass" → filter skipped →
            # row KEPT (conditionFilter.Pass returns false, not null)
            return df.filter(~F.coalesce(cond & effect.drop_row, F.lit(False)))

        unconditional = not self.ifs and effect.success is None
        success = effect.success if effect.success is not None else F.lit(True)
        eff = F.coalesce(cond & success, F.lit(False))
        failed = F.coalesce(cond & ~F.coalesce(success, F.lit(False)), F.lit(False))

        # ---- stage 1: the filter's own mutations (Filter(event)) ----------
        # one projection over the INPUT df (success/conditions see
        # pre-transform values); guard markers ride along for stage 2
        # assign_on_failure True applies assignments to every cond-passing
        # row even when success=false; a Column value narrows that to rows
        # matching the mask (KV: a NULL src writes nothing, kv.go:93)
        if isinstance(effect.assign_on_failure, Column):
            assign_eff = F.coalesce(cond & effect.assign_on_failure, F.lit(False))
        elif effect.assign_on_failure:
            assign_eff = F.coalesce(cond, F.lit(False))
        else:
            assign_eff = eff
        out = self._project(
            df if effect.frame is None else effect.frame,
            effect.assignments, effect.otherwise, assign_eff,
            extra={self._EFF: eff, self._FAILED: failed},
        )
        if effect.scratch:
            out = out.drop(*effect.scratch)

        # ---- stage 2: PostProcess on the MUTATED event --------------------
        out = self._post_process(
            out,
            unconditional=unconditional,
            has_success=effect.success is not None,
            deletions=effect.deletions,
        )
        return out.drop(self._EFF, self._FAILED)

    def _apply_subset(self, df: DataFrame, flt: RowSubsetFilter) -> DataFrame:
        """The guarded-subset split: the filter transforms the rows whose
        ``if`` passes; the others pass through untouched (filter skipped)."""
        markers = {self._EFF: F.lit(True), self._FAILED: F.lit(False)}
        if self.ifs:
            cond = F.coalesce(
                compile_conditions(self.ifs, df, self.ts_field), F.lit(False)
            )
            hit = flt.transform(df.filter(cond), self.ts_field).withColumns(markers)
            passthrough = df.filter(~cond).withColumns(
                {**flt.null_outputs(), self._EFF: F.lit(False), self._FAILED: F.lit(False)}
            )
            out = hit.unionByName(passthrough)
        else:
            out = flt.transform(df, self.ts_field).withColumns(markers)
        out = self._post_process(out, unconditional=not self.ifs, has_success=False)
        return out.drop(self._EFF, self._FAILED)

    def _post_process(
        self,
        out: DataFrame,
        unconditional: bool,
        has_success: bool,
        deletions: list[str] | None = None,
    ) -> DataFrame:
        """PostProcess on the MUTATED event (topology/filter.go:76-94): on
        success apply add_fields then remove_fields — renders resolve fields
        the filter just wrote; on failure append failTag to tags. Reads the
        __box_eff/__box_failed marker columns left by stage 1."""
        eff2 = F.col(self._EFF)
        assigns2: dict[str, Column] = {}
        for path, spec in self.add_fields.items():
            assigns2[path] = compile_render(spec, out, self.ts_field, bare_is_field=False)

        drops: list[str] = []
        null_outs: list[str] = []
        for path in list(self.remove_fields) + list(deletions or []):
            if unconditional:
                drops.append(path)
            else:
                null_outs.append(path)
        for path in null_outs:
            assigns2[path] = F.lit(None)

        tags_assign: dict[str, Column] = {}
        if self.fail_tag is not None and has_success:
            existing = (
                field_col(self.tags_field, out)
                if self.tags_field in out.columns
                else F.lit(None).cast(T.ArrayType(T.StringType()))
            )
            if (
                self.tags_field in out.columns
                and isinstance(out.schema[self.tags_field].dataType, T.StringType)
            ):
                # string tags become [tags, failTag] (filter.go:84-89); the
                # fixed schema upgrades the column to array<string> for all rows
                existing = F.when(existing.isNotNull(), F.array(existing))
            # append (concat), not array_union: the reference appends even
            # duplicate tags
            tagged = F.concat(
                F.coalesce(existing, F.array().cast(T.ArrayType(T.StringType()))),
                F.array(F.lit(self.fail_tag)),
            )
            tags_assign[self.tags_field] = F.when(
                F.col(self._FAILED), tagged
            ).otherwise(existing)

        if assigns2 or tags_assign:
            merged = dict(assigns2)
            out = self._project(out, merged, {}, eff2, extra=tags_assign or None)
        for path in drops:
            out = delete_field(out, path)
        return out

    @staticmethod
    def _project(
        df: DataFrame,
        assignments: dict[str, Column],
        otherwise: dict[str, Column],
        eff: Column,
        extra: dict[str, Column] | None = None,
    ) -> DataFrame:
        """One conditional projection: each assigned path becomes
        when(eff, new).otherwise(old); nested paths are materialized through
        temp columns computed in the SAME projection (so their expressions
        resolve against this stage's input, not the transformed frame).
        ``extra`` columns are appended verbatim (guard markers, tag columns).
        """
        top_assign: dict[str, Column] = {}
        nested: list[tuple[str, str]] = []  # (path, temp col)
        for path, new_col in assignments.items():
            segs = parse_field(path)
            top = str(segs[0])
            if len(segs) == 1:
                ow = otherwise.get(path)
                if ow is not None:
                    value = F.when(eff, new_col).otherwise(ow)
                elif top in df.columns:
                    value = F.when(eff, new_col).otherwise(F.col(f"`{top}`"))
                else:
                    value = F.when(eff, new_col)
                top_assign[top] = value
            else:
                ow = otherwise.get(path)
                if ow is None:
                    ow = field_col(path, df)
                tmp = f"__nested_{len(nested)}"
                nested.append((path, tmp))
                top_assign[tmp] = F.when(eff, new_col).otherwise(ow)

        extra = extra or {}
        select_cols: list[Column] = []
        consumed: set[str] = set()
        for c in df.columns:
            if c in extra:
                continue  # replaced below with the extra value
            if c in top_assign:
                select_cols.append(top_assign[c].alias(c))
                consumed.add(c)
            else:
                select_cols.append(F.col(f"`{c}`"))
        for c, expr in top_assign.items():
            if c not in consumed and c not in extra:
                select_cols.append(expr.alias(c))
        for c, expr in extra.items():
            select_cols.append(expr.alias(c))
        out = df.select(*select_cols)
        for path, tmp in nested:
            out = set_field(out, path, F.col(tmp))
            out = out.drop(tmp)
        return out


class Chain:
    """An ordered list of FilterBoxes compiled over a DataFrame —
    the analogue of the ProcessorNode linked list
    (/root/reference/topology/processor.go:31-46), except Catalyst sees the
    whole chain as one logical plan and optimizes across boxes."""

    def __init__(self, boxes: list[FilterBox]):
        self.boxes = boxes

    def apply(self, df: DataFrame) -> DataFrame:
        for box in self.boxes:
            df = box.apply(df)
        return df
