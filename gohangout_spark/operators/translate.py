"""Translate filter — dictionary lookup source → target.

Mirrors /root/reference/filter/translate.go:121-131 (apply) and :37-73
(YAML dict load; the reference also background-refreshes every
``refresh_interval`` s — in Spark that maps to reloading per ``foreachBatch``
micro-batch, on ``Pipeline.run_streaming``'s per-batch refresh path).

Scale design: small dicts compile to a literal in-plan map (zero shuffle,
fully codegen'd); large dicts become a **broadcast hash join** against a dict
DataFrame — never a shuffle join, since the dict is the small side by
construction. Both are one ``build``: the join path hands FilterBox the
joined frame, so the ``if`` guard, keep-old-on-miss, nested targets,
add/remove fields and failTag are the box's on both paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gohangout_spark.expr.paths import field_col
from gohangout_spark.operators.base import Filter, FilterEffect

_LITERAL_MAP_MAX = 10_000


class Translate(Filter):
    def __init__(
        self,
        source: str,
        target: str,
        dictionary: dict | None = None,
        dictionary_path: str | None = None,
        refresh_interval: int | None = None,  # streaming: reload per micro-batch
    ):
        self.refresh_interval = refresh_interval
        self.dictionary_path = dictionary_path
        self._next_refresh: float | None = None
        if dictionary is None:
            if not dictionary_path:
                raise ValueError("Translate: need dictionary or dictionary_path")
            dictionary = self._load_path()
            if refresh_interval:
                import time

                self._next_refresh = time.monotonic() + refresh_interval
        self.source = source
        self.target = target
        self.dictionary = dictionary

    def _load_path(self) -> dict:
        import yaml

        with open(self.dictionary_path) as f:
            return yaml.safe_load(f) or {}

    def maybe_refresh(self, now: float | None = None) -> bool:
        """Reload the dictionary file when ``refresh_interval`` has elapsed —
        the streaming runner calls this at every micro-batch boundary, the
        Spark analogue of the reference's background refresh goroutine
        (filter/translate.go:108-116). Returns True when a reload happened."""
        if not (self.refresh_interval and self.dictionary_path):
            return False
        import time

        now = time.monotonic() if now is None else now
        if self._next_refresh is not None and now < self._next_refresh:
            return False
        self.dictionary = self._load_path()
        self._next_refresh = now + self.refresh_interval
        return True

    def _value_type(self) -> str | None:
        """Common Spark type of the dict values, or None → stringify.
        BOTH lookup paths use this, so the target column's type never
        depends on whether the dict crossed the broadcast threshold."""
        kinds = {type(v) for v in self.dictionary.values()}
        for py, spark_t in ((bool, "boolean"), (int, "long"), (float, "double"), (str, "string")):
            if kinds == {py}:
                return spark_t
        return None

    def build(self, df: DataFrame) -> FilterEffect:
        vt = self._value_type()
        src = field_col(self.source, df).cast("string")
        eff = FilterEffect()
        if len(self.dictionary) <= _LITERAL_MAP_MAX:
            entries = []
            for k, v in self.dictionary.items():
                entries.append(F.lit(str(k)))
                # cast to the shared type so e.g. int values are bigint here
                # exactly as the broadcast path's typed schema makes them
                entries.append(F.lit(str(v)) if vt is None else F.lit(v).cast(vt))
            looked_up = F.element_at(F.create_map(*entries), src)
        else:
            dict_df = df.sparkSession.createDataFrame(
                [
                    (str(k), str(v) if vt is None else v)
                    for k, v in self.dictionary.items()
                ],
                schema=f"__translate_key string, __translate_val {vt or 'string'}",
            )
            eff.frame = df.join(
                F.broadcast(dict_df), src == F.col("__translate_key"), "left"
            )
            eff.scratch = ["__translate_key", "__translate_val"]
            looked_up = F.col("__translate_val")
        eff.assignments[self.target] = looked_up
        eff.success = looked_up.isNotNull()  # lookup miss = failure path
        return eff
