"""Pipeline compiler: YAML config → executable Spark plan.

The reference builds a linked list of processors per worker
(/root/reference/gohangout.go:80-111, input/input_box.go:98-130); here the
config compiles ONCE into a declarative DataFrame transformation that
Catalyst optimizes across the whole chain (predicate pushdown through every
FilterBox, column pruning into the source scan). Workers disappear: source
partitions × executor cores give the parallelism.

Config schema (exactly the reference's YAML, e.g. test/itest-6.yml):
  inputs:  [{Random: {from: 1, to: 2, max_messages: 1000}}, ...]
  filters: [{Add: {fields: {...}, if: [...], failTag: t}}, ...]
  outputs: [{Stdout: {if: [...]}}, ...]
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from gohangout_spark.config import load_config
from gohangout_spark.expr.conditions import compile_conditions
from gohangout_spark.operators import FILTER_REGISTRY, Chain, FilterBox
from gohangout_spark.operators.filters import Filters
from gohangout_spark.sinks import SINK_REGISTRY
from gohangout_spark.sources import SOURCE_REGISTRY

_BOX_KEYS = {"if", "add_fields", "remove_fields", "failTag", "fail_tag"}

# config key → constructor kwarg translations per filter type
_KEY_MAP = {
    "LinkMetric": {
        "fieldsLink": "fields_link",
        "batchWindow": "batch_window",
        "reserveWindow": "reserve_window",
        "timestamp": "ts_field",
        "accumulateMode": "accumulate_mode",
        "windowOffset": "window_offset",
        "strictCumulative": "strict_cumulative",
    },
    "Split": {"maxSplit": "max_split", "dynamicSep": "dynamic_sep"},
    "KV": {"include_keys": "include", "exclude_keys": "exclude"},
    "Json": {},
    # YAML 1.1 parses a bare `on:` key as boolean True — map it back
    "AsofLookup": {True: "on"},
}
_KEY_MAP["LinkStatsMetric"] = _KEY_MAP["LinkMetric"]


def compile_filter(name: str, conf: dict, ts_field: str = "@timestamp") -> FilterBox:
    conf = dict(conf or {})
    ifs = conf.pop("if", None)
    add_fields = conf.pop("add_fields", None)
    remove_fields = conf.pop("remove_fields", None)
    fail_tag = conf.pop("failTag", conf.pop("fail_tag", None))
    prometheus_counter = conf.pop("prometheus_counter", None)

    if name not in FILTER_REGISTRY:
        raise ValueError(f"unknown filter {name!r} (have {sorted(FILTER_REGISTRY)})")
    cls = FILTER_REGISTRY[name]

    if name == "Filters":
        nested = [compile_filter(n, c, ts_field) for n, c in _iter_plugins(conf["filters"])]
        flt = Filters(nested)
    else:
        kwargs = {}
        key_map = _KEY_MAP.get(name, {})
        for k, v in conf.items():
            kwargs[key_map.get(k, k)] = v
        if name in ("LinkMetric", "LinkStatsMetric"):
            kwargs.setdefault("ts_field", ts_field)
        flt = cls(**kwargs)

    return FilterBox(
        flt,
        ifs=ifs,
        add_fields=add_fields,
        remove_fields=remove_fields,
        fail_tag=fail_tag,
        ts_field=ts_field,
        prometheus_counter=prometheus_counter,
    )


def _iter_plugins(items: list[dict]):
    for item in items or []:
        if not isinstance(item, dict) or len(item) != 1:
            raise ValueError(f"plugin entry must be a single-key mapping: {item!r}")
        yield next(iter(item.items()))


@dataclass
class Pipeline:
    sources: list = field(default_factory=list)
    chain: Chain = None
    sinks: list = field(default_factory=list)
    ts_field: str = "@timestamp"
    # union_inputs: true merges every input into ONE stream through ONE
    # chain instance — the reference topology, where all input goroutines
    # feed the same filter chain and shared outputs (gohangout.go
    # boxes→inputs). Default false keeps one independent query per source
    # (better isolation: one slow source cannot stall the others' triggers).
    union_inputs: bool = False

    @classmethod
    def from_config(
        cls, conf_or_path, is_text: bool = False, sink_overrides: dict | None = None
    ) -> "Pipeline":
        conf = (
            conf_or_path
            if isinstance(conf_or_path, dict)
            else load_config(conf_or_path, is_text=is_text)
        )
        ts_field = conf.get("timestamp_field", "@timestamp")
        sources = []
        for name, c in _iter_plugins(conf.get("inputs") or []):
            if name not in SOURCE_REGISTRY:
                raise ValueError(f"unknown input {name!r}")
            sources.append(SOURCE_REGISTRY[name](c or {}))
        boxes = [compile_filter(n, c, ts_field) for n, c in _iter_plugins(conf.get("filters"))]
        sinks = []
        for name, c in _iter_plugins(conf.get("outputs") or []):
            if sink_overrides and name in sink_overrides:
                sinks.append(sink_overrides[name](c or {}))
                continue
            if name not in SINK_REGISTRY:
                raise ValueError(f"unknown output {name!r}")
            sinks.append(SINK_REGISTRY[name](c or {}))
        return cls(
            sources=sources,
            chain=Chain(boxes),
            sinks=sinks,
            ts_field=ts_field,
            union_inputs=bool(conf.get("union_inputs", False)),
        )

    # ---------------------------------------------------------------- batch
    def transform(self, df: DataFrame) -> DataFrame:
        return self.chain.apply(df)

    def _sink_df(self, df: DataFrame, sink) -> DataFrame:
        # per-output if condition (topology/output.go:41-49)
        if sink.ifs:
            return df.filter(compile_conditions(sink.ifs, df, self.ts_field))
        return df

    def _input_frames(self, spark: SparkSession, streaming: bool) -> list:
        """One raw frame per query: per-source by default; with
        ``union_inputs`` a single unionByName merge of every input — the
        reference topology, where all inputs feed ONE shared chain
        (gohangout.go boxes→inputs). Schemas may differ per source
        (Kafka vs file): missing columns null-fill."""
        frames = [
            (s.stream(spark) if streaming else s.batch(spark)) for s in self.sources
        ]
        if self.union_inputs and len(frames) > 1:
            from functools import reduce

            return [
                reduce(
                    lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
                )
            ]
        return frames

    def run_batch(self, spark: SparkSession) -> None:
        for raw in self._input_frames(spark, streaming=False):
            df = self.transform(raw)
            for sink in self.sinks:
                sink.write_batch(self._sink_df(df, sink))

    # ------------------------------------------------------------ streaming
    def run_streaming(
        self,
        spark: SparkSession,
        trigger_seconds: int | None = None,
        checkpoint: str | None = None,
        output_mode: str | None = None,
        await_termination: bool = False,
        state_store: str | None = None,
        available_now: bool = False,
    ):
        """One StreamingQuery per input; multi-sink fan-out inside ONE
        foreachBatch (single-pass like topology/output.go:54-64). Windowed
        metric filters make the stream an aggregate: accumulateMode
        cumulative ≈ update mode, separate ≈ append mode (SURVEY §4) —
        picked automatically from the metric config unless ``output_mode``
        overrides. ``state_store="rocksdb"`` flips the state store provider
        for beyond-memory aggregation state (the 100 TB path)."""
        if state_store == "rocksdb":
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
        refreshables = self._refreshable_translates()
        if refreshables:
            # the refresh path re-applies the chain per micro-batch, where a
            # windowed metric would see a non-streaming frame: no watermark,
            # no cross-batch state — partial windows re-emitted every batch.
            # Refuse loudly instead of corrupting the metric stream.
            from gohangout_spark.operators.metrics import LinkMetric

            if any(isinstance(b.filter, LinkMetric) for b in self.chain.boxes):
                raise ValueError(
                    "Translate refresh_interval cannot be combined with "
                    "LinkMetric/LinkStatsMetric in one streaming pipeline: "
                    "the dict-refresh path recompiles the chain per "
                    "micro-batch, which would reset windowed-metric state. "
                    "Split into two pipelines, or drop refresh_interval."
                )
        queries = []
        input_frames = self._input_frames(spark, streaming=True)
        for i, raw in enumerate(input_frames):
            sinks = self.sinks
            # Translate refresh_interval (filter/translate.go:108-116): a
            # dict baked into a started streaming plan can never change, so
            # with refreshables the CHAIN is applied inside foreachBatch —
            # each micro-batch recompiles against the (possibly reloaded)
            # dictionary. Valid because refreshable chains are stateless
            # per-row transforms; windowed metrics keep the in-plan path.
            df = raw if refreshables else self.transform(raw)

            def fan_out(batch_df: DataFrame, epoch_id: int, _sinks=sinks):
                if refreshables:
                    for t in refreshables:
                        t.maybe_refresh()
                    batch_df = self.transform(batch_df)
                batch_df.persist()
                try:
                    for sink in _sinks:
                        sink.write_micro_batch(self._sink_df(batch_df, sink), epoch_id)
                finally:
                    batch_df.unpersist()

            mode = output_mode or self._default_mode()
            from gohangout_spark.sinks import FileSink as _FileSink

            if (
                not refreshables
                and mode == "append"
                and checkpoint
                and len(sinks) == 1
                and type(sinks[0]) is _FileSink
                and not sinks[0].ifs
                # one QUERY only: N queries on one output path would fight
                # over the single per-path _spark_metadata commit log while
                # each numbers batches from its own checkpoint
                # (union_inputs merges sources into one query, so it
                # re-qualifies)
                and len(input_frames) == 1
            ):
                # single unconditional FileSink on an append stream: use the
                # NATIVE file sink — exactly-once via _spark_metadata commit
                # log, vs foreachBatch's at-least-once on batch retry
                w = sinks[0].stream_writer(df)
            else:
                w = df.writeStream.foreachBatch(fan_out).outputMode(mode)
            if available_now:
                # bounded backfill: process everything currently available
                # in rate-limited micro-batches, then terminate — the
                # streaming engine's checkpointed semantics with a batch
                # job's lifecycle
                w = w.trigger(availableNow=True)
            elif trigger_seconds:
                w = w.trigger(processingTime=f"{trigger_seconds} seconds")
            if checkpoint:
                w = w.option("checkpointLocation", f"{checkpoint}/q{i}")
            queries.append(w.start())
        if await_termination:
            for q in queries:
                q.awaitTermination()
        return queries

    def _refreshable_translates(self) -> list:
        """Translate filters with refresh_interval + dictionary_path,
        anywhere in the chain (incl. nested Filters)."""
        from gohangout_spark.operators.filters import Filters as _Filters
        from gohangout_spark.operators.translate import Translate as _Translate

        found: list = []

        def scan(boxes):
            for b in boxes:
                f = b.filter
                if (
                    isinstance(f, _Translate)
                    and f.refresh_interval
                    and f.dictionary_path
                ):
                    found.append(f)
                elif isinstance(f, _Filters):
                    scan(f.boxes)

        scan(self.chain.boxes)
        return found

    def _default_mode(self) -> str:
        """cumulative → update (re-emit running totals); separate → append
        (emit once when the watermark finalizes the window); no metric →
        append passthrough."""
        from gohangout_spark.operators.metrics import LinkMetric

        for b in self.chain.boxes:
            if isinstance(b.filter, LinkMetric):
                return "update" if b.filter.accumulate_mode == "cumulative" else "append"
        return "append"


def run_streaming_with_reload(
    spark,
    config_path: str,
    poll_seconds: float = 5.0,
    sink_overrides: dict | None = None,
    stop_flag=None,
    **run_kw,
):
    """``gohangout --reload`` (gohangout.go:113-151 + internal/config
    WatchConfig): watch the YAML config file; on change, stop the running
    queries, rebuild the pipeline from the new config, and restart.

    A changed chain generally cannot resume the previous plan's checkpoint
    (Spark refuses incompatible state), so each config VERSION checkpoints
    under ``<checkpoint>/<md5-of-config>`` — content-derived, so a process
    restart on unchanged config resumes its own state, while any edit gets
    a fresh directory (a volatile counter would alias old state after a
    restart).

    ``stop_flag`` (a ``threading.Event``) ends the loop from another thread
    (tests / signal handlers — the reference's exit channel). Returns the
    last-built Pipeline. A config edit that fails to parse OR fails to
    start is logged and the previous pipeline is restarted — the old chain
    keeps running (gohangout.go:115-126). A query that dies on its own is
    a real failure: its exception is raised, never a silent clean exit.
    """
    import hashlib
    import logging
    import os
    import time

    log = logging.getLogger("gohangout_spark.reload")

    def read_cfg():
        """(mtime, bytes) — stat BEFORE read so an edit landing during a
        slow parse/sink build (ES sniff, CH DESC) is seen next poll."""
        mtime = os.path.getmtime(config_path)
        with open(config_path, "rb") as f:
            return mtime, f.read()

    def start(pipeline, raw: bytes):
        kw = dict(run_kw)
        if kw.get("checkpoint"):
            tag = hashlib.md5(raw).hexdigest()[:12]
            kw["checkpoint"] = os.path.join(run_kw["checkpoint"], tag)
        return pipeline.run_streaming(spark, **kw)

    def check_dead(queries):
        """Raise the real failure of any self-terminated query."""
        for q in queries:
            if not q.isActive and q.exception() is not None:
                raise q.exception()

    mtime, raw = read_cfg()
    pipeline = Pipeline.from_config(config_path, sink_overrides=sink_overrides)
    queries = start(pipeline, raw)
    prev = None  # (pipeline, raw) that last ran successfully
    while True:
        try:
            while True:
                if stop_flag is not None and stop_flag.is_set():
                    return pipeline
                if queries and all(not q.isActive for q in queries):
                    check_dead(queries)
                    return pipeline
                check_dead(queries)
                try:
                    new_mtime, new_raw = read_cfg()
                except OSError:
                    new_mtime, new_raw = mtime, raw  # mid-swap; retry next poll
                if new_mtime != mtime and new_raw != raw:
                    try:
                        candidate = Pipeline.from_config(
                            config_path, sink_overrides=sink_overrides
                        )
                        break
                    except Exception as e:
                        log.error("could not parse config, ignore reload: %s", e)
                        mtime = new_mtime
                elif new_mtime != mtime:
                    mtime = new_mtime  # touched, content identical
                time.sleep(poll_seconds)
        finally:
            for q in queries:
                q.stop()
        prev = (pipeline, raw)
        pipeline, mtime, raw = candidate, new_mtime, new_raw
        try:
            queries = start(pipeline, raw)
        except Exception as e:
            # parses but cannot start (missing path, invalid combination):
            # fall back to the previous working chain, keep watching
            log.error("new config failed to start, keeping old chain: %s", e)
            pipeline, raw = prev
            queries = start(pipeline, raw)
