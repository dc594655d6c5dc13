"""wire_stream: open-loop streaming, Kafka dev wire -> chain + LinkStatsMetric
-> Elasticsearch.

The helper process produces seeded weblog lines to a FakeKafkaCluster on a
due-time schedule that does not slow when the engine slows; each named line
carries its due time as `logtime` (UNIX ms). Pipeline.run_streaming reads
the topic over the v2 dev wire, and the helper's receiver stamps each bulk
request on arrival. Latency is arrival minus due time, for events due in the
measured window, which starts after a warm-up under load.
"""

from __future__ import annotations

import collections
import datetime as dt
import glob
import json
import os
import time
from statistics import median

from gohangout_spark.sinks.sinks import Sink
from perfbench import weblog
from perfbench.common import (
    force, percentile, setup_session, first_span_s,
)
from perfbench.helper import read_dump

RATE = 1000          # events/s: triggers stay busy ~2/3 of each interval on 4 cores
PARTITIONS = 2
# a fixed trigger interval: over a window of whole intervals the wait for
# the next trigger is spread evenly, whatever the phase of the schedule
TRIGGER_S = 4
WARMUP_S = 4.0       # the backlog transient after data starts
SETUPS = 3
SETUP_LINES = 1000
PROBE_S = 6.0        # length of each traced prefix run
DRAIN_TIMEOUT_S = 40.0


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _trigger_start(p: dict) -> float:
    return dt.datetime.fromisoformat(p["timestamp"]).timestamp()


def _wait(query, done, timeout: float) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if query.exception() is not None:
            raise query.exception()
        if done(_progress(query)):
            return True
        time.sleep(0.05)
    return False


def _wait_drained(stream, n: int, timeout: float) -> bool:
    """True once the query has processed all n records: the consumer has
    spooled them, and a trigger that started after the last spool file
    appeared has completed. (numInputRows cannot tell: the metric branch
    scans the source a second time, and that scan counts too.)"""
    deadline = time.time() + timeout
    counts: dict[str, int] = {}
    while time.time() < deadline:
        for path in glob.glob(os.path.join(stream.spool, "*.jsonl")):
            if path not in counts:
                with open(path) as f:
                    counts[path] = sum(1 for _ in f)
        if sum(counts.values()) >= n:
            last = max(os.stat(p).st_mtime for p in counts)
            return _wait(stream.query, lambda prog: any(
                _trigger_start(p) >= last - 0.001 and p["numInputRows"] > 0
                for p in prog), max(0.0, deadline - time.time()))
        time.sleep(0.05)
    return False


class _NoopSink(Sink):
    """Stand-in output for traced prefix runs (Pipeline sink_overrides)."""

    def write_batch(self, df):
        force(df)


class _Stream:
    """One streaming pipeline over its own topic, spool dir and checkpoint."""

    def __init__(self, ctx, spark, bootstrap, topic, metric=True, noop=False):
        from gohangout_spark.pipeline import Pipeline

        rd = ctx.rundir
        self.spool = rd.sub(f"spool-{topic}")
        conf = weblog.chain_config(
            {"Kafka": {
                "topic": {topic: 1},
                "consumer_settings": {"bootstrap.servers": bootstrap,
                                      "from.beginning": "true"},
                "decorate_events": True,
                "dev_wire": True,
                "wire_format": "v2",
                "codec": "plain",
                "spool_dir": self.spool,
            }},
            ctx.helper.receiver, metric=metric,
        )
        overrides = {"Elasticsearch": _NoopSink} if noop else None
        with ctx.tracer.span("from_config", "pipeline"):
            self.pipe = Pipeline.from_config(conf, sink_overrides=overrides)
        with ctx.tracer.span("run_streaming", "pipeline", topic=topic) as rec:
            self.query = self.pipe.run_streaming(
                spark, trigger_seconds=TRIGGER_S, checkpoint=rd.sub(f"ckpt-{topic}"))[0]
        self.span_id = rec["id"] if rec else None

    def stop(self):
        self.query.stop()
        self.pipe.sources[0].stop_consumer()


def run(ctx) -> dict:
    rd, tracer, seed, seconds = ctx.rundir, ctx.tracer, ctx.seed, ctx.seconds
    helper = ctx.start_helper()
    bootstrap = helper.call("kafka", partitions=PARTITIONS)["bootstrap"]

    setups, spark = [], None
    for k in range(SETUPS):
        helper.call("produce", topic=f"warm{k}", start=time.time(), rate=1e6,
                    lines=weblog.make_lines(seed * 31 + k + 1, SETUP_LINES, stream=True))
        t0 = ctx.process_start if k == 0 else time.time()
        with tracer.span("setup", "benchmark"):
            with tracer.span("get_spark", "session"):
                spark = setup_session(spark)
            s = _Stream(ctx, spark, bootstrap, f"warm{k}")
            if not _wait(s.query, lambda prog: any(p["numInputRows"] for p in prog), 60):
                raise RuntimeError("setup stream never consumed its input")
        setups.append(time.time() - t0)
        s.stop()
        helper.call("dump", path=os.devnull)

    # measured run: warm-up under load, then the window; traced runs split
    # the window in an untraced half and a half that polls progress live
    live = _Stream(ctx, spark, bootstrap, "live")
    halves = 2 if tracer.enabled else 1
    seconds = max(TRIGGER_S * halves, seconds // (TRIGGER_S * halves) * TRIGGER_S * halves)
    n = int(RATE * (WARMUP_S + seconds))
    lines = weblog.make_lines(seed, n, stream=True)
    t0 = time.time() + 0.5
    helper.call("produce", topic="live", lines=lines, start=t0, rate=RATE)
    win_lo, win_hi = t0 + WARMUP_S, t0 + WARMUP_S + seconds
    cut = win_lo + seconds / halves
    while time.time() < win_hi:
        if tracer.enabled and time.time() >= cut:
            _progress(live.query)  # the traced half reads progress live
        time.sleep(min(0.25, max(0.0, win_hi - time.time())))
    drained = _wait_drained(live, n, DRAIN_TIMEOUT_S)
    gen = helper.call("stats", topic="live")
    progress = _progress(live.query)
    state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
    live.stop()
    path = rd.file("live.bin")
    receiver_busy = helper.call("dump", path=path)["busy_s"]
    receipts = read_dump(path)
    if gen["errors"]:
        raise RuntimeError(f"load generator failed: {gen['errors']}")

    # --- checks (after the window) ---------------------------------------
    expected, stats_ref = {}, collections.defaultdict(list)
    due = {}
    for j, line in enumerate(lines):
        due_ms = int((t0 + j / RATE) * 1000)
        ev = weblog.reference_event(line, due_ms)
        if ev:
            key = (j % PARTITIONS, j // PARTITIONS)
            expected[key] = weblog.doc_key(ev)
            due[key] = due_ms / 1000.0
            stats_ref[(due_ms // 60000 * 60000, ev["team"])].append(ev["request_time"])
    first_seen: dict = {}
    dups = wrong = 0
    metric_rows: dict = {}
    for arrived, index, doc in weblog.decode_bulk(receipts):
        if "window_start" in doc:
            ws = int(dt.datetime.fromisoformat(doc["window_start"]).timestamp() * 1000)
            k = (ws, doc["team"])
            if k not in metric_rows or doc["count"] >= metric_rows[k]["count"]:
                metric_rows[k] = doc
            continue
        meta = doc["@metadata"]["kafka"]
        key = (meta["partition"], meta["offset"])
        if key in first_seen:
            dups += 1
            continue
        first_seen[key] = arrived
        if expected.get(key) != weblog.received_event(index, doc):
            wrong += 1
    missing = sum(1 for k in expected if k not in first_seen)
    bad_metrics = 0
    for k, vals in stats_ref.items():
        got = metric_rows.get(k)
        if (got is None or got["count"] != len(vals) or got["min"] != min(vals)
                or got["max"] != max(vals) or abs(got["sum"] - sum(vals)) > 1e-6 * sum(vals)):
            bad_metrics += 1
    bad_metrics += len(set(metric_rows) - set(stats_ref))
    attempted = len(expected) + len(stats_ref)
    failed = missing + wrong + bad_metrics

    lat = [(first_seen[k] - d, d) for k, d in due.items()
           if k in first_seen and win_lo <= d < win_hi]
    in_window = [p for p in progress if win_lo <= _trigger_start(p) < win_hi]
    working = [p for p in progress if p["numInputRows"] > 0]
    busy = sum(p["durationMs"].get("triggerExecution", 0) for p in working) / 1000.0
    latencies = [x for x, _ in lat]
    e2e = {
        "setup_s": (median(setups), "s", len(setups)),
        "throughput_per_s": (n / busy, "1/s", len(working)),
        "latency_p50_s": (percentile(latencies, 50), "s", len(latencies)),
        "latency_p99_s": (percentile(latencies, 99), "s", len(latencies)),
    }
    info = {
        "first_setup_s": (setups[0], "s", 1),
        "duplicates": (dups, "count", len(first_seen)),
        "missing": (missing, "count", len(expected)),
        "metric_rows_checked": (len(stats_ref), "count", len(metric_rows)),
        "generator_max_late_s": (gen["max_late_s"], "s", gen["produced"]),
        "drained": drained,
    }
    out = {"e2e": e2e, "info": info, "attempted": attempted, "failed": failed}
    if tracer.enabled:
        for p in progress:
            start = _trigger_start(p)
            tracer.add("trigger", "streaming", start,
                       start + p["durationMs"].get("triggerExecution", 0) / 1000.0,
                       live.span_id, batch=p["batchId"], rows=p["numInputRows"])
        half1 = [x for x, d in lat if d < cut]
        half2 = [x for x, d in lat if d >= cut]
        out["layers"] = _layers(ctx, spark, bootstrap, live, in_window, state,
                                receipts, metric_rows, gen, half1, half2)
        out["layers"]["sinks.receiver_busy_s"] = receiver_busy
    return out


def _p50(progress, key) -> float:
    vals = [p["durationMs"].get(key, 0) for p in progress]
    return median(vals) if vals else 0.0


def _probe(ctx, spark, bootstrap, topic, **kw) -> list[dict]:
    """A short prefix run at the workload's rate; -> progress after warm-up."""
    s = _Stream(ctx, spark, bootstrap, topic, **kw)
    n = int(RATE * (PROBE_S + 2.0))
    start = time.time() + 0.3
    ctx.helper.call("produce", topic=topic, start=start, rate=RATE,
                    lines=weblog.make_lines(ctx.seed + 7, n, stream=True))
    _wait_drained(s, n, PROBE_S + 2.0 + DRAIN_TIMEOUT_S)
    prog = [p for p in _progress(s.query)
            if _trigger_start(p) >= start + 2.0 and p["numInputRows"] > 0]
    s.stop()
    ctx.helper.call("dump", path=os.devnull)
    return prog


def _spool_lag(spool: str) -> tuple[list[float], int]:
    lags, n = [], 0
    for path in glob.glob(os.path.join(spool, "*.jsonl")):
        appeared = os.stat(path).st_mtime
        with open(path) as f:
            for line in f:
                n += 1
                lags.append(appeared - json.loads(line)["timestamp_ms"] / 1000.0)
    return lags, n


def _layers(ctx, spark, bootstrap, live, window, state, receipts, metric_rows,
            gen, half1, half2) -> dict:
    tracer = ctx.tracer
    with tracer.span("prefix.no_metric", "streaming"):
        no_metric = _probe(ctx, spark, bootstrap, "probe-chain", metric=False)
    with tracer.span("prefix.no_metric_noop", "streaming"):
        chain_noop = _probe(ctx, spark, bootstrap, "probe-noop", metric=False, noop=True)
    lags, spooled = _spool_lag(live.spool)
    L = {f"streaming.{k}_ms_p50": _p50(window, k) for k in (
        "addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit",
        "commitOffsets")}
    L["streaming.trigger_ms_p50"] = _p50(window, "triggerExecution")
    L["streaming.rows_per_trigger_p50"] = median([p["numInputRows"] for p in window])
    L["streaming.triggers"] = len(window)
    L["streaming.state_rows"] = state.get("numRowsTotal", 0)
    L["streaming.state_memory_bytes"] = state.get("memoryUsedBytes", 0)
    L["streaming.metric_rows"] = len(metric_rows)
    L["streaming.state_stage_ms_p50"] = _p50(window, "addBatch") - _p50(no_metric, "addBatch")
    L["sources.spool_lag_p50_s"] = percentile(lags, 50) if lags else 0.0
    L["sources.records_spooled"] = spooled
    # the source's share of a trigger: listing the spool and building the batch
    L["sources.decode_s"] = (_p50(window, "latestOffset") + _p50(window, "getBatch")) / 1000.0
    bodies = [b for _, b in receipts]
    docs = sum(1 for _ in weblog.decode_bulk(receipts))
    L["sinks.bulk_requests"] = len(bodies)
    L["sinks.bulk_bytes"] = sum(len(b) for b in bodies)
    L["sinks.docs_per_request"] = docs / max(1, len(bodies))
    L["sinks.retried_requests"] = len(bodies) - len(set(bodies))
    L["sinks.requests_per_trigger"] = len(bodies) / max(1, len(_progress(live.query)))
    L["sinks.send_s"] = (_p50(no_metric, "addBatch") - _p50(chain_noop, "addBatch")) / 1000.0
    L["generator.max_late_s"] = gen["max_late_s"]
    L["generator.produced"] = gen["produced"]
    L["operators.chain_s"] = _p50(chain_noop, "addBatch") / 1000.0 - L["sources.decode_s"]
    L["trace.overhead_ratio"] = median(half2) / median(half1) if half1 and half2 else 1.0
    L["session.get_spark_s"] = first_span_s(tracer, "get_spark")
    L["pipeline.from_config_s"] = first_span_s(tracer, "from_config")
    return L
