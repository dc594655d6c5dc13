"""weblog_backfill: a closed batch job, File -> chain -> Elasticsearch.

Seeded weblog lines go through Pipeline.run_batch into the helper's bulk
receiver, pass after pass, for the measured seconds. Each pass is checked
document by document against the pure-Python reference of the chain.
"""

from __future__ import annotations

import collections
import os
import time
from statistics import median

from perfbench import analytics, weblog
from perfbench.common import (
    force, jvm_gc, new_session, percentile, setup_session, first_span_s,
)
from perfbench.helper import read_dump

N_MAIN = 160_000
N_WARM = 20_000
FILES = 8            # a backfill reads a directory of log files
SETUPS = 5           # a cycle costs about 2 s; the median of five resists a slow one
WARM_PASSES = 2      # full-input passes checked but not timed: the JIT still warms
FILTERS = ["Grok", "Date", "Convert", "Translate", "Drop"]


def _input(path: str) -> dict:
    return {"File": {"path": path, "format": "text", "codec": "plain"}}


def _write_lines(path: str, lines: list[str]) -> str:
    os.makedirs(path)
    step = -(-len(lines) // FILES)
    for i in range(FILES):
        with open(os.path.join(path, f"part-{i}.log"), "w") as f:
            f.write("\n".join(lines[i * step:(i + 1) * step]) + "\n")
    return path


def _check(receipts, expected: collections.Counter, start: float):
    """-> (failed docs, latencies from pass start, digest matched)."""
    docs = weblog.decode_bulk(receipts)
    got = collections.Counter(weblog.received_event(ix, d) for _, ix, d in docs)
    failed = sum((expected - got).values()) + sum((got - expected).values())
    return failed, [arrived - start for arrived, _, _ in docs], weblog.digest(
        got.elements()) == weblog.digest(expected.elements())


def _bulk_stats(receipts) -> dict:
    bodies = [b for _, b in receipts]
    return {
        "requests": len(bodies),
        "bytes": sum(len(b) for b in bodies),
        "retried": len(bodies) - len(set(bodies)),
    }


def run(ctx) -> dict:
    from gohangout_spark.pipeline import Pipeline

    rd, tracer, seed = ctx.rundir, ctx.tracer, ctx.seed
    helper = ctx.start_helper()
    lines = weblog.make_lines(seed, N_MAIN, stream=False)
    main_path = _write_lines(rd.file("main"), lines)
    expected = collections.Counter(
        weblog.doc_key(ev) for ev in map(weblog.reference_event, lines) if ev
    )

    def conf(path):
        return weblog.chain_config(_input(path), helper.receiver, metric=False)

    setups = []
    spark = None
    for k in range(SETUPS):
        warm = _write_lines(rd.file(f"warm{k}"),
                            weblog.make_lines(seed * 31 + k + 1, N_WARM, stream=False))
        t0 = ctx.process_start if k == 0 else time.time()
        with tracer.span("setup", "benchmark"):
            with tracer.span("get_spark", "session"):
                spark = setup_session(spark)
            with tracer.span("from_config", "pipeline"):
                p = Pipeline.from_config(conf(warm))
            with tracer.span("run_batch", "pipeline"):
                p.run_batch(spark)
        setups.append(time.time() - t0)
        helper.call("dump", path=os.devnull)

    # passes over the full input; the first WARM_PASSES are checked but not
    # timed. With tracing on, every other timed pass runs with spans off,
    # which gives the tracing overhead
    with tracer.span("from_config", "pipeline"):
        pipe = Pipeline.from_config(conf(main_path))
    passes = []
    deadline = None
    while deadline is None or len(passes) < WARM_PASSES + 2 or time.time() < deadline:
        i = len(passes)
        if i == WARM_PASSES:
            deadline = time.time() + ctx.seconds
        traced = tracer.enabled and i >= WARM_PASSES and (i - WARM_PASSES) % 2 == 1
        jvm_gc(spark)
        was, tracer.enabled = tracer.enabled, traced
        start, t0 = time.time(), time.perf_counter()
        with tracer.span("run_batch", "pipeline", pass_no=i):
            pipe.run_batch(spark)
        dur = time.perf_counter() - t0
        tracer.enabled = was
        dump = rd.file(f"pass{i}.bin")
        stats = helper.call("dump", path=dump)
        passes.append({"start": start, "dur": dur, "dump": dump,
                       "traced": traced, "busy_s": stats["busy_s"]})

    failed, digest_ok = 0, True
    for ps in passes:
        receipts = read_dump(ps["dump"])
        f, lat, ok = _check(receipts, expected, ps["start"])
        failed, digest_ok = failed + f, digest_ok and ok
        ps["p50"], ps["p99"] = percentile(lat, 50), percentile(lat, 99)
        ps["bulk"] = dict(_bulk_stats(receipts), docs=len(lat))
    docs = sum(expected.values())
    attempted = len(passes) * docs
    # every timed pass is one whole backfill job; each metric is the median
    # job's, so a pass slowed by a neighbour on a shared box moves none of them
    passes = passes[WARM_PASSES:]
    durs = [ps["dur"] for ps in passes]
    n_lat = docs * len(passes)
    e2e = {
        "setup_s": (median(setups), "s", len(setups)),
        "throughput_per_s": (N_MAIN / median(durs), "1/s", len(durs)),
        "latency_p50_s": (median(ps["p50"] for ps in passes), "s", n_lat),
        "latency_p99_s": (median(ps["p99"] for ps in passes), "s", n_lat),
    }
    info = {
        "events_per_s": (N_MAIN * len(durs) / sum(durs), "1/s", len(durs)),
        "first_setup_s": (setups[0], "s", 1),
        "setup_cycles_s": (setups, "s", len(setups)),
        "pass_s": (durs, "s", len(durs)),
        "docs_per_pass": (docs, "count", 1),
        "digest_match": digest_ok,
    }
    out = {"e2e": e2e, "info": info, "attempted": attempted, "failed": failed}
    if tracer.enabled:
        out["layers"], att, fail = _layers(ctx, spark, pipe, conf, main_path, passes)
        out["attempted"] += att
        out["failed"] += fail
    return out


def _timed(fn, reps: int = 2) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def _layers(ctx, spark, pipe, conf, main_path, passes):
    """Per-layer split from forced prefixes of the chain (each -> noop), the
    analytics probe and the local[1] baseline. -> (metrics, attempted,
    failed) of the probe's output checks."""
    from pyspark.sql import functions as F

    from gohangout_spark.pipeline import Pipeline

    tracer, helper = ctx.tracer, ctx.helper
    L: dict = {}
    source = pipe.sources[0]
    with tracer.span("Source.batch", "sources"):
        src_s = _timed(lambda: force(source.batch(spark)))
    L["sources.decode_s"] = src_s
    base = conf(main_path)
    prev, prefix_s = src_s, {}
    for i, name in enumerate(FILTERS, start=1):
        c = dict(base, filters=base["filters"][:i])
        with tracer.span("from_config", "pipeline"):
            pre = Pipeline.from_config(c)
        with tracer.span(f"prefix.{name}", "operators"):
            df = pre.transform(pre.sources[0].batch(spark))
            t = _timed(lambda: force(df))
        prefix_s[name] = t
        L[f"operators.{name}_s"] = t - prev
        rows = L[f"operators.{name}.rows_out"] = df.count()
        if name == "Grok":
            fails = df.filter(F.array_contains(F.col("tags"), "_grokparsefailure")).count()
            L["operators.grok_fail_ratio"] = fails / max(1, rows)
        prev = t
    # the sink's own `if` lets Catalyst skip work for rows it routes away,
    # so the sink split starts from the chain filtered the same way
    sink = pipe.sinks[0]
    chained = pipe.transform(source.batch(spark)).filter(F.col("team").isNotNull())
    with tracer.span("chain_routed", "operators"):
        chain_s = _timed(lambda: force(chained))
    with tracer.span("ElasticsearchSink.bulk_lines", "sinks"):
        encode_s = _timed(lambda: force(sink.bulk_lines(chained)))
    full_s = median([ps["dur"] for ps in passes])
    bulk = passes[0]["bulk"]
    L.update({
        "operators.chain_s": chain_s - src_s,
        "sinks.encode_s": encode_s - chain_s,
        "sinks.send_s": full_s - encode_s,
        "sinks.bulk_requests": bulk["requests"],
        "sinks.bulk_bytes": bulk["bytes"],
        "sinks.docs_per_request": bulk["docs"] / max(1, bulk["requests"]),
        "sinks.retried_requests": bulk["retried"],
        "sinks.receiver_busy_s": passes[0]["busy_s"],
        "sinks.requests_per_trigger": bulk["requests"],
    })
    traced = [ps["dur"] for ps in passes if ps["traced"]]
    untraced = [ps["dur"] for ps in passes if not ps["traced"]]
    L["trace.overhead_ratio"] = median(traced) / median(untraced) if traced else 1.0
    L["session.get_spark_s"] = first_span_s(tracer, "get_spark")
    L["pipeline.from_config_s"] = first_span_s(tracer, "from_config")
    probe, attempted, failed = analytics.probe(ctx, spark)
    L.update(probe)
    # single-threaded baseline: the same job at local[1]
    with tracer.span("scaling.local1", "benchmark"):
        spark1 = new_session(master="local[1]")
        Pipeline.from_config(conf(ctx.rundir.file("warm0"))).run_batch(spark1)
        p1 = Pipeline.from_config(conf(main_path))
        helper.call("dump", path=os.devnull)
        t0 = time.perf_counter()
        p1.run_batch(spark1)
        local1 = time.perf_counter() - t0
        helper.call("dump", path=os.devnull)
        spark1.stop()
    L["scaling.local1_events_per_s"] = N_MAIN / local1
    L["scaling.parallel_speedup"] = local1 / full_s
    return L, attempted, failed
