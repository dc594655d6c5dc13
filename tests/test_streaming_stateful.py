"""Cumulative LinkMetric strict-parity test: totals must be RE-EMITTED and
GROW across micro-batches for the same (window, key) group — a native
update-mode aggregation keyed on the batchWindow bucket, whose state is
evicted once the bucket falls to the reserveWindow watermark."""

import datetime

import pytest
from pyspark.sql import Row

from gohangout_spark.streaming import cumulative_link_metric_stream

BASE = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _write_chunk(spark, path, offset, n, name):
    rows = [
        Row(name=name, size=float(i % 3),
            ts=BASE + datetime.timedelta(seconds=offset + (i % 50)))
        for i in range(n)
    ]
    spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(path)


@pytest.mark.parametrize("stats", [False, True])
def test_cumulative_across_microbatches(spark, tmp_path, stats):
    src_path = str(tmp_path / "src")
    # two files → maxFilesPerTrigger=1 forces two micro-batches over the
    # SAME 100s window
    _write_chunk(spark, src_path, 0, 60, "g1")
    _write_chunk(spark, src_path, 0, 40, "g1")

    stream = (
        spark.readStream.schema("name string, size double, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_path)
    )
    out = cumulative_link_metric_stream(
        stream,
        fields_link="name",
        batch_window=100,
        reserve_window=1000,
        ts_field="ts",
        stats_field="size" if stats else None,
    )
    qname = f"cumul_{stats}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {qname}").collect()
    finally:
        q.stop()

    counts = sorted(r["count"] for r in rows)
    # one emission per micro-batch: first 60, then cumulative 100
    assert counts == [60, 100], rows
    if stats:
        final = max(rows, key=lambda r: r["count"])
        total = sum(float(i % 3) for i in range(60)) + sum(float(i % 3) for i in range(40))
        assert final["sum"] == pytest.approx(total)
        assert final["min"] == 0.0 and final["max"] == 2.0
        assert final["mean"] == pytest.approx(total / 100)


# Four file-stream batches over 100 s buckets (reserveWindow 100 s): two
# groups, rows out of order inside and across batches, null values, and two
# rows whose bucket is at or behind the previous batch's watermark.
_LOG_BATCHES = [
    [("a", 10, 1.0), ("a", 150, 5.0), ("b", 120, None), ("a", 30, 3.0)],
    [("a", 60, 2.0), ("b", 250, 4.0), ("b", 110, None)],
    [("a", 20, 9.0), ("a", 190, 7.0), ("b", 320, -1.0), ("a", 205, None)],
    [("b", 150, 8.0), ("b", 299, 3.0), ("a", 260, 6.0), ("a", 410, 0.5)],
]
# Hand-computed per-batch emission log: (batch, window_start offset, key,
# count, min, max, sum, mean). W_b = max(window_start) of batches < b minus
# 100 s; batch b drops rows with window_start <= W_{b-1} (batch 2's a@0,
# batch 3's b@100) and its emissions are the running totals of the groups
# it touched. An all-null group emits count 0, sum 0.0 and null min/max/mean.
_STATS_LOG = [
    (0, 0, "a", 2, 1.0, 3.0, 4.0, 2.0),
    (0, 100, "a", 1, 5.0, 5.0, 5.0, 5.0),
    (0, 100, "b", 0, None, None, 0.0, None),
    (1, 0, "a", 3, 1.0, 3.0, 6.0, 2.0),
    (1, 100, "b", 0, None, None, 0.0, None),
    (1, 200, "b", 1, 4.0, 4.0, 4.0, 4.0),
    (2, 100, "a", 2, 5.0, 7.0, 12.0, 6.0),
    (2, 200, "a", 0, None, None, 0.0, None),
    (2, 300, "b", 1, -1.0, -1.0, -1.0, -1.0),
    (3, 200, "a", 1, 6.0, 6.0, 6.0, 6.0),
    (3, 200, "b", 2, 3.0, 4.0, 7.0, 3.5),
    (3, 400, "a", 1, 0.5, 0.5, 0.5, 0.5),
]
_COUNT_LOG = [
    (0, 0, "a", 2), (0, 100, "a", 1), (0, 100, "b", 1),
    (1, 0, "a", 3), (1, 100, "b", 2), (1, 200, "b", 1),
    (2, 100, "a", 2), (2, 200, "a", 1), (2, 300, "b", 1),
    (3, 200, "a", 2), (3, 200, "b", 2), (3, 400, "a", 1),
]


@pytest.mark.parametrize("stats", [False, True])
def test_strict_path_emission_log(spark, tmp_path, capsys, stats):
    """Pins the strict path's per-batch emission log: running totals per
    (window, key) group, rows behind the watermark dropped, all-null groups
    emitted with count 0. The executed plan keeps its state in the JVM:
    no Python state operator."""
    import time

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    src = str(tmp_path / "log_src")
    for batch in _LOG_BATCHES:
        rows = [(k, v, base + datetime.timedelta(seconds=t)) for k, t, v in batch]
        spark.createDataFrame(rows, "k string, v double, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(0.05)  # distinct mtimes -> deterministic file order

    stream = (
        spark.readStream.schema("k string, v double, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = cumulative_link_metric_stream(
        stream, fields_link="k", batch_window=100, reserve_window=100,
        ts_field="ts", stats_field="v" if stats else None,
    )
    offset = (F.col("window_start").cast("long") - int(base.timestamp())).alias("ws")
    cols = [offset, "k", "count"] + (["min", "max", "sum", "mean"] if stats else [])
    log = []
    q = (
        out.writeStream.foreachBatch(
            lambda bdf, bid: log.extend(
                (bid, *r) for r in bdf.select(*cols).collect()
            )
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "log_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        q.explain()
        plan = capsys.readouterr().out
    finally:
        q.stop()
    assert sorted(log, key=lambda r: r[:3]) == (_STATS_LOG if stats else _COUNT_LOG)
    assert "StateStoreSave" in plan, plan
    assert "FlatMapGroupsInPandasWithState" not in plan, plan


def test_link_metric_stream_default_timestamp(spark, tmp_path):
    """Non-strict streaming LinkMetric on the default ``@timestamp`` field:
    the watermark column name is quoted, so ``@`` parses."""
    from gohangout_spark.operators import FilterBox, LinkMetric

    src = str(tmp_path / "at_src")
    spark.createDataFrame(
        [("g", BASE + datetime.timedelta(seconds=i)) for i in range(20)],
        "name string, `@timestamp` timestamp",
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("name string, `@timestamp` timestamp").parquet(src)
    lm = LinkMetric(fields_link="name", batch_window=100,
                    accumulate_mode="cumulative", drop_original_event=True)
    out = FilterBox(lm).apply(stream)
    q = (
        out.writeStream.format("memory").queryName("lm_default_ts")
        .outputMode("update").start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM lm_default_ts").collect()
    finally:
        q.stop()
    assert [(r["name"], r["count"]) for r in rows] == [("g", 20)], rows


@pytest.mark.parametrize("stats", [False, True])
def test_strict_cumulative_rejects_reduce(spark, tmp_path, stats):
    """The strict path counts raw rows and never merges pre-counted
    events, so strictCumulative with reduce must fail at plan time
    instead of emitting row counts in place of summed counts."""
    from gohangout_spark.operators import FilterBox, LinkMetric, LinkStatsMetric

    stream = spark.readStream.schema(
        "name string, count long, size double, ts timestamp"
    ).parquet(str(tmp_path))
    cls, link = (LinkStatsMetric, "name->size") if stats else (LinkMetric, "name")
    lm = cls(fields_link=link, batch_window=100, ts_field="ts",
             accumulate_mode="cumulative", drop_original_event=True,
             reduce=True, strict_cumulative=True)
    with pytest.raises(ValueError, match="strictCumulative.*reduce"):
        FilterBox(lm).apply(stream)


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_checkpoint_restart_no_double_count(spark, tmp_path, provider):
    """Kill-and-resume from checkpoint (VERDICT item 9): a cumulative
    LinkMetric stream stopped after batch 1 and restarted from the SAME
    checkpoint must restore its state — the post-restart emission is the
    running total (60+40=100), not 40 (state lost) and not 160 (batch 1
    replayed into state). Parametrized over the default (HDFS-backed) and
    RocksDB state store providers."""
    src_path = str(tmp_path / f"ckpt_src_{provider}")
    ck = str(tmp_path / f"ckpt_ck_{provider}")

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    if provider == "rocksdb":
        spark.conf.set(
            prov_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        # the memory sink does not support recovery; foreachBatch does
        # (batch-id tracking in the commit log), and in local mode the
        # closure runs on the driver so a plain list collects emissions
        def start(emitted):
            stream = (
                spark.readStream.schema("name string, size double, ts timestamp")
                .parquet(src_path)
            )
            out = cumulative_link_metric_stream(
                stream,
                fields_link="name",
                batch_window=100,
                reserve_window=10_000,
                ts_field="ts",
            )
            return (
                out.writeStream.foreachBatch(
                    lambda bdf, bid: emitted.extend(
                        r["count"] for r in bdf.collect()
                    )
                )
                .outputMode("update")
                .option("checkpointLocation", ck)
                .start()
            )

        # phase 1: 60 rows, one micro-batch, then stop (simulated kill)
        _write_chunk(spark, src_path, 0, 60, "g1")
        phase1 = []
        q = start(phase1)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert phase1 == [60], phase1

        # phase 2: 40 more rows land while the query is down; resume from
        # the same checkpoint
        _write_chunk(spark, src_path, 0, 40, "g1")
        phase2 = []
        q = start(phase2)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # only post-restart emissions land here — exactly one, and it is
        # the restored running total
        assert phase2 == [100], phase2
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)


def test_observability_listener(spark, tmp_path):
    """PipelineMetrics listener records per-query progress counters."""
    import time

    from gohangout_spark.streaming.observability import attach

    m = attach(spark)
    try:
        src = str(tmp_path / "obs_src")
        _write_chunk(spark, src, 0, 30, "x")
        stream = spark.readStream.schema("name string, size double, ts timestamp").parquet(src)
        q = (
            stream.groupBy("name").count()
            .writeStream.format("memory").queryName("obs_q")
            .outputMode("complete").start()
        )
        try:
            q.processAllAvailable()
            deadline = time.time() + 10
            while time.time() < deadline:
                snap = m.snapshot()
                totals = [v for v in snap.values() if v["input_rows"] >= 30]
                if totals:
                    break
                time.sleep(0.3)
        finally:
            q.stop()
        snap = m.snapshot()
        assert any(v["input_rows"] >= 30 and v["batches"] >= 1 for v in snap.values()), snap
    finally:
        spark.streams.removeListener(m)


def test_strict_cumulative_from_yaml(spark, tmp_path):
    """strictCumulative: true in a YAML LinkMetric routes the streaming run
    through the native cumulative aggregation in streaming/stateful.py."""
    from gohangout_spark.pipeline import Pipeline
    from gohangout_spark.sinks import MemorySink

    src = str(tmp_path / "sc_src")
    _write_chunk(spark, src, 0, 25, "g")
    _write_chunk(spark, src, 0, 15, "g")
    yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
    options: {{maxFilesPerTrigger: "1"}}
filters:
- LinkMetric:
    fieldsLink: name
    timestamp: ts
    batchWindow: 100
    reserveWindow: 1000
    accumulateMode: cumulative
    strictCumulative: true
    drop_original_event: true
timestamp_field: ts
outputs:
- Stdout: {{}}
"""
    p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})
    queries = p.run_streaming(spark, checkpoint=str(tmp_path / "sc_ck"), output_mode="update")
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    counts = sorted(r["count"] for r in p.sinks[0].rows)
    assert counts == [25, 40], p.sinks[0].rows


def test_window_offset_delays_emission(spark, tmp_path):
    """windowOffset: 2 (link_metric.go:164) — a window that WOULD finalize
    under the plain reserveWindow watermark is withheld until two further
    windows of event time pass its end."""
    from gohangout_spark.pipeline import Pipeline
    from gohangout_spark.sinks import MemorySink

    def run(offset):
        src = str(tmp_path / f"wo{offset}_src")
        _write_chunk(spark, src, 0, 20, "g")    # window [0, 100)
        _write_chunk(spark, src, 250, 3, "g")   # event time 250
        yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
    options: {{maxFilesPerTrigger: "1"}}
filters:
- LinkMetric:
    fieldsLink: name
    timestamp: ts
    batchWindow: 100
    reserveWindow: 100
    accumulateMode: separate
    windowOffset: {offset}
    drop_original_event: true
timestamp_field: ts
outputs:
- Stdout: {{}}
"""
        p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})
        queries = p.run_streaming(spark, checkpoint=str(tmp_path / f"wo{offset}_ck"))
        try:
            for q in queries:
                q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()
        return [(r["window_start"], r["count"]) for r in p.sinks[0].rows]

    # watermark 250-100=150 > 100 finalizes the first window without offset...
    assert any(c == 20 for _, c in run(0))
    # ...but offset 2 widens the delay to 200s: watermark 50 < 100, withheld
    assert not any(c == 20 for _, c in run(2))


def test_separate_mode_append_finalizes_on_watermark(spark, tmp_path):
    """accumulateMode: separate ≈ append mode — a window is emitted ONCE,
    when the advancing watermark passes its end (reserveWindow expiry rule,
    link_metric.go:172-178)."""
    from gohangout_spark.pipeline import Pipeline
    from gohangout_spark.sinks import MemorySink

    src = str(tmp_path / "sep_src")
    _write_chunk(spark, src, 0, 20, "g")        # window [0, 100)
    _write_chunk(spark, src, 5000, 3, "g")      # far later -> advances watermark
    yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
    options: {{maxFilesPerTrigger: "1"}}
filters:
- LinkMetric:
    fieldsLink: name
    timestamp: ts
    batchWindow: 100
    reserveWindow: 100
    accumulateMode: separate
    drop_original_event: true
timestamp_field: ts
outputs:
- Stdout: {{}}
"""
    p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})
    queries = p.run_streaming(
        spark, checkpoint=str(tmp_path / "sep_ck"), state_store="rocksdb"
    )
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    emitted = [(r["window_start"], r["count"]) for r in p.sinks[0].rows]
    # exactly one finalized emission for the first window, count 20
    firsts = [c for w, c in emitted if w.second == 0 and w.minute == 0]
    assert firsts == [20], emitted


def test_append_mode_late_filter_lags_eviction_by_one_batch(spark, tmp_path):
    """Pin the EXACT late-data rule for append-mode windowed aggs — the
    semantics the watermark_late_drop_replay gate's oracle encodes.
    Empirically (Spark 4 microbatch), with W_b = watermark computed from
    batches < b (what StreamingQueryProgress displays for batch b):

      * batch b FILTERS input with the PREVIOUS batch's value: a row is
        dropped iff its window end <= W_{b-1} (one-batch lag), and the
        rule is on WINDOW END, not row ts — a row behind the watermark
        still counts while its window is open;
      * batch b EVICTS+EMITS with W_b (windows with end <= W_b).

    Monotonicity of W makes re-emission impossible: a late row passing
    the filter can never target an already-evicted window. 60s windows,
    10s delay:

      batch0: ts=1000s                    -> W_1 = 990
      batch1: ts=50s   (end 60 <= W_0=-inf? no -> KEPT: filter lags;
                        evicted+emitted THIS batch by W_1=990)
              ts=965s  (row ts < 990 but end 1020 > W_0: KEPT)
              ts=2000s                    -> W_2 = 1990
      batch2: ts=55s   (end 60 <= W_1=990: DROPPED — filter caught up)
              ts=1985s (row ts < W_2 but end 2040 > W_1: KEPT)
              ts=3000s                    -> W_3 = 2990
      batch3: ts=10000s flush; the trailing zero-input batch evicts the
              rest with W = 9990.
    """
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "wm_src")
    for offs in ([1000], [50, 965, 2000], [55, 1985, 3000], [10000]):
        rows = [Row(k="x", ts=BASE + datetime.timedelta(seconds=o)) for o in offs]
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.05)  # distinct mtimes -> deterministic file order

    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "60 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_drop_rule")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        emitted = sorted(
            (r["start"] - int(BASE.timestamp()), r["n"])
            for r in spark.sql("SELECT * FROM wm_drop_rule").collect()
        )
    finally:
        q.stop()
    # [0,60): batch1's ts=50 got through (lagged filter), batch2's ts=55
    # did not — exactly one emission, count 1. [960,1020): 1000+965.
    # [1980,2040): 2000+1985 (late-but-open kept under the end rule).
    assert emitted == [(0, 1), (960, 2), (1980, 2), (3000, 1)], emitted


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Gap-based sessions in STREAMING: F.session_window merges events into
    sessions across micro-batches; a session finalizes (append mode) when
    the watermark passes its close. Streaming result == the batch
    formulation on the same data — the window-family completion the
    reference (tumbling only) cannot express."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "sess_src")
    # two users, two sessions each inside [0, 200] (gap 100s closes one
    # session where the next event is >= 100s later)
    for name, offs in (("u1", [0, 30, 300]), ("u2", [0, 400])):
        rows = [
            Row(name=name, size=0.0, ts=BASE + datetime.timedelta(seconds=o))
            for o in offs
        ]
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src)
    # flush chunk: far-future event advances the watermark past every close
    _write_chunk(spark, src, 10**6, 1, "zz_flush")

    stream = (
        spark.readStream.schema("name string, size double, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sess = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F.session_window("ts", "100 seconds").alias("sw"), "name")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("name", F.col("sw.start").alias("start"), "n_events")
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["name"], r["start"].isoformat(), r["n_events"])
            for r in spark.sql("SELECT * FROM sessions").collect()
            if r["name"] != "zz_flush"
        }
    finally:
        q.stop()

    batch = (
        spark.read.parquet(src)
        .where(F.col("name") != "zz_flush")
        .groupBy(F.session_window("ts", "100 seconds").alias("sw"), "name")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("name", F.col("sw.start").alias("start"), "n_events")
    )
    want = {
        (r["name"], r["start"].isoformat(), r["n_events"]) for r in batch.collect()
    }
    assert got == want
    # sanity on the shape itself: u1 = sessions of 2 and 1, u2 = 1 and 1
    per_user = sorted((n, c) for n, _, c in got)
    assert per_user == [("u1", 1), ("u1", 2), ("u2", 1), ("u2", 1)]


def test_session_gate_oracle_exact_gap_seam(spark, tmp_path):
    """ADVICE r8 exact-gap seam — resolved EMPIRICALLY the other way:
    Spark MERGES an event at exactly prev_ts+gap into the running
    session (adjacent [t, t+gap) / [t+gap, t+2gap) ranges coalesce; a
    new session starts only when gap is strictly greater), verified
    directly on F.session_window in both batch and streaming. So the
    streaming oracle's `> 1800` was already right, and the BATCH
    session_window gate's old `>= INTERVAL 1 HOUR` was the wrong side
    of the seam. This test pins the convention with a corpus that
    CONTAINS the exact gaps both gates' fixtures lack: engine and
    DuckDB oracle must agree, exact-gap merges, gap+1s splits."""
    import duckdb

    from gohangout_spark import workload

    rows = []
    eid = 0
    # user 1: exact 1800 s gap → ONE merged session (Spark convention)
    for off in (0, 600, 600 + 1800):
        rows.append((eid, BASE + datetime.timedelta(seconds=off), 1, "c", 0.0, "{}"))
        eid += 1
    # user 2: 1801 s gap → two sessions
    for off in (0, 1801):
        rows.append((eid, BASE + datetime.timedelta(seconds=off), 2, "c", 0.0, "{}"))
        eid += 1
    sdf = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = str(tmp_path / "sf")
    sdf.coalesce(1).write.parquet(f"{sf}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )

    # streaming gate: emission set == oracle islands, exact gap merged
    eng = sorted(
        (r["user_id"], r["session_start"], r["n"])
        for r in workload.session_window_stream_replay(spark, sf).collect()
    )
    _, oracle = workload.QUERIES["session_window_stream_replay"]
    ora = sorted(tuple(r) for r in con.execute(oracle).fetchall())
    assert eng == ora
    assert sum(1 for u, _, _ in eng if u == 1) == 1  # exact gap merged
    assert sum(1 for u, _, _ in eng if u == 2) == 2  # gap+1s split

    # batch gate (1-hour gap): stretch user 1 to an exact 3600 s gap via a
    # fresh corpus so the batch oracle's > (not >=) convention is exercised
    rows2 = [
        (0, BASE, 1, "c", 0.0, "{}"),
        (1, BASE + datetime.timedelta(seconds=3600), 1, "c", 0.0, "{}"),
        (2, BASE, 2, "c", 0.0, "{}"),
        (3, BASE + datetime.timedelta(seconds=3601), 2, "c", 0.0, "{}"),
    ]
    sf2 = str(tmp_path / "sf2")
    spark.createDataFrame(
        rows2,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{sf2}/events.parquet")
    eng2 = sorted(
        (r["user_id"], r["n_sessions"])
        for r in workload.session_window(spark, sf2).collect()
    )
    _, oracle2 = workload.QUERIES["session_window"]
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf2}/events.parquet/*.parquet'"
    )
    ora2 = sorted(tuple(r) for r in con2.execute(oracle2).fetchall())
    assert eng2 == ora2 == [(1, 1), (2, 2)]


def test_prometheus_counter_and_endpoint(spark, tmp_path):
    """Per-filter prometheus_counter (topology/prom_counter.go) counted via
    df.observe, served on /metrics (gohangout --prometheus)."""
    import time
    import urllib.request

    from gohangout_spark.pipeline import Pipeline
    from gohangout_spark.sinks import MemorySink
    from gohangout_spark.streaming.observability import attach, serve_prometheus

    m = attach(spark)
    server = serve_prometheus(m, "127.0.0.1:0")
    try:
        src = str(tmp_path / "prom_src")
        _write_chunk(spark, src, 0, 25, "g")
        yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- Add:
    fields: {{stage: enriched}}
    prometheus_counter: {{name: filter_processed_count}}
timestamp_field: ts
outputs:
- Stdout: {{}}
"""
        p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})
        queries = p.run_streaming(spark, checkpoint=str(tmp_path / "prom_ck"))
        try:
            for q in queries:
                q.processAllAvailable()
            deadline = time.time() + 10
            while time.time() < deadline:
                if m.counters().get("filter_processed_count", 0) >= 25:
                    break
                time.sleep(0.3)
        finally:
            for q in queries:
                q.stop()
        assert m.counters()["filter_processed_count"] == 25
        port = server.server_address[1]
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=5
        ).read().decode()
        assert 'gohangout_filter_events_total{counter="filter_processed_count"} 25' in body
        assert "gohangout_input_rows_total" in body
    finally:
        server.shutdown()
        spark.streams.removeListener(m)


def test_config_hot_reload(spark, tmp_path):
    """gohangout --reload: editing the config file swaps the chain — rows
    written after the swap carry the NEW filter output."""
    import threading
    import time

    from gohangout_spark.pipeline import run_streaming_with_reload
    from gohangout_spark.sinks import MemorySink

    src = str(tmp_path / "rl_src")
    _write_chunk(spark, src, 0, 5, "g")
    cfg = tmp_path / "pipeline.yml"

    def write_cfg(version):
        cfg.write_text(f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- Add:
    fields: {{cfg_version: "v{version}"}}
    overwrite: true
timestamp_field: ts
outputs:
- Stdout: {{}}
""")

    write_cfg(1)
    stop = threading.Event()
    sinks_seen = []

    captured = []

    class CapturingSink(MemorySink):
        def __init__(self, conf=None):
            super().__init__(conf)
            captured.append(self)

    t = threading.Thread(
        target=run_streaming_with_reload,
        args=(spark, str(cfg)),
        kwargs=dict(
            poll_seconds=0.2,
            sink_overrides={"Stdout": CapturingSink},
            stop_flag=stop,
            checkpoint=str(tmp_path / "rl_ck"),
        ),
        daemon=True,
    )
    t.start()
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if captured and any(r["cfg_version"] == "v1" for s in captured for r in s.rows):
                break
            time.sleep(0.3)
        assert any(r["cfg_version"] == "v1" for s in captured for r in s.rows)

        write_cfg(2)  # hot-swap
        _write_chunk(spark, src, 100, 3, "g")
        deadline = time.time() + 30
        while time.time() < deadline:
            if any(r["cfg_version"] == "v2" for s in captured for r in s.rows):
                break
            time.sleep(0.3)
        assert any(r["cfg_version"] == "v2" for s in captured for r in s.rows)
    finally:
        stop.set()
        t.join(15)
    assert not t.is_alive()


def test_streaming_session_window(spark, tmp_path):
    """Gap-based session windows in streaming: events within gap_s of each
    other coalesce into one growing session per key; a pause longer than
    the gap starts a new session. Exercises F.session_window + watermark
    through the same event-time helpers the metric operators use."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "sess_src")

    def drop(offsets, name):
        rows = [
            Row(name=name, size=1.0, ts=BASE + datetime.timedelta(seconds=o))
            for o in offsets
        ]
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src)

    # one user: burst at t=0..20 (one session, gap 30), burst at t=120..130
    drop([0, 10, 20, 120, 130], "u1")

    stream = spark.readStream.schema("name string, size double, ts timestamp").parquet(src)
    from gohangout_spark.io import ensure_event_time

    stream = ensure_event_time(stream, "ts")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 seconds"), "name")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("session_window.start").alias("start"),
            F.col("session_window.end").alias("end"),
            "name",
            "n",
        )
    )
    # Spark supports session-window streaming aggs only in append/complete
    # output modes; complete keeps the memory table authoritative
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sess_out").collect()
    finally:
        q.stop()
    by_n = sorted((r["n"], (r["end"] - r["start"]).total_seconds()) for r in rows)
    # session 1: 3 events spanning 20s + 30s gap tail = 50s; session 2: 2
    # events spanning 10s + 30s = 40s
    assert by_n == [(2, 40.0), (3, 50.0)], rows


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval join — the streaming twin of the
    batch as-of/attribution path: each purchase joins clicks by the same
    user within the preceding 60 s; both sides are unbounded streams whose
    state Spark bounds via the watermark + the join's time range."""
    from pyspark.sql import functions as F

    from gohangout_spark.io import ensure_event_time

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")

    def drop(path, rows):
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(path)

    t = lambda s: BASE + datetime.timedelta(seconds=s)  # noqa: E731
    drop(cdir, [Row(user=1, cts=t(0)), Row(user=1, cts=t(30)),
                Row(user=2, cts=t(10)), Row(user=3, cts=t(500))])
    drop(pdir, [Row(user=1, pts=t(50)), Row(user=2, pts=t(200))])

    clicks = ensure_event_time(
        spark.readStream.schema("user long, cts timestamp").parquet(cdir), "cts"
    ).withWatermark("cts", "10 minutes")
    purch = ensure_event_time(
        spark.readStream.schema("user long, pts timestamp").parquet(pdir), "pts"
    ).withWatermark("pts", "10 minutes")

    joined = purch.join(
        clicks,
        (purch["user"] == clicks["user"])
        & (clicks["cts"] >= purch["pts"] - F.expr("INTERVAL 60 SECONDS"))
        & (clicks["cts"] <= purch["pts"]),
    ).select(purch["user"], "cts", "pts")

    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ss_join").collect()
    finally:
        q.stop()
    got = sorted((r["user"], (r["pts"] - r["cts"]).total_seconds()) for r in rows)
    # user 1: both clicks within 60s of the t=50 purchase; user 2's click is
    # 190s stale; user 3 never purchases
    assert got == [(1, 20.0), (1, 50.0)], rows
