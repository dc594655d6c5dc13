"""Streaming STATE sweep (VERDICT r8 #6): measure state-store rows and
per-batch wall for the two stateful-streaming shapes whose scale killer
is state growth — gap-session windows and the stream-stream interval
join — at sf0.1 and at the derived 100x events corpus.

The batch families have wall-time sweeps (scale_sweep.py); what those
cannot show is whether STREAMING state stays bounded by the watermark
horizon instead of growing with total stream length. This sweep runs
each shape as a real writeStream over time-ordered epoch files at a
TIGHT watermark (2 days against a ~30-day corpus, so eviction must
fire continuously) and reads the state-operator metrics Spark reports
per micro-batch (numRowsTotal / numRowsUpdated / numRowsRemoved):

- scale-safe evidence = peak state rows << input rows, rows REMOVED > 0
  (the watermark is actually evicting), and peak state at 100x growing
  ~with per-horizon density (more users in the same time span), NOT
  with corpus length;
- a missing eviction (removed == 0 at a tight watermark) or peak state
  ~= input rows flags the unbounded-state class.

    PYTHONPATH=. python tools/stream_state_sweep.py [out_dir]

Reuses scale_sweep.py's derived 100x events parquet (built on demand).
Epochs are cut by TIME (8 contiguous ts ranges) so event time advances
across batches the way a live stream's does — the operating point where
watermark eviction does real work (the replay GATES deliberately use
out-of-order mod-id epochs + no-evict watermarks, the correctness
limiting case; this sweep is the capacity limiting case).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from gohangout_spark import get_spark
from gohangout_spark.io import ensure_event_time, load_table
from gohangout_spark.workload import epoch_stream
from tools.scale_sweep import build_derived

N_EPOCHS = 8
WATERMARK = "2 days"


def time_epochs(spark, df):
    """``df`` as a stream of N_EPOCHS files cut by contiguous event-time
    ranges (epoch_stream keyed on the event's epoch seconds)."""
    sec = F.col("ts").cast("timestamp").cast("long")
    ddl = "event_id bigint, user_id bigint, ts timestamp"
    return epoch_stream(
        spark, df.select("event_id", "user_id", "ts"), sec, ddl, n=N_EPOCHS
    )


def state_metrics(query):
    """-> (peak_total, final_total, sum_removed, sum_updated) across the
    run's state operators, from the per-batch progress feed."""
    peak = final = removed = updated = 0
    for p in query.recentProgress:
        ops = p.get("stateOperators") or []
        total = sum(o.get("numRowsTotal", 0) for o in ops)
        peak = max(peak, total)
        final = total
        removed += sum(o.get("numRowsRemoved", 0) for o in ops)
        updated += sum(o.get("numRowsUpdated", 0) for o in ops)
    return peak, final, removed, updated


def run(query, base):
    """Start ``query`` into a noop sink, drain it, and return
    (wall, peak, final, removed, updated)."""
    t0 = time.time()
    q = (
        query.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .start()
    )
    q.processAllAvailable()
    wall = time.time() - t0
    metrics = state_metrics(q)
    q.stop()
    q.awaitTermination()
    return (wall, *metrics)


def run_session_windows(spark, ev):
    with time_epochs(spark, ev) as (stream, base):
        agg = (
            stream.withWatermark("ts", WATERMARK)
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (ev.count(), *run(agg, base))


def run_interval_join(spark, ev):
    purch_ev = ev.where(F.col("event_type") == "purchase")
    click_ev = ev.where(F.col("event_type") == "click")
    n_in = purch_ev.count() + click_ev.count()
    with (
        time_epochs(spark, purch_ev) as (purch, base),
        time_epochs(spark, click_ev) as (clicks, _),
    ):
        purch = purch.withWatermark("ts", WATERMARK)
        clicks = (
            clicks.withColumnRenamed("ts", "cts")
            .withColumnRenamed("event_id", "click_id")
            .withColumnRenamed("user_id", "cuser")
            .withWatermark("cts", WATERMARK)
        )
        joined = purch.join(
            clicks,
            (purch["user_id"] == clicks["cuser"])
            & (clicks["cts"] >= purch["ts"] - F.expr("INTERVAL 6 HOURS"))
            & (clicks["cts"] <= purch["ts"]),
        )
        return (n_in, *run(joined, base))


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_derived"
    spark = get_spark("stream-state-sweep", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    build_derived(spark, "/root/testdata/sf0.1", out_dir)

    small = ensure_event_time(load_table(spark, "/root/testdata/sf0.1", "events"), "ts")
    big = ensure_event_time(
        spark.read.parquet(os.path.join(out_dir, "events.parquet")), "ts"
    )

    print(f"watermark={WATERMARK}, epochs={N_EPOCHS} (time-ordered)")
    print("| op | scale | input rows | wall s | peak state | final state "
          "| removed | updated |")
    print("|---|---|---|---|---|---|---|---|")
    for name, runner in (
        ("session_window_30m", run_session_windows),
        ("interval_join_6h", run_interval_join),
    ):
        for label, ev in (("sf0.1", small), ("100x", big)):
            n_in, wall, peak, final, removed, updated = runner(spark, ev)
            print(
                f"| {name} | {label} | {n_in} | {wall:.1f} | {peak} "
                f"| {final} | {removed} | {updated} |"
            )
            sys.stdout.flush()


if __name__ == "__main__":
    main()
