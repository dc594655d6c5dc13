"""Spill probe (VERDICT r9 #6 — the unexercised guide §5 axis): run the
heavy operators over the 100x derived corpus under production-like memory
pressure (low shuffle-partition count so per-task state is large, capped
driver/executor heap via SPARK_DRIVER_MEMORY) and report per-operator
spill totals from the executed-plan SQLMetrics.

    SPARK_DRIVER_MEMORY=3g python tools/spill_probe.py [out_dir] [op ...]

out_dir defaults to /tmp/sf1_derived (built by tools/scale_sweep.py —
run that first). Ops default to the heavy set below. Reports, per op:
wall seconds, sum of every metric named *spill*, and the max node-level
peak memory — the table SCALE.md's §5 section records.

Small-output ops are collect()ed so their own QueryExecution carries the
AQE-final metrics; corpus-sized outputs are reduced through
bit_xor(xxhash64(struct(*))) — a one-row aggregate (bit_xor of a row hash) that CONSUMES every
output column, so nothing upstream (windows, ranks, sketch columns) is
pruned away, unlike a bare count(lit).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gohangout_spark import get_spark
from gohangout_spark.plan_metrics import executed_plan, node_metrics, walk


def spill_of(df, reduce_big: bool):
    if reduce_big:
        # bit_xor: consumes every column, never overflows under ANSI
        df = df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("n"))
    t0 = time.time()
    df.collect()
    wall = time.time() - t0
    spill = {"total_spill_bytes": 0, "peak_mem_max": 0}
    for node, _ in walk(executed_plan(df)):
        for mname, val in node_metrics(node).items():
            if "spill" in mname.lower() and val > 0:
                spill["total_spill_bytes"] += val
            if "peak" in mname.lower():
                spill["peak_mem_max"] = max(spill["peak_mem_max"], val)
    return wall, spill


def main():
    argv = sys.argv[1:]
    out_dir = argv[0] if argv and os.path.isdir(argv[0]) else "/tmp/sf1_derived"
    only = set(argv[1:]) if argv and os.path.isdir(argv[0]) else set(argv)

    import scale_sweep  # noqa: E402  (same directory)

    # 8 reducers over the 100x corpus (default): per-task aggregation/join
    # state is ~4x the bench configuration's — the §5 pressure regime.
    # SPILL_SHUFFLE=32 re-runs the same ops at bench-width partitions to
    # show partition sizing (guide §2.2/§5 "more partitions") is the remedy.
    nshuf = int(os.environ.get("SPILL_SHUFFLE", "8"))
    spark = get_spark(
        "spill-probe",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', 32)}]",
        shuffle_partitions=nshuf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    big_docs = spark.read.parquet(os.path.join(out_dir, "documents.parquet"))
    big_ev = spark.read.parquet(os.path.join(out_dir, "events.parquet"))

    registry = scale_sweep.ops(spark)
    heavy = [
        ("kneser_ney[bigram]", False),
        ("curation_funnel", False),
        ("minhash_lsh[h32,b16,sh3,j>=0.2]", True),
        ("rfm_segments", True),
        ("heavy_hitter_users", False),
        ("kmv_distinct[k64,type]", False),
        ("dsir_logweights[k1024]", True),
        ("countmin[d4w64]", True),
        ("bm25_search", False),
        ("exact_dedup", True),
    ]
    mem = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    print(f"| op (100x corpus, shuffle={nshuf}, heap={mem}) | wall s | spill MB | peak node mem MB |")
    print("|---|---|---|---|")
    for name, reduce_big in heavy:
        if only and name not in only:
            continue
        df = registry[name](big_docs, big_ev)
        wall, sp = spill_of(df, reduce_big)
        print(
            f"| {name} | {wall:.1f} | {sp['total_spill_bytes'] / 1e6:.0f} "
            f"| {sp['peak_mem_max'] / 1e6:.0f} |"
        )
        sys.stdout.flush()


if __name__ == "__main__":
    main()
