"""Interleaved A/B timing harness for optimization evidence on a noisy box.

Cross-run wall-clock on this machine swings 2x with tenant load, so
before/after pairs from separate sessions are meaningless. This harness
times VARIANTS of a plan inside ONE Spark session, interleaved
(A,B,A,B,...) with a JVM GC before each sample, and reports per-variant
medians — machine drift hits both variants equally.

Usage:

    python tools/ab_bench.py [--rounds N] label=module:fn [label=module:fn ...]

Each ``module:fn`` is imported and called as fn(spark, sf_dir) -> DataFrame,
so a registry query is ``gohangout_spark.workload:<name>`` and a candidate
plan shape is any importable function with that signature (``tools/`` is
on the path when run as a script). Tables are read from
$SPARK_GRAFT_SF_DIR. A caller may also import run_ab and pass
{label: fn} directly.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_ab(variants: dict, rounds: int = 5, sf_dir: str | None = None, spark=None):
    from gohangout_spark import get_spark

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = spark or get_spark("gohangout-spark-ab")
    spark.sparkContext.setLogLevel("ERROR")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    # warmup: one pass of every variant (JIT, parquet footers, codegen)
    for name, fn in variants.items():
        force(fn(spark, sf_dir))

    samples: dict[str, list[float]] = {n: [] for n in variants}
    for _ in range(rounds):
        for name, fn in variants.items():
            spark._jvm.System.gc()
            t0 = time.time()
            force(fn(spark, sf_dir))
            samples[name].append(round(time.time() - t0, 3))

    out = {
        n: {"median": round(statistics.median(v), 3), "samples": v}
        for n, v in samples.items()
    }
    print(json.dumps(out))
    return out


def parse_spec(spec: str):
    """``label=module:fn`` -> (label, the imported fn)."""
    label, eq, target = spec.partition("=")
    module, colon, attr = target.partition(":")
    if not (eq and colon and label and module and attr):
        raise ValueError(f"variant spec {spec!r} is not label=module:fn")
    return label, getattr(importlib.import_module(module), attr)


def main():
    ap = argparse.ArgumentParser(description="Interleaved A/B of DataFrame variants.")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("variants", nargs="+", metavar="label=module:fn")
    args = ap.parse_args()
    try:
        variants = dict(parse_spec(s) for s in args.variants)
    except ValueError as e:
        ap.error(str(e))
    if len(variants) != len(args.variants):
        ap.error("variant labels must be unique")
    run_ab(variants, rounds=args.rounds)


if __name__ == "__main__":
    main()
