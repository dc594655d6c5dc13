"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

runs one workload in this process and prints, as its last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Lines before it,
starting with "#", give every number by name with its unit and sample count.

    python3 perfbench/run.py [--seed n] [--seconds s] [--trace 1]

runs every workload, each in a fresh process, and prints one table; with
--trace 1 each workload also gets a traced run, whose end-to-end numbers
appear beside the untraced ones. It exits non-zero when any output check
fails. Run it from the root of a checkout; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    BENCH_DIR, PROCESS_START, ROOT, Helper, RssSampler, RunDir, Tracer, versions,
)

WORKLOADS = ["weblog_backfill", "wire_stream"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    """What a workload's run() gets: its seed, its run directory, the
    tracer, and the helper process once it asks for it."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.process_start = PROCESS_START
        self.rundir = RunDir(workload, seed)
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")
        self.sampler = RssSampler()
        self.helper: Helper | None = None

    def start_helper(self) -> Helper:
        self.helper = Helper()
        self.sampler.exclude = self.helper.proc.pid
        return self.helper

    def close(self) -> float:
        """Stop everything this run started; -> peak RSS in MB."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        peak = self.sampler.stop()
        if active is not None:
            active.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(60)
        if self.helper is not None:
            self.helper.close()
        self.rundir.close()
        return peak


def _modules():
    from perfbench import backfill, stream

    return {"weblog_backfill": backfill, "wire_stream": stream}


def run_one(args) -> int:
    spec = _spec()
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        res = _modules()[args.workload].run(ctx)
    finally:
        peak_mb = ctx.close()
    res["e2e"]["peak_rss_mb"] = (peak_mb, "MB", 1)
    attempted, failed = res["attempted"], res["failed"]
    correct = attempted > 0 and failed == 0
    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} {json.dumps(versions())}")
    for name, entry in {**res["e2e"], **res["info"]}.items():
        if isinstance(entry, bool):
            print(f"# {name} {entry}")
            continue
        value, unit, n = entry
        shown = " ".join(f"{v:.6g}" for v in value) if isinstance(value, list) else f"{value:.6g}"
        print(f"# {name} {shown} {unit} n={n}")
    print(f"# error_rate {failed / max(1, attempted):.6g} ratio "
          f"n={attempted} (failed {failed})")
    if args.trace:
        layers = res["layers"]
        for name in sorted(layers):
            print(f"# layer {name} {layers[name]:.6g}")
        path = os.path.join(BENCH_DIR, f"spans-{args.workload}-{args.seed}.json")
        ctx.tracer.write(path, {"layers": layers,
                                "end_to_end": {k: v[0] for k, v in res["e2e"].items()}})
        print(f"# spans written to {os.path.relpath(path, ROOT)}")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in its own fresh process; one table at the end."""
    rows, ok = [], True
    for w in WORKLOADS:
        for trace in ([0, 1] if args.trace else [0]):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            out = proc.stdout.splitlines()
            ok = ok and proc.returncode == 0
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-3000:])
            for line in out:
                if line.startswith("# ") and not line.startswith("# workload"):
                    rows.append(f"{w:18s} {'traced' if trace else 'untraced':9s} {line[2:]}")
    print("\n".join(rows))
    print("all output checks passed" if ok else "OUTPUT CHECK FAILED")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gohangout_spark")):
        print("perfbench: no gohangout_spark package beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = _spec()["run_seconds"]
    return run_one(args) if args.workload else run_all(args)


if __name__ == "__main__":
    sys.exit(main())
