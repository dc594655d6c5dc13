"""Dump .explain("formatted") for every headline query to plans/<round>/.

Usage: python tools/dump_round_plans.py <round_dir> <suffix> [sf_dir] [query ...]
e.g.   python tools/dump_round_plans.py plans/r10 before <testdata>/sf0.1

Planning only (no execution): the files record Exchange counts, join
strategies, PushedFilters/ReadSchema and Python-eval nodes for the
optimization round's before/after evidence.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gohangout_spark import get_spark
from gohangout_spark.workload import QUERIES


def main():
    round_dir, suffix = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:]
    if not names:
        import bench

        names = bench.HEADLINE
    os.makedirs(round_dir, exist_ok=True)
    spark = get_spark("gohangout-spark-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = QUERIES[name][0]
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001 — record the failure in the file
            plan = f"PLAN FAILED: {e}"
        out = os.path.join(round_dir, f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(f"== {name} ({suffix}, {sf_dir}) ==\n\n{plan}\n")
        n_ex = plan.count("Exchange")
        print(f"# {name}: {n_ex} Exchange mentions -> {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
