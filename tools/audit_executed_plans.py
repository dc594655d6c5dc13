"""Executed-plan audit: run each query (collect) and report the AQE-final
operator counts that matter for duplicate-subtree detection — parquet
scans, corpus-side Generate/explode nodes, ReusedExchange, Python eval.

Usage: python tools/audit_executed_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gohangout_spark import get_spark
from gohangout_spark.plan_metrics import node_counts
from gohangout_spark.workload import QUERIES

OPERATORS = (
    "FileSourceScanExec",
    "GenerateExec",
    "ReusedExchangeExec",
    "ShuffleExchangeExec",
    "BroadcastExchangeExec",
    "ArrowEvalPythonExec",
    "MapInPandasExec",
    "SortMergeJoinExec",
    "BroadcastNestedLoopJoinExec",
    "CartesianProductExec",
)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:]
    spark = get_spark("gohangout-spark-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name][0](spark, sf_dir)
        try:
            # collect (not noop-save) so AQE finalizes THIS DataFrame's own
            # QueryExecution; headline-query outputs are oracle-sized (small)
            df.collect()
            counts = node_counts(df)
            print(name, {op: counts[op] for op in OPERATORS if counts[op]})
        except Exception as e:  # noqa: BLE001
            print(name, "ERROR", str(e)[:200])
        sys.stdout.flush()


if __name__ == "__main__":
    main()
