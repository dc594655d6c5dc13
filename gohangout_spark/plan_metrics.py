"""Executed-plan walk and per-node SQL metrics.

The one traversal of a JVM physical plan. Under AQE the executed plan is an
``AdaptiveSparkPlanExec`` whose final tree hangs off ``executedPlan`` and
whose shuffle/broadcast stages are ``*QueryStageExec`` wrappers around the
stage's ``plan``; neither is reachable through ``children()``. ``walk``
follows both, so a collected DataFrame's walk sees the AQE-final operators
with their runtime metrics.

    for node, name in walk(executed_plan(df)):
        if name == "SortMergeJoinExec":
            print(node_metrics(node))
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame):
    """The JVM root of df's executed plan (AQE-final once df has run)."""
    return df._jdf.queryExecution().executedPlan()


def walk(node) -> Iterator[tuple[object, str]]:
    """Pre-order (node, class simple name) over a JVM SparkPlan, descending
    into AdaptiveSparkPlanExec.executedPlan and *QueryStageExec.plan."""
    name = node.getClass().getSimpleName()
    yield node, name
    if name == "AdaptiveSparkPlanExec":
        yield from walk(node.executedPlan())
    elif name.endswith("QueryStageExec"):
        yield from walk(node.plan())
    else:
        children = node.children()
        for i in range(children.size()):
            yield from walk(children.apply(i))


def node_metrics(node) -> dict[str, int]:
    """The node's SQL metrics (``numOutputRows``, ``spillSize``,
    ``peakMemory``, ...) as name -> current value."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def node_counts(df: DataFrame) -> Counter:
    """Operator class name -> occurrences in df's executed plan."""
    return Counter(name for _, name in walk(executed_plan(df)))
