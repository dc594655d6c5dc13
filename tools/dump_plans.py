"""Dump formatted physical plans, normalized so two dumps diff cleanly.

Two outputs, one dumper:

- ``docs/PLANS.md`` (the default): the PICKS below with a one-line reason
  each, so plan quality (pushed filters, broadcast choices, codegen spans,
  exchange counts) is reviewable as text without running Spark;
- ``--round-dir DIR --suffix S``: one ``DIR/<name>_<S>.txt`` per query, the
  before/after evidence of a plan-affecting change (default queries:
  ``bench.HEADLINE``).

Every dump gets the same normalization: ``#id`` expression ids, ``[plan_id=N]``
and the ``current_timestamp`` literal become placeholders. Planning only, no
execution. A query is a ``workload.QUERIES`` name, or ``module:function``
for any ``fn(spark, sf_dir) -> DataFrame`` importable on ``PYTHONPATH``.

Usage:
    python tools/dump_plans.py [--sf SF_DIR]
    python tools/dump_plans.py --round-dir plans/r10 --suffix before \\
        [--sf SF_DIR] [query ...]
"""

from __future__ import annotations

import argparse
import datetime
import importlib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from gohangout_spark import get_spark  # noqa: E402
from gohangout_spark.workload import QUERIES  # noqa: E402

PICKS = [
    ("tpch_q8", "dimension broadcasts + one fact-fact shuffle"),
    ("tpch_q5", "selective broadcasts; customer side deliberately shuffled"),
    ("etl_pipeline_chain", "five FilterBoxes collapse into one codegen stage"),
    ("dedup_minhash_lsh", "scan-side signatures, band equi-join, ReusedExchange"),
    ("bm25_search", "shuffle-free scoring scan + TakeOrderedAndProject"),
    ("char_lm_perplexity", "model as plan literal; Arrow scorer projection"),
    ("dup_span_stats", "window explode, combiner groupBy, id join-back"),
    ("fuzzy_name_pairs", "q-gram equi-join blocking; bounded broadcast short block"),
    ("deterministic_shuffle", "range partition + local ranks + broadcast offsets"),
    ("curation_funnel", "four chained stages, equi-joins only"),
    # round 4
    ("semantic_dedup_kmeans", "self-join ReusedExchange below repartition-by-cluster"),
    ("markov_transitions", "user window + combiner pair counts; totals reuse the pair exchange"),
    ("heavy_hitter_users", "Misra-Gries candidates (Arrow) + broadcast semi recount + TakeOrdered"),
    ("winnow_fingerprints", "positioned gram explode, doc-window MIN, distinct partial agg"),
    ("quality_classifier_score", "model-as-literal sigmoid scoring, zero exchanges"),
    # round 7: the adapted TPC-H completions' signature shapes
    ("tpch_q2", "correlated per-part MIN as a window; three broadcast dims"),
    ("tpch_q11", "static plan duplicates the per-part agg subtree; at runtime "
     "AQE replaces the threshold branch with a ReusedExchange of the "
     "hashpartitioning(l_partkey) agg (verified on the executed plan), so "
     "the corpus scan+join+partial-agg runs once"),
    ("tpch_q21", "double correlation as late-count + multi-supplier semi-join"),
    ("tpch_q9", "5-table star+fact: three broadcasts, one orderkey shuffle"),
    # round 7 second session
    ("kneser_ney_perplexity", "cascading vocab-sized aggs; model tables "
     "join back as dimensions; one corpus explode"),
    ("dsir_importance_weights", "one (doc,bucket) combiner shuffle; "
     "1024-row log-ratio table broadcast into the scoring join"),
    ("countmin_user_events", "sketch build = bounded d x w combiner "
     "shuffle; probe join broadcasts the <=256-row sketch"),
    ("logbucket_value_quantiles", "whole-stage-codegen bucket indexing; "
     "quantile window runs on the bounded sketch, never the data"),
    # round 7 fourth session
    ("kmv_distinct_users", "local Arrow bottom-k pass; window over "
     "k x partitions candidates; estimate on the <=k-row synopsis"),
    ("image_dhash_neardup", "clip-parallel decode+hash; banded equi-join "
     "candidates; JVM-side XOR/bit_count Hamming verify"),
    ("ams_f2_events", "two md5 digests/row, 40 codegen SUMs in one pass, "
     "unpivot to the 40-row sketch; 1-row exact-F2 broadcast"),
    ("curation_funnel_v2", "four chained stages: charset/entropy scan, "
     "md5 canonical window, banded LSH pairs, broadcast fingerprint "
     "join — no all-pairs anywhere"),
]


def normalize(plan: str, now: datetime.datetime | None = None) -> str:
    """Replace the per-run parts of a formatted plan with placeholders:
    expression ids, exchange plan ids and the literal the optimizer folds
    ``current_timestamp()`` into (``now`` = when the plan was built)."""
    plan = re.sub(r"#\d+L?", "#x", plan)
    plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=x]", plan)
    if now is not None:
        # the folded literal prints as wall time to the microsecond, within
        # the seconds it took to plan; match on the date and hour prefix
        plan = re.sub(
            now.strftime("%Y-%m-%d %H:") + r"\d\d:\d\d(\.\d+)?",
            "<current_timestamp>",
            plan,
        )
    return plan


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def query_fn(name: str):
    if ":" in name:
        module, attr = name.split(":", 1)
        return getattr(importlib.import_module(module), attr)
    return QUERIES[name][0]


def dump(spark, names, sf_dir):
    """Yield ``(name, normalized plan)``; a query that fails to plan yields
    its error as the plan text."""
    for name in names:
        now = datetime.datetime.now(datetime.timezone.utc)  # session tz is UTC
        try:
            plan = formatted_plan(query_fn(name)(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — record the failure in the dump
            plan = f"PLAN FAILED: {e}"
        yield name, normalize(plan, now)


def write_docs(spark, sf_dir: str) -> None:
    why = dict(PICKS)
    out = [
        "# Physical plans (generated by tools/dump_plans.py — do not edit)",
        "",
        f"Source: `{sf_dir}`. Regenerate after plan-affecting changes.",
        "",
    ]
    for name, plan in dump(spark, why, sf_dir):
        out += [
            f"## {name}",
            "",
            f"_{why[name]}_ — Exchange nodes: {plan.count('Exchange')}",
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    path = os.path.join(ROOT, "docs", "PLANS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(PICKS)} plans)")


def write_round(spark, round_dir: str, suffix: str, names, sf_dir: str) -> None:
    os.makedirs(round_dir, exist_ok=True)
    for name, plan in dump(spark, names, sf_dir):
        path = os.path.join(round_dir, f"{name.replace(':', '.')}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {name} ({suffix}, {sf_dir}) ==\n\n{plan}\n")
        print(f"# {name}: {plan.count('Exchange')} Exchange mentions -> {path}",
              file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*",
                    help="with --round-dir: the queries to dump (default bench.HEADLINE)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01", help="testdata scale dir")
    ap.add_argument("--round-dir", help="write <name>_<suffix>.txt files here "
                    "instead of docs/PLANS.md")
    ap.add_argument("--suffix", default="plan")
    args = ap.parse_args()
    if args.queries and not args.round_dir:
        ap.error("query names need --round-dir (docs/PLANS.md dumps PICKS)")
    spark = get_spark("gohangout-spark-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    if args.round_dir:
        names = args.queries
        if not names:
            import bench

            names = bench.HEADLINE
        write_round(spark, args.round_dir, args.suffix, names, args.sf)
    else:
        write_docs(spark, args.sf)


if __name__ == "__main__":
    main()
