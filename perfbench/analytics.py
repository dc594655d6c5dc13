"""Analytics layer probe: registry queries through the noop sink, on
seeded tables, in the traced run of weblog_backfill.

It measures the `functions/`, `io` and `workload.py` layers: per-query time
and a rollup per family (the module each query mainly calls). The 62-query
headline list is pinned here as it stood when this benchmark was defined, so
an edit to bench.py's HEADLINE cannot change the probe. One pass over all 62
takes about 37 s at sf0.01 on a 4-core box, so the probe runs a fixed subset,
one or two queries per family, and checks each against the DuckDB oracle
after timing.
"""

from __future__ import annotations

import time
from statistics import geometric_mean, median

from perfbench import tables
from perfbench.common import force, jvm_gc

HEADLINE_62 = [
    "tpch_q1", "tpch_q3", "tpch_q6", "tpch_q5", "tpch_q7", "tpch_q8",
    "tpch_q10", "tpch_q14", "tpch_q18", "tpch_q2", "tpch_q4", "tpch_q9",
    "tpch_q11", "tpch_q12", "tpch_q16", "tpch_q20", "tpch_q21",
    "order_priority_semijoin", "segment_topk_rank", "grok_extract",
    "etl_pipeline_chain", "json_parse", "convert_types", "link_stats_metric",
    "metric_reduce", "dedup_exact", "dedup_minhash_lsh",
    "ngram_jaccard_adjacent", "embedding_topk", "doc_fingerprint",
    "quality_score", "lang_id", "purchase_attribution", "signup_error_window",
    "semantic_dedup_by_label", "paragraph_dedup_stats", "url_curation",
    "gopher_rules", "bm25_search", "dup_span_stats", "char_lm_perplexity",
    "boilerplate_lines", "bloom_decontaminate", "curation_funnel",
    "markov_transitions", "rfm_segments", "lexical_diversity",
    "inverted_index", "winnow_fingerprints", "salted_heavy_hitters",
    "heavy_hitter_users", "quality_classifier_score", "embedding_lsh_topk",
    "bpe_encode_fixed", "kneser_ney_perplexity", "dsir_importance_weights",
    "unigram_encode_fixed", "countmin_user_events",
    "logbucket_value_quantiles", "kmv_distinct_users",
    "charset_entropy_profile", "url_registrable_domain",
]

# the subset that runs, with the family (the module it mainly calls)
PINNED = {
    "tpch_q3": "tpch",
    "grok_extract": "operators",
    "dedup_exact": "dedup",
    "countmin_user_events": "sketch",
    "kmv_distinct_users": "sketch",
    "char_lm_perplexity": "text_lm",
}
assert set(PINNED) <= set(HEADLINE_62)

SF = 0.01
PASSES = 2


def _oracle_check(spark, data_dir: str) -> dict[str, str]:
    """-> {query: problem} for queries whose output differs from DuckDB
    (row count + order-insensitive hash, tools/check_oracle.py's
    canonicalisation); rows-only queries must return rows."""
    import duckdb

    from gohangout_spark.io import TABLES
    from gohangout_spark.workload import QUERIES
    from tools.check_oracle import pdf_hash

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for name in PINNED:
        fn, sql = QUERIES[name]
        try:
            if sql is None:
                if fn(spark, data_dir).count() == 0:
                    bad[name] = "no rows"
                continue
            got = fn(spark, data_dir).toPandas()
            want = con.execute(sql).df()
        except Exception as e:  # a query that errors is a failed check
            bad[name] = f"error: {e!r}"[:300]
            continue
        if len(got) != len(want):
            bad[name] = f"rows {len(got)} != {len(want)}"
        elif sorted(got.columns) != sorted(want.columns) or pdf_hash(got) != pdf_hash(want):
            bad[name] = "hash mismatch"
    con.close()
    return bad


def _pass(spark, data_dir, tracer, times=None):
    from gohangout_spark.workload import QUERIES

    for name in PINNED:
        if times is not None:
            jvm_gc(spark)
        t0 = time.perf_counter()
        with tracer.span(f"query.{name}", "workload"):
            force(QUERIES[name][0](spark, data_dir))
        if times is not None:
            times.setdefault(name, []).append(time.perf_counter() - t0)


def probe(ctx, spark) -> tuple[dict, int, int]:
    """Time each pinned query (bench.py's protocol: a warm pass, then GC
    before each timed query) on seeded sf0.01 tables, then check them all
    against the oracle. -> (layer metrics, queries attempted, failed)."""
    tracer = ctx.tracer
    data_dir = ctx.rundir.sub("tables")
    tables.generate(data_dir, ctx.seed, SF)
    with tracer.span("analytics.warm", "workload"):
        _pass(spark, data_dir, tracer)
    times: dict[str, list[float]] = {}
    for _ in range(PASSES):
        _pass(spark, data_dir, tracer, times)
    bad = _oracle_check(spark, data_dir)
    for name, problem in bad.items():
        print(f"# check failed: {name}: {problem}")
    per_query = {q: median(v) for q, v in times.items()}
    L = {f"analytics.{q}_s": t for q, t in per_query.items()}
    for fam in sorted(set(PINNED.values())):
        L[f"analytics.family.{fam}_s"] = sum(
            t for q, t in per_query.items() if PINNED[q] == fam)
    L["analytics.queries_total_s"] = sum(per_query.values())
    L["analytics.queries_geomean_s"] = geometric_mean(per_query.values())
    return L, len(PINNED), len(bad)
