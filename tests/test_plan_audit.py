"""Whole-workload physical-plan audit: the 100 TB guardrail.

Every workload query's executed plan is checked for join shapes that do not
survive scale. CartesianProduct is never acceptable. BroadcastNestedLoopJoin
is acceptable ONLY where the broadcast side is provably tiny and the shape
is the intended design — and "provably" is enforced by MEASUREMENT, not by
comment (VERDICT r6 #7): every whitelisted query is executed and the actual
row count that went through its BroadcastExchange (the numOutputRows SQL
metric) must stay under the entry's declared bound. A new query that
accidentally plans a theta join fails the shape test; a whitelisted query
whose build side silently grows fails the bound test.
"""

from gohangout_spark.plan_metrics import executed_plan, node_counts, node_metrics, walk
from gohangout_spark.workload import QUERIES

SF = "/root/testdata/sf0.001"

# BroadcastNestedLoopJoin allowed: query -> (max broadcast rows at SF, why).
# The bound is asserted against the executed plan's BroadcastExchange
# numOutputRows metric in test_bnlj_build_sides_bounded.
BNLJ_OK = {
    # deliberate O(n²) exact baseline the LSH variant is recall-tested
    # against: the build side IS the sf0.001 corpus (500 vectors) — the
    # bound pins that this stays the tiny fixed test corpus, never a
    # production-sized side
    "embedding_neardup_exact": (1_000, "all-pairs exact baseline, corpus-sized by design"),
    # brute-force ANN baseline: the 10-query block broadcast, corpus streams
    "embedding_topk": (16, "10-query probe block"),
    # same broadcast-query shape over the int8-compressed corpus projection
    "embedding_q8_topk": (16, "10-query probe block"),
    # same brute-force shape over the JL-projected (16-dim) vectors
    "embedding_rp_topk": (16, "10-query probe block"),
    # PQ ADC scan: same broadcast-query shape, but the corpus side is the
    # compressed (id, codes) projection — m ints per row, not the vectors
    "embedding_pq_topk": (16, "10-query probe block"),
    # PQ limiting-case hash gate: same ADC broadcast-query scan as
    # embedding_pq_topk, run at rerank >= corpus so the output must equal
    # brute force; broadcast side is still only the 10-query block
    "embedding_pq_exact_rerank": (16, "10-query probe block"),
    # avg(c_acctbal) scalar subquery: a 1-row broadcast
    "tpch_q22": (1, "scalar subquery"),
    # global revenue-share threshold: a 1-row broadcast (q11's scalar)
    "tpch_q11": (1, "scalar subquery"),
    # benchmark snippet list (KBs) broadcast for substring containment —
    # no equi-key exists for substring matching; the snippets ride as one
    # collected array row
    "decontaminate_docs": (8, "collected snippet array"),
    # fuzzy join's short-string block: all-pairs over values shorter than
    # q*(k+1) chars — a universe bounded by construction, broadcast side
    "fuzzy_name_pairs": (256, "short-string block below the q-gram floor"),
    # z-order key: the min/max bounds aggregate rides a 1-row broadcast
    "zorder_key_events": (1, "1-row min/max bounds aggregate"),
    # Kneser-Ney T scalar: the bigram-type count rides a 1-row broadcast
    # (the oracle's `tt` CTE), replacing the r8 eager bg.count() driver
    # job that re-ran the whole corpus explode — the q11/q22 scalar shape
    "kneser_ney_perplexity": (1, "1-row bigram-type-count aggregate"),
    # AMS gate: the 1-row exact-F2 verification column joins the 1-row
    # median estimate
    "ams_f2_events": (1, "1-row exact-F2 verification column"),
    "ams_join_size": (1, "1-row exact-join-size verification column"),
}


def _bnlj_broadcast_rows(df):
    """Execute df and return the numOutputRows metric of every
    BroadcastExchange feeding a BroadcastNestedLoopJoin build side."""
    df.collect()
    sides = [
        node.right() if "Right" in node.buildSide().toString() else node.left()
        for node, name in walk(executed_plan(df))
        if name == "BroadcastNestedLoopJoinExec"
    ]

    counts = []
    for side in sides:
        for node, name in walk(side):
            if name == "BroadcastExchangeExec":
                counts.append(node_metrics(node)["numOutputRows"])
                break
            if name == "ReusedExchangeExec":
                counts.append(node_metrics(node.child())["numOutputRows"])
                break
    return counts


# Gates that RUN a streaming query / driver-side collection inside the
# query function and return a detached result (localCheckpoint scan or
# createDataFrame): their returned plan is vacuously clean, so auditing it
# would only pay for full streaming replays without inspecting anything.
# Their internal batch plans ARE audited through the one-shot twins built
# from the same functions (dedup_incremental/_recall -> the minhash band
# joins; link_metric_count/link_stats_metric -> the metric aggregations).
STREAMING_GATES = {
    "dedup_stream_replay",
    "link_metric_stream_replay",
    # sketch-store replays: batch plans audited via the one-shot twins
    # (countmin_user_events / logbucket_value_quantiles) built from the
    # same functions; the gates themselves return a localCheckpoint scan
    "countmin_stream_replay",
    "logbucket_stream_replay",
    "kmv_stream_replay",
}


def test_no_scale_killer_joins(spark):
    offenders = {}
    for name, (fn, _) in sorted(QUERIES.items()):
        if name in STREAMING_GATES:
            continue
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            offenders[name] = "BroadcastNestedLoopJoin (not whitelisted)"
    assert not offenders, offenders


# Exchange-reuse invariants (ADVICE r9): the kneser/dsir corpus subtree
# sharing is held up by canonicalization-sensitive expression choices
# (the stated-once null filter, the count(CASE) pruning blocker in
# lm.py/sampling.py). A Spark upgrade that rewrites count(CASE WHEN x IS
# NOT NULL) to count(*) would silently restore the multi-pass corpus
# scan with no correctness failure — so the invariant is MEASURED here:
# query -> (min ReusedExchange nodes, max Generate/explode nodes in the
# executed plan).
EXCHANGE_REUSE = {
    "kneser_ney_perplexity": (3, 1),
    "dsir_importance_weights": (1, 1),
    "dup_span_stats": (0, 1),
}


def test_exchange_reuse_invariants(spark):
    bad = {}
    for name, (min_reuse, max_gen) in sorted(EXCHANGE_REUSE.items()):
        df = QUERIES[name][0](spark, SF)
        df.collect()
        counts = node_counts(df)
        if counts["ReusedExchangeExec"] < min_reuse:
            bad[name] = f"ReusedExchange {counts['ReusedExchangeExec']} < {min_reuse}"
        if counts["GenerateExec"] > max_gen:
            bad[name] = f"Generate {counts['GenerateExec']} > {max_gen} (corpus explode re-ran)"
    assert not bad, bad


def test_bnlj_build_sides_bounded(spark):
    """Every whitelisted BNLJ's build side must MEASURE under its declared
    row bound — the whitelist stops being a list of trusted comments. A
    query whose BNLJ disappears at this SF (AQE pruning an empty side)
    passes vacuously: the shape test above still tracks its membership."""
    over = {}
    for name, (bound, why) in sorted(BNLJ_OK.items()):
        counts = _bnlj_broadcast_rows(QUERIES[name][0](spark, SF))
        for rows in counts:
            if rows > bound:
                over[name] = f"broadcast side {rows} rows > bound {bound} ({why})"
    assert not over, over
