"""Bounded-memory sketch operators: Misra-Gries heavy hitters, Count-Min
frequency estimation, log-bucket quantiles, and KMV distinct-value
sketches with set operations.

The HLL validation lives in functions.analytics (approx_distinct_report);
this module holds the frequency side. The production problem: "top-k most
frequent values of a column whose domain is huge" — a plain
groupBy(col).count() shuffles O(distinct × partitions) partial rows, which
at 100 TB of URLs/tokens is itself a heavy shuffle. The classic answer is
a two-phase candidate sketch:

1. LOCAL pass (mapInPandas, Arrow): each partition keeps at most ``m``
   Misra-Gries counters. MG guarantee (Misra & Gries 1982): any value with
   partition frequency > n_part/(m+1) survives the partition's counter set,
   so any value with GLOBAL frequency > N/(m+1) appears in at least one
   partition's candidates.
2. EXACT recount of the (≤ m × partitions) candidate values only: the
   corpus is rescanned with a broadcast semi-join — scan-side filter, no
   full-domain shuffle — and the true counts of candidates rank the top-k.

The result is EXACT whenever every true top-k value clears the MG bound —
always true when k ≪ m and the distribution has any skew, and trivially
true when m exceeds the per-partition distinct count (the counters then
degrade gracefully to exact local aggregation).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 10,
    m: int = 4096,
) -> DataFrame:
    """Exact top-``k`` most frequent values of ``col`` without a
    full-domain count shuffle. Returns (value, n) ordered by (n desc,
    value asc) — deterministic tiebreak. NULLs are not counted (a NULL
    "value" is not a value). See module docstring for the exactness
    condition; raise ``m`` if the domain is huge AND flat.

    Shuffle shape (r9 opt round): only the CANDIDATE branch is
    round-robin rebalanced (the Python MG pass is the CPU-bound stage that
    needs spread on a one-row-group fixture scan; at production scale the
    guard in :func:`gohangout_spark.io.rebalance_for_compute` makes it a
    no-op). The exact-recount branch stays scan-side: callers must NOT
    pre-repartition ``df``, or Catalyst's left-semi pushdown
    (PushDownLeftSemiAntiJoin) re-plants the caller's round-robin exchange
    ABOVE the semi-join, shuffling the whole corpus a second time before
    the partial count — map-side combine already bounds the recount
    exchange to candidate-distinct rows per partition.
    """

    def local_candidates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            vals = pdf["__v"].dropna()
            # batch-level exact counts fold into the MG structure so the
            # counter update runs per DISTINCT value per batch, not per row
            for v, c in vals.value_counts().items():
                if v in counters:
                    counters[v] += int(c)
                elif len(counters) < m:
                    counters[v] = int(c)
                else:
                    dec = min(counters.values())
                    dec = min(dec, int(c))
                    # decrement-all by the smallest involved count — the
                    # batched generalization of MG's decrement step
                    drop = [x for x, cc in counters.items() if cc <= dec]
                    for x in counters:
                        counters[x] -= dec
                    for x in drop:
                        del counters[x]
                    if int(c) > dec:
                        counters[v] = int(c) - dec
        yield pd.DataFrame({"__v": list(counters.keys())})

    from gohangout_spark.io import rebalance_for_compute

    src = df.select(F.col(col).alias("__v")).where(F.col("__v").isNotNull())
    cands = (
        rebalance_for_compute(src, df.sparkSession)
        .mapInPandas(local_candidates, src.schema)
        .dropDuplicates(["__v"])
    )
    exact = (
        src.join(F.broadcast(cands), "__v", "left_semi")
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("__v"))
        .limit(k)
    )
    return exact.select(F.col("__v").alias(col), "n")


# --------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) frequency estimation
# --------------------------------------------------------------------------

def countmin_table(
    df: DataFrame,
    col: str,
    *,
    depth: int = 4,
    width: int = 256,
    weight_col: str | None = None,
) -> DataFrame:
    """The Count-Min sketch of ``col`` as a (depth, bucket, cnt) DataFrame
    (Cormode & Muthukrishnan 2005, "An improved data stream summary: the
    count-min sketch and its applications"). Complements the module's
    Misra-Gries candidates: MG answers "which values are frequent", CM
    answers "how frequent is THIS value" for any value, in d×w counters.

    Row d's hash is the md5-hex-prefix of ``"<d>:<value>"`` mod width —
    the repo's house hash (cross-engine-replayable; the
    ``countmin_user_events`` gate replays it in DuckDB). Scale shape: one
    scan explodes each row into ``depth`` (d, bucket) pairs and a
    combiner-reduced groupBy collapses them — the shuffle is bounded by
    the SKETCH (≤ depth×width rows per partition), never by the key
    domain, which is the entire point vs a full groupBy(col) at 100 TB of
    URLs/tokens. Sketches MERGE by elementwise sum (union the inputs, or
    sum two tables on (depth, bucket)) — the property that makes the
    same code work per-partition, per-day, or per-cluster. NULLs are not
    counted (as in heavy_hitters).

    ``weight_col`` (r9 opt round): build the sketch from PRE-AGGREGATED
    (key, weight) rows — the standard sketch-from-histogram form, counter
    = Σ weight instead of Σ 1. Bucket counts are identical to feeding the
    raw stream (the bucket of a key does not depend on its multiplicity),
    so when a caller has already reduced the stream to per-key counts
    (e.g. the countmin_user_events gate, which computes exact counts
    anyway), the hash probes run once per DISTINCT key and the exact-count
    exchange is reused rather than re-scanning the corpus."""
    key = F.col(col).cast("string")
    probes = F.array(
        *[
            F.struct(
                F.lit(d).alias("depth"),
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.lit(str(d)), key)), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    # filter on the RAW column, not its string cast: cast-to-string of a
    # non-null value is never null, so the semantics are identical — but
    # `isnotnull(cast(col as string))` is a predicate Catalyst cannot
    # cancel against a caller's own isnotnull(col) filter, which made this
    # branch's copy of a shared subtree canonicalize differently and
    # blocked exchange reuse (r9 opt round, countmin_user_events).
    src = df.where(F.col(col).isNotNull())
    if weight_col is None:
        return (
            src.select(F.explode(probes).alias("p"))
            .groupBy(F.col("p.depth").alias("depth"), F.col("p.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
    return (
        src.select(F.col(weight_col).alias("__w"), F.explode(probes).alias("p"))
        .groupBy(F.col("p.depth").alias("depth"), F.col("p.bucket").alias("bucket"))
        .agg(F.sum("__w").alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    *,
    depth: int = 4,
    width: int = 256,
    out_col: str = "cm_est",
    carry_cols: list[str] | tuple = (),
) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: the estimate is
    min over the ``depth`` rows of the probed counters (absent counter =
    0). ``depth``/``width`` MUST match the ``countmin_table`` call. The
    sketch is ≤ depth×width rows regardless of data size, so the probe
    join broadcasts it — estimating any number of keys costs one
    broadcast-join pass, no shuffle of the key side. Guarantee: est ≥
    true count always (counters only over-count), and
    P[est > true + εN] ≤ δ for width ≥ e/ε, depth ≥ ln(1/δ).

    ``carry_cols`` (r9 opt round): extra ``keys`` columns threaded through
    the probe explode and the grouping unchanged (they must be
    functionally dependent on ``col``, e.g. per-key aggregates riding the
    same row). Lets a caller that already holds (key, stat) rows get
    (key, stat, estimate) in ONE pass — without it, column pruning strips
    the stat from this subtree, the caller needs a join back to re-attach
    it, and the pruned copy of a shared upstream subtree blocks exchange
    reuse (the countmin_user_events gate measured a whole extra
    events-aggregation pass from exactly that)."""
    carry = list(carry_cols)
    key = F.col(col).cast("string")
    probes = F.array(
        *[
            F.struct(
                F.lit(d).alias("depth"),
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.lit(str(d)), key)), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    probed = keys.select(
        F.col(col), *[F.col(c) for c in carry], F.explode(probes).alias("p")
    ).select(
        col,
        *carry,
        F.col("p.depth").alias("depth"),
        F.col("p.bucket").alias("bucket"),
    )
    return (
        probed.join(F.broadcast(sketch), ["depth", "bucket"], "left")
        .groupBy(col, *carry)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out_col))
    )


# --------------------------------------------------------------------------
# Log-bucket (HDR-histogram-style) quantile estimation
# --------------------------------------------------------------------------

def logbucket_index(v) -> "F.Column":
    """Bucket index of a positive scaled-integer value: values below 8 map
    to themselves (exact); otherwise ``(e-2)*8 + (v >> (e-3))`` with
    ``e = floor(log2 v)`` — the leading octave plus the next three
    significant bits, i.e. 8 linear sub-buckets per power of two (the
    HdrHistogram layout at precision 3 bits; Gil Tene's design, same
    family as DDSketch's log buckets). The index is computed ENTIRELY in
    integer/string ops (``length(bin(v))`` and a shift) so it is
    bit-identical across engines — no floating log anywhere. Monotone in
    ``v``; sub-bucket ≥ 8 bounds the relative error of a bucket's lower
    bound at 1/8 = 12.5%."""
    e = (F.length(F.bin(v)) - 1).cast("long")
    sub = F.call_function("shiftright", v, (e - 3).cast("int"))
    return F.when(v < 8, v).otherwise((e - 2) * 8 + sub)


def logbucket_lower_bound(idx) -> "F.Column":
    """Scaled-integer lower bound of a bucket index (the quantile
    estimate): inverts :func:`logbucket_index` — ``sub << (e-3)`` with
    ``e = (idx-8)//8 + 2`` — again in pure integer ops."""
    e = F.floor((idx - 8) / 8) + 2
    sub = (idx - (e - 2) * 8).cast("long")  # long base: no shift overflow
    lb = F.call_function("shiftleft", sub, (e - 3).cast("int"))
    return F.when(idx <= 7, idx).otherwise(lb.cast("long"))


def logbucket_table(
    df: DataFrame, value_col: str, group_cols: list[str], *, scale: int = 1000
) -> DataFrame:
    """The mergeable quantile sketch: per group, (idx, cnt) counts of
    ``floor(value*scale)`` in log buckets. The table is bounded by the
    INDEX RANGE (≈ 8 buckets per octave, ~500 for the full long range),
    never by row count or value cardinality — so the groupBy shuffles
    combiner-reduced bounded rows, and sketches merge by summing cnt on
    (group, idx), the same union property as countmin_table. Non-positive
    and NULL values are excluded (log buckets need v ≥ 1)."""
    v = F.floor(F.col(value_col) * scale).cast("long")
    d = (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, v.alias("__v"))
        .where(F.col("__v") >= 1)
    )
    return (
        d.select(*group_cols, logbucket_index(F.col("__v")).alias("idx"))
        .groupBy(*group_cols, "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def logbucket_quantiles(
    hist: DataFrame,
    group_cols: list[str],
    qs: list[tuple[int, int, str]] = ((1, 2, "p50"), (19, 20, "p95"), (99, 100, "p99")),
) -> DataFrame:
    """Per-group quantile estimates from a :func:`logbucket_table`: for
    each quantile num/den the estimate is the lower bound of the first
    bucket whose cumulative count reaches rank ``ceil(num*n/den)`` —
    computed as the INTEGER ceil-division ``(num*n + den - 1) div den``
    so rank selection has no float anywhere (a float ``ceil(0.95*n)``
    can straddle an integer boundary; the integer form cannot). Runs on
    the bounded sketch, not the data: the window partitions are ≤ a few
    hundred rows per group."""
    from pyspark.sql import Window

    cum = Window.partitionBy(*group_cols).orderBy("idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy(*group_cols)
    h = hist.withColumn("cum", F.sum("cnt").over(cum)).withColumn(
        "n", F.sum("cnt").over(tot)
    )
    lb = logbucket_lower_bound(F.col("idx"))
    aggs = [F.max("n").alias("n_rows")]
    for num, den, name in qs:
        rank = F.expr(f"({num} * n + {den} - 1) div {den}")
        aggs.append(F.min(F.when(F.col("cum") >= rank, lb)).alias(name))
    return h.groupBy(*group_cols).agg(*aggs)


# --------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k theta) distinct-value sketch
# --------------------------------------------------------------------------
#
# Bar-Yossef et al. 2002 ("Counting distinct elements in a data stream")
# and Beyer et al. 2007 ("On synopses for distinct-value estimation under
# multiset operations") — the sketch family behind DataSketches' theta
# sketch. Where HLL (approx_distinct_report) answers only |A|, a KMV
# sketch is a SET SYNOPSIS: keep the k smallest distinct hash values; the
# k-th smallest hash h_k estimates the density of distinct hashes, so
# DV ≈ (k-1) / (h_k / SPAN). Because the synopsis is an actual sample of
# the hash space below a threshold, sketches COMPOSE: union = k smallest
# of the combined hash sets, and |A ∩ B| is estimated by counting hashes
# common to both synopses below θ = min(θ_A, θ_B) — the set-expression
# cardinalities HLL cannot produce.
#
# Everything is integer arithmetic over the repo's house hash (48-bit
# md5-hex prefix), including the final estimate ((k-1)·SPAN div h_k), so
# the whole construction replays bit-for-bit in a DuckDB oracle (the
# kmv_distinct_users / kmv_cohort_setops gates).

KMV_SPAN = 1 << 48  # hash domain: 12 md5 hex chars


def bottom_k(df: DataFrame, gcols: list[str], k: int) -> DataFrame:
    """The bottom-k re-sketch shared by kmv_table / kmv_union (and the
    streaming store's load): distinct hashes per group, k smallest kept.
    One definition so the synopsis-validity invariant cannot drift
    between the three call sites."""
    from pyspark.sql import Window

    w = Window.partitionBy(*(gcols or [F.lit(1)])).orderBy("h")
    return (
        df.select(*gcols, "h")
        .dropDuplicates(gcols + ["h"])
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_hash(col) -> "F.Column":
    """48-bit uniform hash of a value: md5-hex-prefix, the house hash
    (cross-engine replayable: ``('0x' || substring(md5(v), 1, 12))::BIGINT``
    in DuckDB)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast(
        "long"
    )


def kmv_table(
    df: DataFrame,
    col: str,
    group_cols: list[str] | tuple = (),
    *,
    k: int = 64,
    pre_distinct: bool = False,
) -> DataFrame:
    """The KMV synopsis of ``col`` per group: the ≤ ``k`` smallest DISTINCT
    48-bit hashes, as (group..., h) rows. Scale shape (r9 opt round —
    all-JVM, no Python boundary): a ``dense_rank() <= k`` filter over the
    (group ORDER BY h) window. Catalyst's InferWindowGroupLimit turns
    that into a PARTIAL WindowGroupLimit BEFORE the exchange — each input
    partition forwards only rows whose hash is among ITS bottom-k
    distinct, the same per-partition bound the previous mapInPandas local
    pass enforced, without Arrow-crossing the corpus (every
    globally-bottom-k hash is also bottom-k in its own partition, so the
    result stays independent of partitioning). The post-window distinct
    rides the window's own exchange (grouping on a superset of its
    partitioning key).

    ``pre_distinct=True`` is the guard for DUPLICATE-HEAVY, low-
    cardinality columns (ADVICE r9): when a partition's distinct count is
    near or below k, every duplicate of a bottom-k hash passes the
    partial WindowGroupLimit, and ungrouped they all funnel into the
    single partitionBy(lit(1)) window task. The guard pre-reduces to
    DISTINCT (group, h) via :func:`bottom_k` — one extra well-spread
    hash exchange with map-side dedup, after which the window input is
    duplicate-free. It is OPT-IN, not the default, because both the
    default's hazard and the guard's cost are data-shaped: measured at
    sf0.1 on kmv_distinct_users (high event-per-user duplication but
    1500 distinct users, i.e. NOT the hazard regime) the guard cost
    1.037 -> 1.325 s median (interleaved A/B, r10), and at production
    cardinalities the distinct exchange carries every distinct (group,
    hash) pair — the volume an exact count_distinct pays — where the
    window-first shape forwards only ~k x partitions rows. The RESULT is
    identical either way (bottom-k distinct is dedup-insensitive);
    choose by column shape: ``pre_distinct=True`` when duplicates per
    distinct value are high (event_type-, country-like columns), default
    when cardinality is high. NULLs are not hashed. The synopsis MERGES
    by :func:`kmv_union`; estimate with :func:`kmv_estimate`."""
    from pyspark.sql import Window

    gcols = list(group_cols)
    key = F.col(col).cast("string")
    src = df.where(key.isNotNull()).select(
        *gcols, kmv_hash(F.col(col)).alias("h")
    )
    if pre_distinct:
        return bottom_k(src, gcols, k)
    w = Window.partitionBy(*(gcols or [F.lit(1)])).orderBy("h")
    return (
        src.withColumn("__dr", F.dense_rank().over(w))
        .where(F.col("__dr") <= k)
        .drop("__dr")
        .dropDuplicates(gcols + ["h"])
    )


def kmv_estimate(
    sketch: DataFrame,
    group_cols: list[str] | tuple = (),
    *,
    k: int = 64,
    out_col: str = "dv_est",
) -> DataFrame:
    """Distinct-value estimate per group from a :func:`kmv_table` synopsis:
    EXACT (= n_kept) while the synopsis is unsaturated (n_kept < k, i.e.
    fewer than k distinct hashes exist), else the unbiased KMV estimator
    (k-1)·SPAN div h_k — pure integer division, so the estimate itself is
    engine-reproducible. Returns (group..., n_kept, kth, out_col). Runs on
    the ≤ k-row-per-group synopsis, never the data."""
    gcols = list(group_cols)
    agg = sketch.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth")
    )
    est = F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(
        F.expr(f"{(k - 1) * KMV_SPAN} div kth")
    )
    return agg.withColumn(out_col, est.cast("long"))


def kmv_union(
    a: DataFrame, b: DataFrame, group_cols: list[str] | tuple = (), *, k: int = 64
) -> DataFrame:
    """Union of two KMV synopses (same ``k``): the k smallest distinct
    hashes of the combined sets — again a valid KMV synopsis, so
    :func:`kmv_estimate` on the result estimates |A ∪ B|. Bounded: runs on
    ≤ 2k rows per group."""
    gcols = list(group_cols)
    return bottom_k(a.unionByName(b), gcols, k)


def kmv_intersect_estimate(
    a: DataFrame,
    b: DataFrame,
    group_cols: list[str] | tuple = (),
    *,
    k: int = 64,
    out_col: str = "inter_est",
) -> DataFrame:
    """|A ∩ B| estimate per group from two KMV synopses (theta-sketch
    intersection, Beyer et al. 2007 §4): θ_X is the synopsis's k-th hash
    when saturated else SPAN ("every hash kept"); below θ = min(θ_A, θ_B)
    both synopses are COMPLETE samples of the hash space, so the count of
    common hashes under θ scales by SPAN div θ. Returns (group..., common,
    theta, out_col); groups must appear in BOTH synopses (inner join —
    an absent group has no sketch to intersect). All joins are equi-joins
    on the bounded synopses."""
    gcols = list(group_cols)
    if not gcols:  # ungrouped: thread a constant key through the joins
        out = kmv_intersect_estimate(
            a.withColumn("__g", F.lit(1)),
            b.withColumn("__g", F.lit(1)),
            ["__g"],
            k=k,
            out_col=out_col,
        )
        return out.drop("__g")

    def theta_of(sk: DataFrame, alias: str) -> DataFrame:
        return sk.groupBy(*gcols).agg(
            F.when(F.count(F.lit(1)) >= k, F.max("h"))
            .otherwise(F.lit(KMV_SPAN))
            .alias(alias)
        )

    th = theta_of(a, "__ta").join(theta_of(b, "__tb"), gcols).select(
        *gcols, F.least("__ta", "__tb").alias("theta")
    )
    common = (
        a.join(b, gcols + ["h"], "inner")
        .join(F.broadcast(th), gcols)
        .where(F.col("h") < F.col("theta"))
        .groupBy(*gcols)
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = th.join(common, gcols, "left").select(
        *gcols,
        F.coalesce(F.col("common"), F.lit(0)).alias("common"),
        "theta",
    )
    return out.withColumn(
        out_col,
        F.expr(f"(common * {KMV_SPAN}) div theta").cast("long"),
    )


# --------------------------------------------------------------------------
# AMS F2 (second frequency moment / self-join size) sketch
# --------------------------------------------------------------------------

def ams_sign(hex_col, d: int) -> "F.Column":
    """±1 sign of AMS row ``d`` from a per-row md5 hex string: +1 when
    hex digit ``d % 32`` has its top bit set (value ≥ 8), −1 otherwise —
    one bit per depth out of an md5 computed ONCE per row (40 separate
    md5("<d>:<key>") calls per row was the dominant cost of the first
    cut: 12.3 s at sf0.1, 5.7× at 100×). Replayable in DuckDB as
    ``CASE WHEN ('0x' || substring(md5(...), d+1, 1))::INT >= 8``."""
    nib = F.conv(F.substring(hex_col, (d % 32) + 1, 1), 16, 10).cast("int")
    return F.when(nib >= 8, F.lit(1)).otherwise(F.lit(-1))


def ams_f2_table(df: DataFrame, col: str, *, depth: int = 40) -> DataFrame:
    """The AMS sketch of ``col`` as a (depth, z) DataFrame (Alon, Matias
    & Szegedy 1996, "The space complexity of approximating the frequency
    moments"): row d keeps the signed sum Z_d = Σ_rows σ_d(key), whose
    SQUARE is an unbiased estimate of F2 = Σ_k n_k² — the self-join size
    |R ⋈_k R|, the quantity a cost-based optimizer wants before picking a
    join strategy. The sketch is LINEAR: tables merge by summing z on
    depth (union of inputs == sum of sketches), the same distribution
    property as countmin_table.

    Scale shape: ``ceil(depth/32)`` md5 digests per row (each supplies 32
    sign bits from its hex digits — digest i hashes ``"<i>:<key>"``, the
    house seam), ``depth`` plain SUM aggregates in one whole-stage-codegen
    pass (a single partial row per partition — no row explosion, no
    per-depth hashing), then one unpivot of the 1×depth result to the
    (depth, z) layout. NULLs are not counted."""
    key = F.col(col).cast("string")
    src = df.where(key.isNotNull()).select(
        *[
            F.md5(F.concat_ws(":", F.lit(str(i)), key)).alias(f"__h{i}")
            for i in range((depth + 31) // 32)
        ]
    )
    sums = src.agg(
        *[
            F.sum(ams_sign(F.col(f"__h{d // 32}"), d).cast("long")).alias(f"z{d}")
            for d in range(depth)
        ]
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("depth"),
                    F.coalesce(F.col(f"z{d}"), F.lit(0)).alias("z"),
                )
                for d in range(depth)
            ]
        )
    )
    return sums.select(rows.alias("p")).select(
        F.col("p.depth").alias("depth"), F.col("p.z").alias("z")
    )



def _median_of_means(
    terms: DataFrame, *, depth: int, groups: int, out_col: str
) -> DataFrame:
    """Shared AMS estimator tail: ``terms`` is a (depth, t) frame of
    per-depth estimates (Z² for F2, Z_a·Z_b for join size); rows split
    into ``groups`` groups of s1 = depth/groups, each contributing
    ``sum(t) div s1`` (Spark ``div`` truncates toward zero — the seam the
    join-size oracle spells out for signed products; equal to floor on
    the F2 path's non-negative sums), and the estimate is the
    median group value picked by integer rank (odd ``groups``). The
    ``__n == s1`` guard rejects a truncated sketch instead of averaging
    over missing rows. Integer throughout; runs on ``depth`` rows."""
    from pyspark.sql import Window

    s1 = depth // groups
    if s1 * groups != depth:
        raise ValueError(f"depth {depth} must be a multiple of groups {groups}")
    means = (
        terms.groupBy((F.col("depth") % groups).alias("g"))
        .agg(
            F.expr(f"sum(t) div {s1}").alias("e"),
            F.count(F.lit(1)).alias("__n"),
        )
        .where(F.col("__n") == s1)
        .drop("__n")
    )
    w = Window.partitionBy(F.lit(1)).orderBy("e")
    return (
        means.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == groups // 2 + 1)
        .select(F.col("e").cast("long").alias(out_col))
    )

def ams_f2_estimate(
    sketch: DataFrame,
    *,
    depth: int = 40,
    groups: int = 5,
    out_col: str = "f2_est",
) -> DataFrame:
    """F2 estimate from an :func:`ams_f2_table`: AMS\'s MEDIAN-OF-MEANS
    over the per-depth Z² estimates (each Z² is individually unbiased for
    F2; averaging s1 = depth/groups of them cuts the relative std to
    √(2/s1), and the median group concentrates). The median must be taken
    over MEANS, not raw squares: a single Z² is distributed like a scaled
    χ²₁ whose MEDIAN is ≈ 0.455·F2, so median-of-singletons is biased low
    by more than 2× — caught empirically when the first cut of this
    estimator read 0.35× exact on sf0.1 events. Estimator tail shared
    with :func:`ams_join_size_estimate` (:func:`_median_of_means`).

    Overflow bound (the int64 seam): Z² and the s1-term group sum must
    fit a long, so |Z| must stay below √((2⁶³−1)/s1) ≈ 1.07e9 at s1=8 —
    i.e. the sketched relation may hold at most ~10⁹ rows per sketch
    partition of a merge tree (Z grows at most linearly in rows). At
    100 TB, sketch per shard/day and MERGE by z-sum rather than sketching
    the union in one pass; the in-plan assert below fails loudly instead
    of wrapping silently."""
    limit = int(((1 << 63) - 1) // max(depth // max(groups, 1), 1)) ** 0.5
    guard = F.assert_true(
        F.abs(F.col("z")) < F.lit(int(limit)),
        F.lit("AMS |Z| exceeds the int64 overflow bound; merge smaller sketches"),
    )
    checked = sketch.select(
        "depth", F.when(guard.isNull(), F.col("z")).otherwise(F.col("z")).alias("z")
    )
    terms = checked.select("depth", (F.col("z") * F.col("z")).alias("t"))
    return _median_of_means(terms, depth=depth, groups=groups, out_col=out_col)


def ams_join_size_estimate(
    sk_a: DataFrame,
    sk_b: DataFrame,
    *,
    depth: int = 40,
    groups: int = 5,
    out_col: str = "join_est",
) -> DataFrame:
    """JOIN-SIZE estimation between two relations from their AMS sketches
    (the application AMS was built for — Alon, Gibbons, Matias & Szegedy
    1999, "Tracking join and self-join sizes in limited storage"): for
    sketches built over the SAME depth/sign seam, E[Z_a,d · Z_b,d] =
    Σ_k n_k·m_k = |A ⋈_k B| — the cardinality a cost-based optimizer
    wants before choosing broadcast vs shuffle, from two 40-row synopses
    and no data contact. Median-of-means over the per-depth products
    (estimator tail shared with :func:`ams_f2_estimate`; products can be
    negative, so the truncate-toward-zero group mean is the exact seam
    the ``ams_join_size`` oracle replays). Bound: Var ≤ 2·F2(A)·F2(B)/s1,
    so the estimate is informative when the join is not vanishingly
    selective relative to the moments. Same |Z| < √((2⁶³−1)/s1) int64
    bound as the F2 path, asserted in-plan on both sides."""
    s1 = depth // max(groups, 1)
    limit = int((((1 << 63) - 1) // max(s1, 1)) ** 0.5)

    def checked(sk, side):
        guard = F.assert_true(
            F.abs(F.col("z")) < F.lit(limit),
            F.lit(f"AMS |Z| overflow bound exceeded on {side} sketch"),
        )
        return sk.select(
            "depth",
            F.when(guard.isNull(), F.col("z")).otherwise(F.col("z")).alias(side),
        )

    terms = (
        checked(sk_a, "za")
        .join(checked(sk_b, "zb"), "depth")
        .select("depth", (F.col("za") * F.col("zb")).alias("t"))
    )
    return _median_of_means(terms, depth=depth, groups=groups, out_col=out_col)
