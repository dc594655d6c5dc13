"""Deterministic sampling — replayable random-like selection.

Training-data pipelines need samples that survive task retries and
re-runs: Spark's rand()/sample() resample per attempt, and the reference's
Random(n) condition is likewise nondeterministic per run (SURVEY §7
"what's hard" #6). Hash-ordering gives uniform pseudo-random selection
that is a pure function of (id, seed) — same inputs, same sample, on any
cluster layout.

Scale shape: stratified_sample is ONE shuffle (hash partition by stratum)
plus a per-partition top-n; deterministic_sample is a global
TakeOrdered(n) — no full sort, the n smallest hashes stream out of each
partition and merge on the driver-side heap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def hash_key(id_col, seed: int):
    # md5 exists with identical output in every engine (incl. the DuckDB
    # oracle) — xxhash64 does not; ordering by it is uniform enough for
    # sampling and cross-engine reproducible. NULL ids hash as the empty
    # string: concat(NULL, ...) is NULL, and a NULL key would silently DROP
    # the row from every where(hash < threshold) draw
    return F.md5(
        F.concat(F.coalesce(F.col(id_col).cast("string"), F.lit("")), F.lit(f"-{seed}"))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_per_stratum: int,
    seed: int = 42,
) -> DataFrame:
    """Keep the n_per_stratum smallest-hash rows per stratum. Adds a
    ``sample_rank`` column (1-based within the stratum)."""
    w = Window.partitionBy(strata_col).orderBy(hash_key(id_col, seed), F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n_per_stratum)
    )


def deterministic_sample(df: DataFrame, id_col: str, n: int, seed: int = 42) -> DataFrame:
    """Global deterministic pseudo-random sample of n rows (smallest-hash)."""
    return df.orderBy(hash_key(id_col, seed), F.col(id_col)).limit(n)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    max_per_group: int,
    order_by=None,
    seed: int = 42,
) -> DataFrame:
    """Cap rows per group (training-data curation: bound any one domain /
    source / site to ``max_per_group`` documents so it can't dominate the
    mixture).

    ``order_by`` (a Column, e.g. ``F.desc("quality")``) keeps the BEST rows
    within each group; default keeps a deterministic hash-ordered draw —
    both tie-break on ``id_col`` so the result is a pure function of the
    data. One shuffle (hash-partition by group) + per-partition top-n; the
    rank column is dropped, output schema == input schema.
    """
    order = [order_by] if order_by is not None else [hash_key(id_col, seed)]
    w = Window.partitionBy(group_col).orderBy(*order, F.col(id_col))
    return (
        df.withColumn("__cap_rank", F.row_number().over(w))
        .where(F.col("__cap_rank") <= max_per_group)
        .drop("__cap_rank")
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    token_col: str,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    default_budget: int = 0,
) -> DataFrame:
    """Mixture sampling by TOKEN budget, not doc count: per source, keep
    docs in deterministic md5-hash order until the source's cumulative
    token count first reaches its budget (the doc that crosses the line is
    kept — budgets are met, never silently undershot). The way training
    mixtures are actually specified ("30B tokens of web, 5B of code"):
    doc-probability draws (weighted_mixture) hit a DOC ratio; this hits the
    TOKEN ratio regardless of per-source length skew.

    Deterministic and layout-independent: hash order is a pure function of
    (id, seed), so the same budget keeps the same docs on any cluster or
    retry, and the whole draw is a window cumsum any engine reproduces.

    Scale: one shuffle on source_col + an in-partition ordered cumsum. A
    single source's docs order within one task chain (same caveat as any
    per-group window); for a corpus dominated by ONE source, pre-split the
    source and divide its budget.
    """
    from pyspark.sql.window import Window

    h = hash_key(id_col, seed)
    b = F.lit(int(default_budget))
    for src, budget in sorted(budgets.items()):
        b = F.when(F.col(source_col) == src, F.lit(int(budget))).otherwise(b)
    w = (
        Window.partitionBy(source_col)
        .orderBy(h)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum(F.col(token_col)).over(w), F.lit(0))
    # keep while the PRIOR cumsum is below budget: the crossing doc stays
    return (
        df.withColumn("__prior", prior)
        .where(F.col("__prior") < b)
        .drop("__prior")
    )


def global_rank(df: DataFrame, order_cols: list, rank_col: str = "rank") -> DataFrame:
    """Contiguous 1-based GLOBAL rank over ``order_cols``, fully
    distributed: range-partition on the order, rank locally inside each
    partition, add broadcast per-partition offsets. The naive
    ``row_number() over (ORDER BY ...)`` funnels the whole dataset
    through ONE task; here the only non-parallel piece is a running sum
    over #shuffle-partitions count rows (metadata-sized). Same machinery
    the ungrouped quantile_buckets path uses.

    ``order_cols`` must be a TOTAL order (add an id tiebreak) or ranks
    within ties are partition-dependent.
    """
    from pyspark.sql.window import Window

    part = df.repartitionByRange(*order_cols).withColumn("__pid", F.spark_partition_id())
    local = F.row_number().over(Window.partitionBy("__pid").orderBy(*order_cols))
    part = part.withColumn("__local", local)
    sizes = part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    wp = Window.orderBy("__pid")
    sizes = sizes.select(
        "__pid",
        F.coalesce(
            F.sum("__n").over(wp.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ).alias("__off"),
    )
    joined = part.join(F.broadcast(sizes), "__pid")
    return joined.withColumn(
        rank_col, (F.col("__local") + F.col("__off")).cast("long")
    ).drop("__pid", "__local", "__off")


def global_ranks_desc(
    df: DataFrame,
    key_cols: list[str],
    tiebreak_col: str,
    rank_cols: list[str],
    n_rows: int,
) -> DataFrame:
    """MULTIPLE contiguous 1-based global ranks in ONE range pass: for each
    ``key_cols[i]``, the rank of every row under ``(key_i DESC,
    tiebreak ASC)`` — exactly what three chained :func:`global_rank` calls
    compute, at a third of the passes (r10 opt round, guide §2.2/§2.4:
    every ``repartitionByRange`` fires its own range-boundary SAMPLING job
    over the input, so k chained rank passes cost k sampling jobs + k
    range exchanges; rfm_segments measured 3 of each).

    Shape: explode each row into one arm per key — ``(arm, k_0..k_{n-1},
    tiebreak)`` where only slot ``arm`` is non-null — and range-partition
    ONCE on ``(arm ASC, k_0 DESC, …, k_{n-1} DESC, tiebreak ASC)``. Within
    arm ``i`` every other slot is constant NULL, so the composite order
    restricted to the arm IS ``(key_i DESC, tiebreak ASC)``, and arms are
    contiguous blocks of exactly ``n_rows`` rows; the single
    :func:`global_rank` over the exploded frame minus ``i * n_rows``
    recovers each per-key rank. A final hash aggregation on the tiebreak
    folds the arms back to one row per input row.

    Returns ``(tiebreak_col, *rank_cols)`` ONLY — callers needing other
    columns join back (rfm doesn't). ``tiebreak_col`` must be unique and
    non-null (it totalizes the order, same contract as global_rank);
    ``n_rows`` must be ``df``'s exact row count.
    """
    n_k = len(key_cols)
    types = dict(df.dtypes)

    def slot(arm: int, j: int):
        col = (
            F.col(key_cols[j])
            if arm == j
            else F.lit(None).cast(types[key_cols[j]])
        )
        return col.alias(f"__k{j}")

    arms = F.array(
        *[
            F.struct(F.lit(i).cast("int").alias("__arm"), *[slot(i, j) for j in range(n_k)])
            for i in range(n_k)
        ]
    )
    ex = df.select(F.col(tiebreak_col).alias("__tb"), F.explode(arms).alias("__s")).select(
        "__tb", "__s.*"
    )
    order = (
        [F.col("__arm").asc()]
        + [F.col(f"__k{j}").desc() for j in range(n_k)]
        + [F.col("__tb").asc()]
    )
    ranked = global_rank(ex, order, "__grk")
    return ranked.groupBy("__tb").agg(
        *[
            F.max(
                F.when(F.col("__arm") == i, F.col("__grk") - i * n_rows)
            ).alias(rank_cols[i])
            for i in range(n_k)
        ]
    ).withColumnRenamed("__tb", tiebreak_col)


def deterministic_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    idx_col: str = "train_idx",
) -> DataFrame:
    """Deterministic pseudo-random GLOBAL training order: every row gets a
    contiguous 0-based index in md5(id, seed) order — the global-shuffle
    step before writing training shards. A pure function of (id, seed):
    the same order on any cluster layout, partition count, or retry, and
    reproducible in any engine (oracle-checked), unlike
    ``orderBy(rand())`` which is neither deterministic nor resumable.

    Distributed via :func:`global_rank` (range shuffle + local ranks +
    broadcast offsets); change ``seed`` per epoch for fresh orders.
    """
    keyed = df.withColumn("__shufkey", hash_key(id_col, seed))
    ranked = global_rank(keyed, [F.col("__shufkey").asc(), F.col(id_col).asc()], idx_col)
    return ranked.withColumn(idx_col, F.col(idx_col) - 1).drop("__shufkey")


_HEXDIGITS = "0123456789abcdef"


def _uniform01(id_col, seed: int):
    """Deterministic uniform (0,1) from the first 15 md5 nibbles of
    (id, seed) — u = Σ nibble_i · 16^-i, the hex fraction. Built from
    md5 + instr + pow only, so ANY engine reproduces the identical
    double (the DuckDB oracle evaluates the same nibble sum in the same
    left-to-right order)."""
    h = hash_key(id_col, seed)
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(15)),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.instr(F.lit(_HEXDIGITS), F.substr(h, i, F.lit(1))) - 1).cast("double")
        * F.pow(F.lit(16.0), -i.cast("double")),
    )


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES, 2006): each row draws key u^(1/w) — equivalently
    ln(u)/w, used here for numeric stability — with u a deterministic
    uniform from md5(id, seed); the global top-k keys ARE a weighted
    sample without replacement. One pass, no shuffle of the corpus:
    Spark plans orderBy(...).limit(k) as TakeOrderedAndProject (per-
    partition k-row heaps). Deterministic and layout-independent like
    every draw in this module; rows with NULL or non-positive weight
    never qualify. Returns the sampled rows (original columns).
    """
    w = F.col(weight_col).cast("double")
    key = F.log(_uniform01(id_col, seed)) / w
    out = (
        df.withColumn("__aes", F.when(w > 0, key))
        .where(F.col("__aes").isNotNull())
        .orderBy(F.col("__aes").desc(), F.col(id_col).asc())
        .limit(k)
    )
    return out.drop("__aes")


def dsir_logweights(
    docs: DataFrame,
    target_if,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1024,
    out_col: str = "logw",
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169): score
    every raw doc by how target-like its hashed n-gram profile is, as a
    precursor to importance resampling (compose with
    :func:`weighted_sample_k` on ``exp(logw)`` or a Gumbel top-k).

    Features are unigram + adjacent-bigram INSTANCES hashed into ``k``
    buckets by md5-hex-prefix (cross-engine-replayable, the module's
    house hash); the bucket unigram models use add-one smoothing:

        log w(doc) = sum over doc's feature instances of
                     ln((ct[b]+1)/(Nt+k)) - ln((cr[b]+1)/(Nr+k))

    with ct/cr the target/raw bucket counts and Nt/Nr their totals.
    ``target_if`` is a boolean Column selecting the target slice OF the
    raw corpus (the paper's setting has target ⊆ feature space of raw;
    scoring the corpus the models were fit on keeps every bucket
    populated).

    Scale shape: ONE explode+shuffle builds the (doc, bucket) count
    table; both bucket models AND the per-doc scores cascade from it
    (bucket tables are ≤ k rows regardless of corpus size — the windowed
    totals run on k rows, and the score join broadcasts them). The
    vocabulary never collects; k is the only memory knob, exactly the
    paper's hashed-feature design point. Returns ``id_col``, ``n_feats``
    (0 for featureless docs) and ``out_col`` (4-decimal floor-form,
    NULL for featureless docs)."""
    from gohangout_spark.functions.text import tokens

    base = docs.select(
        F.col(id_col), target_if.alias("__tgt"), tokens(F.col(text_col)).alias("toks")
    )
    n = F.size("toks")
    bi = F.zip_with(
        F.slice("toks", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("toks", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    inst = base.select(
        id_col, "__tgt", F.explode(F.concat("toks", bi)).alias("feat")
    ).select(
        id_col,
        "__tgt",
        (F.conv(F.substring(F.md5("feat"), 1, 8), 16, 10).cast("long") % k).alias(
            "bucket"
        ),
    )
    # Null filter stated ONCE before the aggregation (r9 opt round; the
    # kneser_ney_score pattern). Data no-op: bucket is md5-of-non-null-token
    # mod k (never null) and a null doc id never matches the final join —
    # but without it, the scoring join pushes isnotnull(bucket)/isnotnull(id)
    # into ITS copy of the explode+agg subtree while the model branch has
    # no filter, the copies stop canonicalizing equal, and ReuseExchange
    # runs the corpus explode twice (measured: 3 explodes, 0 reuse).
    inst = inst.where(
        F.col("bucket").isNotNull() & F.col(id_col).isNotNull()
    )
    db = inst.groupBy(id_col, "__tgt", "bucket").agg(F.count("*").alias("cnt"))
    # Both bucket models from ONE aggregation of db (was: cr = groupBy sum,
    # ct = where(__tgt) groupBy sum + left join + coalesce — the pushed
    # `__tgt = true` made the ct branch's copy of the corpus subtree
    # distinct, so the whole explode+agg ran a third time for it).
    # sum(CASE WHEN __tgt THEN cnt ELSE 0 END) ≡ the old coalesce(ct, 0):
    # integer sums, a NULL __tgt lands in ELSE exactly as where() dropped it.
    models = db.groupBy("bucket").agg(
        F.sum("cnt").alias("cr"),
        F.sum(F.when(F.col("__tgt"), F.col("cnt")).otherwise(F.lit(0))).alias("ct"),
    )
    allb = Window.partitionBy()  # bucket tables are <= k rows by construction
    lr = models.select(
        "bucket",
        (
            F.log((F.col("ct") + 1.0) / (F.sum("ct").over(allb) + k))
            - F.log((F.col("cr") + 1.0) / (F.sum("cr").over(allb) + k))
        ).alias("logr"),
    )
    scored = (
        db.join(F.broadcast(lr), ["bucket"])
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("logr")).alias("__lw"),
        )
    )
    from gohangout_spark.functions.num import round_half_up

    return (
        base.select(id_col)
        .join(scored, [id_col], "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            round_half_up(F.col("__lw"), 4).alias(out_col),
        )
    )
