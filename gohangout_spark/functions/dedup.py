"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of doing this on Spark):
- exact: hash-groupBy — one shuffle on a 16-byte key, combiner-side partial
  aggregation; at 100 TB this is the cheapest possible full-corpus pass.
- MinHash: signatures are computed scan-side with built-in higher-order
  functions (xxhash64 over shingles — NO Python, NO explode of the shingle
  set); only the b band keys per doc are exploded for the LSH bucket join,
  so shuffle volume is O(docs × bands), not O(docs × shingles).
- candidate verification joins only within buckets (the whole point of LSH);
  the final exact-Jaccard check runs on the candidate pairs, a tiny fraction
  of the n² pair space.
- SimHash: 64-bit signature computed JVM-side in one pass (simhash_column);
  hamming-distance candidates via pigeonhole banding over the signature
  bits (simhash_neardup_candidates) — an equi-join on band values, never an
  all-pairs join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gohangout_spark.functions.num import round_half_up
from gohangout_spark.functions.text import tokens


# ------------------------------------------------------------------- exact

def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct content hash: the kept (min) id + duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per distinct content hash (deterministic winner —
    dropDuplicates keeps an arbitrary row, which breaks retry/replay)."""
    h = F.md5(F.col(text_col))
    w = df.withColumn("__h", h)
    winners = w.groupBy("__h").agg(F.min(id_col).alias("__keep"))
    return (
        w.join(winners, (w["__h"] == winners["__h"]) & (F.col(id_col) == F.col("__keep")))
        .drop("__h", "__keep")
    )


# ----------------------------------------------------------------- minhash

def zipped_shingles(toks, n: int):
    """n shifted equal-length slices of a token array, zipped — the shared
    scaffold for every shingle builder. The tokenizer expression is BOUND
    once per row via transform(array(toks), t -> …)[0] (the lambda variable
    is a materialized row value, so the n+1 slice/size references below read
    it for free): inlining ``toks`` directly would re-run the tokenizer per
    reference (interpreted HOF eval has no common-subexpression
    elimination — measured 1.38 s → 1.14 s on the sf0.1 shingle projection),
    and putting element_at(toks, i+k) inside a transform lambda would
    re-evaluate it per ELEMENT (O(tokens²) per row, ~8× slower at sf0.1).
    Short docs (< n tokens) degrade to one partial shingle via the
    greatest(…, 1) length floor."""

    def _zip(t):
        length = F.greatest(F.size(t) - (n - 1), F.lit(1))
        shifted = [F.slice(t, F.lit(k + 1), length).alias(f"t{k}") for k in range(n)]
        return F.arrays_zip(*shifted)

    return F.transform(F.array(toks), _zip)[0]


def word_shingles(text_col, n: int = 3):
    """String n-token shingles."""
    zipped = zipped_shingles(tokens(text_col), n)
    return F.array_distinct(
        F.transform(
            zipped,
            lambda s: F.concat_ws(" ", *[s.getField(f"t{k}") for k in range(n)]),
        )
    )


def shingle_hashes(text_col, n: int = 3):
    """array<bigint>: xxhash64 of each n-token shingle (see zipped_shingles
    for the performance rationale)."""
    zipped = zipped_shingles(tokens(text_col), n)
    return F.array_distinct(
        F.transform(
            zipped, lambda s: F.xxhash64(*[s.getField(f"t{k}") for k in range(n)])
        )
    )


_LONG_MAX = (1 << 63) - 1


def minhash_signature(shingles_col, num_hashes: int = 32):
    """array<bigint> of length num_hashes, computed in ONE pass over the
    shingle array: aggregate(shingles, [MAX]*K, elementwise-min of
    xxhash64(shingle, j)). The naive per-hash formulation
    (K × array_min(transform(...))) re-evaluates the shingle array K times —
    O(S·K) string work per row — and was ~100× slower at sf0.1."""
    init = F.array_repeat(F.lit(_LONG_MAX).cast("long"), num_hashes)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        shingles_col,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(seeds, lambda j: F.xxhash64(s, j)),
            lambda a, b: F.least(a, b),
        ),
    )


def band_keys_expr(sig_col, num_hashes: int, bands: int):
    """array<struct<band:int, bkey:long>> — each band's key is the xxhash64
    of its signature slice. The shared banding for one-shot candidates
    (minhash_lsh_candidates) and the persistent index (minhash_index): both
    must derive identical keys or incremental dedup silently misses pairs."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at(sig_col, b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ]
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    materialize: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) sharing ≥1 LSH band,
    with exact shingle-Jaccard attached for thresholding.

    Scale shape: the band self-join shuffles only (doc_id, band, bkey) —
    16 bytes × bands per doc, NOT the shingle arrays; shingles are
    re-attached to the (tiny) candidate pair set afterwards.

    Compute-once without caching: the shingle projection sits BELOW a
    round-robin-by-id repartition, so the three consumers of `base`
    (signatures, sh_a, sh_b) canonicalize to the same exchange subtree and
    Catalyst's ReuseExchange rule reads ONE shuffle — shingles are hashed
    once per doc with no persist, no checkpoint, and fully replayable
    lineage (an executor loss recomputes from the parquet scan).

    materialize=True restores the eager path: persist the corpus-sized
    intermediates, localCheckpoint the (tiny) candidate set, release the
    caches before returning. Use it when the result is consumed by MANY
    separate actions. Caveats (documented, deliberate): it triggers a full
    Spark job at call time, and localCheckpoint pins the result to
    non-replicated executor-local storage — lineage is NOT replayable on
    executor loss (VERDICT/ADVICE r2)."""
    rows_per_band = num_hashes // bands
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # spread the CPU-heavy shingle work across all cores when the source is
    # a few small files (one input split = one task otherwise); at scale the
    # input has >= parallelism splits and this branch is a no-op. inputFiles
    # is a metadata call (~ms); .rdd.getNumPartitions() would force a full
    # plan->RDD translation (~0.8 s of driver time per call).
    try:
        few_splits = len(df.inputFiles()) < parallelism
    except Exception:  # non-file source — cheap to over-spread
        few_splits = True
    if few_splits:
        df = df.repartition(parallelism)
    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            shingle_hashes(F.col(text_col), shingle_n).alias("shingles"),
        )
        # empty/whitespace-only docs would all share the init signature and
        # explode into one O(m²) hot bucket — they cannot be meaningful
        # near-dups, so drop them before bucketing
        .filter(F.size("shingles") > 0)
        .repartition(parallelism, F.col("doc_id"))
    )
    if materialize:
        base = base.persist()
    sigs = base.select(
        "doc_id", minhash_signature(F.col("shingles"), num_hashes).alias("sig")
    )
    if materialize:
        sigs = sigs.persist()
    band_keys = band_keys_expr("sig", num_hashes, bands)
    buckets = sigs.select("doc_id", F.explode(band_keys).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = base.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    withsh = pairs.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = withsh.select("id_a", "id_b", round_half_up(inter / union, 4).alias("jaccard"))
    if materialize:
        # candidate pairs are tiny relative to the corpus: materialize them
        # eagerly so the two corpus-sized persisted frames can be released
        # before returning — the caller opted into the eager job +
        # non-replayable-lineage tradeoff (see docstring)
        out = out.localCheckpoint(eager=True)
        base.unpersist()
        sigs.unpersist()
    return out


# ------------------------------------------------------------ ngram jaccard

def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, other: DataFrame | None = None, n: int = 3
) -> DataFrame:
    """Exact n-gram Jaccard for ALL pairs (blocked externally — caller
    restricts the pair space, e.g. same-source or adjacent ids)."""
    sh = word_shingles(F.col(text_col), n)
    left = df.select(F.col(id_col).alias("id_a"), sh.alias("sh_a"))
    right = (other if other is not None else df).select(
        F.col(id_col).alias("id_b"), sh.alias("sh_b")
    )
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return pairs.select("id_a", "id_b", round_half_up(inter / union, 4).alias("jaccard"))


# ----------------------------------------------------------------- simhash

_BIT_POWERS = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def md5_hash64(t):
    """Deterministic signed-64 token hash from the first 16 md5 hex chars,
    assembled as two 32-bit halves (a direct 16-hex-digit conv→long cast
    would ANSI-overflow for values ≥ 2^63; shiftleft wraps bitwise instead).
    Slower than xxhash64 — its purpose is CROSS-ENGINE REPLAYABILITY: the
    DuckDB oracle computes the identical value as
    ('0x' || substring(md5(w),1,16))::UBIGINT, which lets an entire
    SimHash pipeline be hash-verified end-to-end (see the
    simhash_md5_neardup workload query)."""
    hx = F.md5(t)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_column(text_col, tok_hash=None):
    """Deterministic JVM-side SimHash-64 in ONE pass over the token array:
    aggregate an array of 64 bit-vote counters (bit_get of the token hash),
    then pack votes>0 into a signed long. No Python, no per-bit
    re-evaluation of the token array (the naive 64×aggregate formulation
    re-tokenizes per bit). ``tok_hash`` (Column → long Column) defaults to
    xxhash64 — the fast production hash; pass :func:`md5_hash64` when the
    signature must be replayable outside Spark."""
    if tok_hash is None:
        # wrap: F.transform rejects *cols-variadic callables as lambdas
        def tok_hash(t):
            return F.xxhash64(t)
    # hash each token ONCE (the aggregate input), then read its bits —
    # hashing inside the per-bit lambda would recompute 64× per token
    tok_hashes = F.transform(F.array_distinct(tokens(text_col)), tok_hash)
    bits = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(bits, lambda b: F.bit_get(h, b)),
            lambda a, v: a + F.when(v == 1, 1).otherwise(-1),
        ),
    )
    powers = F.array(*[F.lit(p).cast("long") for p in _BIT_POWERS])
    return F.aggregate(
        F.zip_with(
            votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_band_keys(sig_col, n_bands: int):
    """array<struct<band:int, bval:bigint>> — the signature split into
    n_bands contiguous bit ranges (pigeonhole: two sigs within hamming
    distance d < n_bands must agree on at least one whole band)."""
    width = 64 // n_bands
    parts = []
    for i in range(n_bands):
        start = i * width
        w = width if i < n_bands - 1 else 64 - start
        mask = (1 << w) - 1
        parts.append(
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(sig_col, start)
                .bitwiseAND(F.lit(mask))
                .alias("bval"),
            )
        )
    return F.array(*parts)


def simhash_neardup_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    hamming_threshold: int = 2,
    n_bands: int | None = None,
    tok_hash=None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, hamming ≤ threshold) over 64-bit
    SimHash signatures WITHOUT the all-pairs join. ``tok_hash`` plugs the
    per-token hash (default xxhash64; see :func:`md5_hash64`).

    Scale shape (the same pigeonhole-banding pattern as
    minhash_lsh_candidates): split the signature into hamming_threshold+1
    bands — any pair within the threshold must match exactly on ≥1 band —
    self-join on (band, band_value) EQUALITY (a shuffled equi-join, never a
    cartesian/theta join), then run the exact bit_count(xor) check on the
    candidate set only. Shuffle volume is O(docs × bands) 16-byte rows; the
    8-byte signature rides along so no re-join is needed for verification.

    Reference behavior analogue: gohangout has no simhash; this is the
    LLM-pipeline extension (SURVEY §7 phase 5) built scale-first.
    """
    if n_bands is None:
        n_bands = hamming_threshold + 1
    if not 2 <= n_bands <= 64:
        raise ValueError("n_bands must be in [2, 64]")
    if n_bands < hamming_threshold + 1:
        # pigeonhole needs threshold+1 bands: at distance d, d flips can
        # touch d distinct bands, so only d+1 bands guarantee one agrees.
        # Fewer bands would silently DROP true near-duplicates.
        raise ValueError(
            f"n_bands={n_bands} cannot guarantee recall at "
            f"hamming_threshold={hamming_threshold}; need >= threshold+1"
        )
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    sigs = (
        df.repartition(parallelism, F.col(id_col))
        # token-less docs all hash to sig=0 → one O(m²) hot bucket of
        # meaningless matches; drop them before bucketing (same guard as
        # minhash_lsh_candidates)
        .filter(F.size(F.array_distinct(tokens(F.col(text_col)))) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            simhash_column(F.col(text_col), tok_hash).alias("sig"),
        )
        .persist()
    )
    buckets = sigs.select(
        "doc_id", "sig", F.explode(simhash_band_keys(F.col("sig"), n_bands)).alias("bk")
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"))
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    result = pairs.select("id_a", "id_b", ham.alias("hamming")).where(
        F.col("hamming") <= hamming_threshold
    )
    # materialize the (small) pair set eagerly so the corpus-sized signature
    # cache can be released NOW instead of leaking for the session lifetime
    # (same pattern as cluster_duplicates' per-iteration localCheckpoint)
    try:
        return result.localCheckpoint()
    finally:
        sigs.unpersist()


def cluster_duplicates(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS via iterative
    min-label propagation (the connected-components step between candidate
    pairs and "keep one doc per group").

    Input: (id_a, id_b) edges. Output: (doc_id, cluster_id) where cluster_id
    is the minimum doc id reachable through the pair graph.

    Scale shape: each iteration is (a) a min-label exchange with the
    neighbors (one join + one aggregation on node → current_label) and
    (b) a POINTER JUMP — every node re-reads its label's label
    (label(x) ← label(label(x))), which halves chain depth per iteration,
    so convergence is O(log diameter) even for long duplicate chains (the
    large-star/small-star trick). Each iteration localCheckpoints the label
    frame: the logical plan stays flat instead of growing per iteration
    (an unbounded iterative lineage OOMs the planner long before the data
    is big). ``max_iter`` bounds pathological graphs; non-convergence
    raises a RuntimeWarning.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iter):
        # (a) each node adopts the min label among itself and its neighbors
        neighbor_labels = (
            edges.join(labels, edges["dst"] == labels["node"])
            .select(edges["src"].alias("node"), "label")
        )
        l1 = (
            labels.select("node", "label")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # (b) pointer jump: follow the label's own label one more hop
        lk = l1.select(F.col("node").alias("pnode"), F.col("label").alias("plabel"))
        new_labels = (
            l1.join(lk, l1["label"] == lk["pnode"], "left")
            .select(
                l1["node"],
                F.coalesce(lk["plabel"], l1["label"]).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        import warnings

        # propagation is one hop per iteration (O(diameter)); a chain longer
        # than max_iter would otherwise silently resolve into split clusters
        warnings.warn(
            f"cluster_duplicates did not converge within max_iter={max_iter} "
            "iterations; duplicate chains longer than max_iter are split into "
            "separate clusters. Raise max_iter for deep chain graphs.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_keep_cluster_representative(
    df: DataFrame, pairs: DataFrame, id_col: str, max_iter: int = 10
) -> DataFrame:
    """Drop every doc that belongs to a duplicate cluster but is not its
    minimum-id representative."""
    clusters = cluster_duplicates(pairs, max_iter)
    losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("__loser")
    )
    return df.join(
        losers, df[id_col] == F.col("__loser"), "left_anti"
    )


def with_cluster_labels(
    df: DataFrame, pairs: DataFrame, id_col: str, max_iter: int = 10
) -> DataFrame:
    """Attach a ``cluster_id`` column: the connected-component label from
    the near-dup pair graph for clustered docs, the doc's own id for
    singletons (every doc belongs to exactly one cluster).

    Scale shape: the label frame covers ONLY pair-graph nodes (the
    duplicates — typically a few percent of a crawl corpus), so the
    attach is one equi-join of the corpus against a small frame; AQE
    broadcasts it when it fits. Singletons never shuffle for labeling —
    their cluster_id is computed scan-side by the coalesce."""
    labels = cluster_duplicates(pairs, max_iter).select(
        F.col("doc_id").alias("__node"), F.col("cluster_id").alias("__cl")
    )
    return (
        df.join(labels, df[id_col] == F.col("__node"), "left")
        .withColumn("cluster_id", F.coalesce(F.col("__cl"), F.col(id_col)))
        .drop("__node", "__cl")
    )


def cluster_aware_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    splits: tuple = (("train", 0.8), ("val", 0.1), ("test", 0.1)),
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Leakage-free train/val/test assignment: the near-dup CLUSTER is the
    split unit, so no two near-duplicates ever straddle a holdout
    boundary (doc-level random splits leak eval answers into training
    whenever the corpus has near-dups — which at crawl scale it always
    does). Adds ``cluster_id`` and ``split`` columns.

    Every cluster draws one deterministic uniform from the md5
    nibble-fraction of (cluster_id, seed) — the same cross-engine-
    replayable draw as sampling._uniform01, so oracles can verify the
    assignment — and lands in the first split whose cumulative fraction
    exceeds it. Members inherit the cluster's draw by construction.

    Scale shape: one small-frame equi-join to attach labels
    (with_cluster_labels), then a pure scan-side projection (md5 +
    when-chain in whole-stage codegen) — no extra shuffle, no UDF, and
    the assignment is independent of partition layout or cluster size.
    """
    import math

    from .sampling import _uniform01

    fracs = [f for _, f in splits]
    if any(f <= 0 for f in fracs):
        raise ValueError(f"split fractions must be positive, got {fracs}")
    if abs(math.fsum(fracs) - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {math.fsum(fracs)}")
    # cluster_id keeps id_col's type; _uniform01 stringifies it, so string
    # ids work and numeric ids hash identically to their SQL ::VARCHAR
    # rendering (no cast here — a long cast would crash string-id corpora
    # under ANSI mode)
    labeled = with_cluster_labels(df, pairs, id_col, max_iter)
    u = _uniform01("cluster_id", seed)
    # when-chain in declaration order: first split whose cumulative upper
    # bound exceeds u wins; the last split is the otherwise-arm. fsum
    # gives the correctly-rounded cumulative (0.8 + 0.1 -> the double
    # 0.9 exactly), so the engine boundary is byte-identical to an
    # oracle's plain literal
    chain = None
    for i, (name, _) in enumerate(splits[:-1]):
        cond = u < F.lit(math.fsum(fracs[: i + 1]))
        chain = F.when(cond, F.lit(name)) if chain is None else chain.when(cond, F.lit(name))
    expr = F.lit(splits[-1][0]) if chain is None else chain.otherwise(F.lit(splits[-1][0]))
    return labeled.withColumn("split", expr)


def keep_best_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    max_iter: int = 10,
) -> DataFrame:
    """Quality-aware near-dup resolution: keep the HIGHEST-``score_col``
    doc of each duplicate cluster (ties break to the smallest id) instead
    of the arbitrary minimum-id member — in a training corpus the cluster
    representative should be the best-quality copy, not the first-crawled
    one. Returns the surviving rows with their ``cluster_id``.

    Scale shape: the corpus splits on membership in the (small) label
    frame — non-members pass through with NO window and their own id as
    cluster_id; only the clustered minority (the label frame bounds it)
    pays the per-cluster window shuffle. Both branches are one scan each
    and union by name, so the whole corpus is never shuffled on
    cluster_id."""
    labels = cluster_duplicates(pairs, max_iter).select(
        F.col("doc_id").alias("__node"), F.col("cluster_id").alias("__cl")
    )
    from pyspark.sql.window import Window

    clustered = (
        df.join(labels, df[id_col] == F.col("__node"), "inner")
        .withColumn("cluster_id", F.col("__cl"))
        .drop("__node", "__cl")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    winners = (
        clustered.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )
    singletons = df.join(
        labels, df[id_col] == F.col("__node"), "left_anti"
    ).withColumn("cluster_id", F.col(id_col))
    return winners.unionByName(singletons)


# -------------------------------------------------- content-defined chunks

def chunk_dedup_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_hex: str = "08",
    min_shared_docs: int = 2,
) -> DataFrame:
    """Sub-document duplication via content-defined chunking: split each doc
    into variable-size chunks whose boundaries depend only on CONTENT (a
    word starts a new chunk when md5(word) begins with a char from
    ``boundary_hex`` — expected chunk length 16/len(boundary_hex) words),
    hash each chunk, and count how many of a doc's chunks also occur in
    ≥ ``min_shared_docs`` distinct docs. Catches partial duplication
    (shared boilerplate, quoted passages, concatenated dumps) that doc-level
    fingerprints miss entirely; content-defined boundaries survive
    insertions/deletions that would shift fixed-size windows.

    Returns (id_col, n_chunks, n_shared, dup_chunk_ratio) — one row for
    EVERY input doc: empty/NULL-text docs (which produce no chunks and
    would vanish through the explode) come back with n_chunks=0,
    n_shared=0 and a NULL ratio, matching the repetition_stats convention
    (ADVICE r2 — an inner join on these stats must not lose docs).

    Scale shape: chunk assembly is one shuffle on (doc, chunk) with
    string_agg-style reduction; the cross-corpus share count is one more
    shuffle keyed on the 16-byte chunk hash with combiner-side partials —
    both O(chunks), never O(pairs). All hashing is md5 (engine-portable:
    the DuckDB oracle reproduces every boundary bit-for-bit).
    """
    from pyspark.sql.window import Window

    words = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
        ).alias("pos", "word"),
    )
    boundary = F.substring(F.md5(F.col("word")), 1, 1).isin(*list(boundary_hex))
    w = (
        Window.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = words.withColumn("chunk", F.sum(boundary.cast("int")).over(w))
    chunks = (
        chunked.groupBy("__id", "chunk")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s.getField("word"),
                ),
            ).alias("chunk_text")
        )
        .select("__id", F.md5(F.col("chunk_text")).alias("chash"))
    )
    share = chunks.groupBy("chash").agg(
        F.count_distinct(F.col("__id")).alias("n_docs")
    )
    per_doc = (
        chunks.join(share, "chash")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_docs") >= min_shared_docs).cast("int")).alias("n_shared"),
        )
    )
    stats = per_doc.select(
        F.col("__id").alias(id_col),
        "n_chunks",
        "n_shared",
        round_half_up(F.col("n_shared") / F.col("n_chunks"), 4).alias("dup_chunk_ratio"),
    )
    # restore docs the explode dropped (empty/NULL text -> zero chunks)
    return (
        docs.select(F.col(id_col))
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            "dup_chunk_ratio",
        )
    )


# ------------------------------------------------------------- paragraphs

def paragraph_dedup_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared_docs: int = 2,
) -> DataFrame:
    """Paragraph-granularity duplication: split each doc on newlines,
    trim each paragraph and drop blanks, hash (md5), and count how many of
    a doc's paragraphs also occur in ≥ ``min_shared_docs`` DISTINCT docs.
    The natural granularity for web/book corpora where boilerplate repeats
    as whole paragraphs (headers, licenses, navigation) inside otherwise
    unique documents — coarser than :func:`chunk_dedup_stats`' content-
    defined chunks, aligned to author-visible structure.

    Returns (id_col, n_paras, n_shared, dup_para_ratio) with one row for
    EVERY input doc; docs with no non-blank paragraph get zero counts and a
    NULL ratio (same convention as chunk/repetition stats).

    Scale shape (r9 opt round — ONE explode pass): explode → one shuffle
    on the 16-byte para hash; the (phash, doc) pre-aggregation and the
    distinct-doc share count both ride that single exchange (groupBy over
    a superset of the partitioning key needs no re-shuffle, and the share
    count is a window count over the pre-aggregated pairs — one row per
    distinct doc by construction, so count(*) ≡ the old count_distinct);
    then one per-doc rollup. The previous share-agg + join shape computed
    the split+trim+md5 explode TWICE and sorted both paragraph-sized join
    sides (SortMergeJoin observed at sf0.1). md5 keys stay
    engine-portable so any SQL engine reproduces the stats bit-for-bit.
    """
    from pyspark.sql.window import Window

    paras = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.filter(
                F.transform(F.split(F.col(text_col), r"\n"), lambda p: F.trim(p)),
                lambda p: p != "",
            )
        ).alias("para"),
    ).select("__id", F.md5(F.col("para")).alias("phash"))
    pp = (
        paras.repartition("phash")
        .groupBy("phash", "__id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wb = Window.partitionBy("phash")
    per_doc = (
        pp.withColumn("n_docs", F.count(F.lit(1)).over(wb))
        .groupBy("__id")
        .agg(
            F.sum("cnt").alias("n_paras"),
            F.sum(
                F.when(F.col("n_docs") >= min_shared_docs, F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_shared"),
        )
    )
    stats = per_doc.select(
        F.col("__id").alias(id_col),
        "n_paras",
        "n_shared",
        round_half_up(F.col("n_shared") / F.col("n_paras"), 4).alias("dup_para_ratio"),
    )
    return (
        docs.select(F.col(id_col))
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            "dup_para_ratio",
        )
    )


def dedup_paragraphs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "first",
) -> DataFrame:
    """Rewrite each doc keeping only the corpus-FIRST occurrence of every
    paragraph (the C4/RefinedWeb line-dedup move, at paragraph granularity):
    a paragraph is kept iff (doc_id, position) is the minimum occurrence of
    its hash corpus-wide (``keep='first'``; the only policy — it is the one
    that is deterministic under retry). Blank paragraphs are dropped.

    Returns (id_col, text_col) with the filtered text (possibly empty).

    Scale: explode → one shuffle on the 16-byte para hash to pick winners
    (min struct, combiner-side) → winners join back (paragraph-sized keys)
    → per-doc ordered re-assembly via array_sort of collected (pos, para)
    structs. No windows over the full corpus, no pair joins.
    """
    if keep != "first":
        raise ValueError(f"unsupported keep policy: {keep!r}")
    paras = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.filter(
                F.transform(F.split(F.col(text_col), r"\n"), lambda p: F.trim(p)),
                lambda p: p != "",
            )
        ).alias("pos", "para"),
    ).withColumn("phash", F.md5(F.col("para")))
    winners = paras.groupBy("phash").agg(
        F.min(F.struct("__id", "pos")).alias("w")
    )
    kept = paras.join(winners, "phash").where(
        (F.col("__id") == F.col("w.__id")) & (F.col("pos") == F.col("w.pos"))
    )
    rebuilt = kept.groupBy("__id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s.getField("para"),
            ),
        ).alias(text_col)
    )
    return (
        docs.select(F.col(id_col))
        .join(rebuilt.withColumnRenamed("__id", id_col), id_col, "left")
        .select(id_col, F.coalesce(text_col, F.lit("")).alias(text_col))
    )


# --------------------------------------------------- incremental minhash

def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """The persistent dedup index for an append-only corpus: one row per
    non-empty doc — (doc_id, sig array<bigint>, bands array<struct<band,
    bkey>>). Write this to parquet once per ingested batch; incremental
    dedup of the NEXT batch then never touches historical text again
    (minhash_lsh_candidates_incremental). Index size: num_hashes longs +
    bands (int, long) structs per doc — ~300 bytes/doc at the defaults,
    ~3 TB of index per TRILLION docs vs re-shingling 100 TB of text."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        shingle_hashes(F.col(text_col), shingle_n).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    sigs = base.select(
        "doc_id", minhash_signature(F.col("shingles"), num_hashes).alias("sig")
    )
    return sigs.select(
        "doc_id", "sig", band_keys_expr("sig", num_hashes, bands).alias("bands")
    )


def estimated_jaccard(sig_a, sig_b):
    """MinHash estimator: fraction of agreeing signature components — the
    standard unbiased estimate of shingle-Jaccard, computable from the
    index alone (no text access)."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree.cast("double") / F.size(sig_a).cast("double")


def minhash_lsh_candidates_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental near-dup candidates for an append-only corpus: compare a
    NEW batch against the historical :func:`minhash_index` (new-vs-old) and
    against itself (new-vs-new) in one pass, without re-reading any
    historical text.

    Returns (id_a, id_b, est_jaccard, vs_history) where id_b is the new
    doc, id_a is the matched doc (historical when ``vs_history``), and
    est_jaccard is the signature-agreement estimate (exact Jaccard needs
    the texts; for new-vs-old the text is deliberately not required —
    threshold on the estimate, whose stderr is ~1/sqrt(num_hashes)).

    Scale shape: the new batch (small) computes signatures once; both join
    legs are band-key equi-joins shipping (doc_id, band, bkey); the index
    side can be partition-pruned by band. Historical-vs-historical pairs
    are never re-examined — the property that makes continuous ingest
    dedup O(batch), not O(corpus), per batch.

    Caller contract: ``new_docs`` ids must be disjoint from and SORT AFTER
    index ids (monotonic ingest ids) so pair orientation (old, new) is
    stable; overlapping ids raise at the union-dedup step in tests.
    """
    new_idx = minhash_index(
        new_docs, text_col, id_col, num_hashes, bands, shingle_n
    )
    nb = new_idx.select(
        F.col("doc_id"), "sig", F.explode("bands").alias("bk")
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    ob = index.select(
        F.col("doc_id"), "sig", F.explode("bands").alias("bk")
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))

    def pairs(left, right, cond, vs_history):
        j = (
            left.alias("a")
            .join(right.alias("b"), ["band", "bkey"])
            .where(cond)
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        return j.select(
            "id_a",
            "id_b",
            round_half_up(estimated_jaccard(F.col("sig_a"), F.col("sig_b")), 4).alias(
                "est_jaccard"
            ),
            F.lit(vs_history).alias("vs_history"),
        )

    hist = pairs(ob, nb, F.lit(True), True)
    fresh = pairs(nb, nb, F.col("a.doc_id") < F.col("b.doc_id"), False)
    return hist.unionByName(fresh)


# ----------------------------------------------- exact-substring (dup spans)

def _windows_with_index(toks, w: int):
    """array<struct<widx:int, whash:bigint>> of the doc's w-token sliding
    windows, 1-based start positions. Docs shorter than w tokens get an
    EMPTY array (zipped_shingles' partial-shingle floor would hash a
    NULL-padded window — wrong for exact-substring semantics)."""
    def _body(t):
        hashed = F.transform(
            zipped_shingles(t, w),
            lambda s, i: F.struct(
                (i + 1).cast("int").alias("widx"),
                F.xxhash64(*[s.getField(f"t{k}") for k in range(w)]).alias("whash"),
            ),
        )
        empty = F.array().cast("array<struct<widx:int,whash:bigint>>")
        return F.when(F.size(t) >= w, hashed).otherwise(empty)

    # bind the tokenizer once per row: the size() guard and the zip read
    # one materialized array (see zipped_shingles)
    return F.transform(F.array(toks), _body)[0]


def dup_span_stats(
    docs: DataFrame,
    *,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication stats (Lee et al. 2021,
    arXiv:2107.06499, at w-token granularity): for each doc, the number of
    sliding w-token windows whose exact token sequence occurs ≥2 times in
    the whole corpus (across docs OR repeated within one).

    Shape (r9 opt round — ONE explode pass): windows explode to
    (id, whash) — O(tokens) rows of 16 bytes; the global occurrence count
    is a count() window over the whash hash-partitioning, and one per-doc
    aggregation derives BOTH n_windows (count of the doc's rows) and
    n_dup_windows (count of rows whose whash count ≥ 2). The previous
    groupBy(whash)+semi-join shape computed the tokenize+explode subtree
    TWICE (the agg branch and the join branch could never share an
    exchange: the agg's exchange carries map-side partials, the join
    broadcast needs none) and re-tokenized a third time for n_windows;
    n_windows now reaches 0-window docs as coalesce(…, 0) over a
    column-pruned id-only scan — identical by construction (a doc with
    ≥1 window has exactly greatest(len-w+1, 0) exploded rows). Returns
    doc_id + n_windows + n_dup_windows + dup_window_ratio (NULL when the
    doc has no windows — matching the chunk/repetition stats convention).

    ``id_col`` contract: ids must be non-NULL and unique (the corpus
    primary key, as everywhere in this module). A NULL id reports
    n_windows=0 (the join-back never matches it) and duplicate ids merge
    into one row with summed counts — both out of contract; the r8 shape
    handled them per-row instead, which is the one observable difference.
    """
    from pyspark.sql.window import Window

    toks = tokens(F.col(text_col))
    winds = docs.select(
        F.col(id_col), F.explode(_windows_with_index(toks, w)).alias("win")
    ).select(id_col, F.col("win.whash").alias("whash"))
    wb = Window.partitionBy("whash")
    stats = (
        winds.withColumn("__cnt", F.count(F.lit(1)).over(wb))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.when(F.col("__cnt") >= 2, F.lit(1))).alias("n_dup_windows"),
        )
    )
    base = docs.select(F.col(id_col))
    out = (
        base.join(stats, id_col, "left")
        .withColumn("n_windows", F.coalesce(F.col("n_windows"), F.lit(0)))
        .withColumn("n_dup_windows", F.coalesce(F.col("n_dup_windows"), F.lit(0)))
    )
    return out.withColumn(
        "dup_window_ratio",
        F.when(
            F.col("n_windows") > 0,
            round_half_up(F.col("n_dup_windows").cast("double") / F.col("n_windows"), 4),
        ),
    )


def remove_dup_spans(
    docs: DataFrame,
    *,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "text_clean",
) -> DataFrame:
    """Corpus-level exact-substring removal: drop every token covered by a
    w-token window that occurs ≥2 times corpus-wide (both copies are
    rewritten — the Lee et al. 2021 semantics, which deliberately removes
    ALL occurrences so no duplicated span survives training).

    Only WINDOWS ever explode (O(tokens) rows of 12 bytes); the rewrite
    itself is scan-side: duplicated start positions collect to one
    per-doc array (bounded by the doc's window count), join back on id,
    and a two-arg HOF filter keeps tokens no marked window covers. Docs
    with nothing duplicated pass through with text_clean = the
    token-normalized text (lowercased, single-spaced) — normalize before
    diffing. NULL/empty text yields ''.
    """
    joined = _dup_span_starts(docs, w=w, text_col=text_col, id_col=id_col)
    toks = tokens(F.col(text_col))
    starts = F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(starts, lambda s: ((i + 1) >= s) & ((i + 1) <= s + (w - 1))),
    )
    return joined.withColumn(out_col, F.concat_ws(" ", kept)).drop("__starts")


def _dup_span_starts(docs, *, w, text_col, id_col):
    """Shared plan prefix of the two rewrite variants: docs + ``__starts``
    (1-based start positions of this doc's corpus-duplicated w-token
    windows, NULL when none). Windows explode O(tokens) 12-byte rows;
    duplicate hashes reduce with map-side combine; positions collect to one
    bounded per-doc array and equi-join back on the id."""
    toks = tokens(F.col(text_col))
    winds = docs.select(
        F.col(id_col), F.explode(_windows_with_index(toks, w)).alias("win")
    ).select(id_col, F.col("win.widx").alias("widx"), F.col("win.whash").alias("whash"))
    dup = (
        winds.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .where(F.col("__cnt") >= 2)
        .select("whash")
    )
    marked = (
        winds.join(dup, "whash").groupBy(id_col).agg(F.collect_list("widx").alias("__starts"))
    )
    return docs.join(marked, id_col, "left")


def remove_dup_spans_pandas(
    docs: DataFrame,
    *,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "text_clean",
) -> DataFrame:
    """Arrow variant of :func:`remove_dup_spans` (VERDICT r3 #4) — same
    plan, same output, different rewrite kernel. The HOF path's nested
    ``filter(toks, … exists(starts, …))`` is an interpreted lambda per
    token × start: on a pathological doc where most windows are duplicated
    (|starts| ≈ |tokens|) that is quadratic per doc. Here the coverage set
    is computed per row with a numpy difference array — +1 at each start,
    −1 at each span end, prefix-sum > 0 marks covered tokens — O(tokens +
    starts) per doc, Arrow-batched. Same normalization contract: output is
    lowercased single-spaced surviving tokens; NULL/empty text yields ''.
    """
    import re as _re

    from pyspark.sql.functions import pandas_udf

    joined = _dup_span_starts(docs, w=w, text_col=text_col, id_col=id_col)

    @pandas_udf("string")
    def _rewrite(text: pd.Series, starts: pd.Series) -> pd.Series:
        out = []
        for t, st in zip(text, starts):
            toks = [x for x in _re.split(r"[^a-z0-9]+", (t or "").lower()) if x]
            if st is None or len(st) == 0:
                out.append(" ".join(toks))
                continue
            n = len(toks)
            delta = np.zeros(n + 1, dtype=np.int64)
            s0 = np.asarray(st, dtype=np.int64) - 1  # widx is 1-based
            np.add.at(delta, s0, 1)
            np.add.at(delta, np.minimum(s0 + w, n), -1)
            covered = np.cumsum(delta[:n]) > 0
            out.append(" ".join(tok for tok, c in zip(toks, covered) if not c))
        return pd.Series(out)

    return joined.withColumn(
        out_col, _rewrite(F.col(text_col), F.col("__starts"))
    ).drop("__starts")


def winnow_fingerprints(
    docs: DataFrame,
    *,
    k: int = 4,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
    MOSS algorithm): hash every k-token gram, slide a w-hash window, keep
    each window's MINIMUM hash; the distinct selected hashes are the doc's
    fingerprint set. Guarantees: any shared run of k+w-1 tokens between two
    docs shares at least one fingerprint, while only ~2/(w+1) of gram
    hashes are kept — position-robust partial-overlap detection at a
    fraction of full-shingle cost.

    Engine-portable hash: the 16-hex-char md5 prefix of the gram, compared
    AS A STRING (xxhash64 has no DuckDB twin; string min is identical in
    both engines). Ties inside a window keep the min VALUE (not the
    paper's rightmost-min robust variant — value-min selects a superset of
    positions, preserving the guarantee, and is expressible as a plain
    window MIN in any engine).

    Shape: positioned gram explode O(tokens) keyed by doc, one
    doc-partitioned window MIN (frame = current row + w−1 following), then
    distinct (doc, fingerprint) rows — combiner-reduced via the distinct's
    partial agg. Docs with fewer than k+w-1 tokens emit no rows.
    """
    from pyspark.sql.window import Window

    # bind the token array once per row (the zipped_shingles trick): the
    # slice lambda below otherwise re-runs the tokenizer per gram POSITION
    # (interpreted HOF eval has no subexpression elimination)
    def _grams(toks):
        hashed = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 16
                ).alias("h"),
            ),
        )
        # sequence(1, 0) counts DOWN (then slice(…, 0) throws) — guard short
        # docs to an empty gram array first, same as _word_ngrams
        return F.when(F.size(toks) >= k, hashed).otherwise(
            F.array().cast("array<struct<pos:int,h:string>>")
        )

    grams = F.transform(F.array(tokens(F.col(text_col))), _grams)[0]
    g = docs.select(
        F.col(id_col), F.explode(grams).alias("g")
    ).select(id_col, F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    n_grams = Window.partitionBy(id_col)
    sel = (
        g.withColumn("fp", F.min("h").over(win))
        .withColumn("__n", F.count(F.lit(1)).over(n_grams))
        .where(F.col("pos") <= F.col("__n") - (w - 1))  # full windows only
        .select(id_col, "fp")
        .distinct()
    )
    return sel


def winnow_neardup_pairs(
    docs: DataFrame,
    *,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate candidate pairs from shared winnowing fingerprints:
    (id_a < id_b, n_shared) for pairs sharing ≥ ``min_shared`` selected
    fingerprints — MOSS's matching step. Complements MinHash LSH: winnowing
    guarantees detection of any shared k+w-1-token RUN (local plagiarism /
    boilerplate), where MinHash banding is probabilistic on whole-document
    similarity.

    Shape: fingerprints are ~2/(w+1) of grams per doc; the pair space is an
    equi-join ON THE FINGERPRINT (never all-pairs), combiner-reduced to
    per-pair counts. A fingerprint shared by f docs contributes O(f²) pair
    rows — the classic hot-bucket hazard — so ubiquitous fingerprints
    (boilerplate shared by >max_df docs) should be dropped first at scale;
    here the corpus-wide df filter is exposed via ``min_shared`` on the
    output and the fingerprint join stays bucket-local.
    """
    fps = winnow_fingerprints(docs, k=k, w=w, text_col=text_col, id_col=id_col)
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# b-bit minwise hashing (Li & König 2010)
# --------------------------------------------------------------------------

def bbit_minwise_fingerprint(
    shingles_col, num_hashes: int = 31, b: int = 2, seam: str = "md5"
) -> "F.Column":
    """The b-bit minwise fingerprint (Li & König 2010, "b-bit minwise
    hashing"): a full minhash signature keeps 64 bits per slot; storing
    only the lowest ``b`` bits per slot compresses the signature
    ``64/b``× (31 slots × 2 bits = ONE long per document here — 62 bits,
    NOT 64: the top slot must stay clear of the sign bit so the packed
    value is non-negative in Spark AND survives DuckDB's checked BIGINT
    sum in the oracle replay) while
    Jaccard similarity stays estimable — for a matched fraction m of
    slots, E[m] = C + (1−C)·J with collision floor C = 2^−b, so
    Ĵ = (m − C)/(1 − C). At 100 TB that is the difference between
    shipping a 256-byte signature column and an 8-byte one through every
    shuffle and index.

    Hash seam (``seam``): ``"md5"`` (default) is the 48-bit md5-hex
    prefix of ``"<j>:<shingle>"`` — the house cross-engine seam the
    ``bbit_minwise_jaccard`` gate replays in DuckDB; ``"xxhash64"`` is
    the PRODUCTION seam (the minhash_signature hash): per-slot md5 cost
    dominates the 100× sweep (the same lesson the AMS sketch learned —
    one JVM xxhash per (shingle, slot) is an order of magnitude cheaper
    than an md5 digest), estimator math identical, replayability traded
    away. One pass over the shingle array (the minhash_signature
    aggregate shape), then the b-bit pack: Σ_j (sig_j mod 2^b) << (b·j)
    — pmod, so the xxhash seam's negative hashes pack correctly."""
    if num_hashes * b > 62:
        raise ValueError(
            f"{num_hashes} slots x {b} bits exceeds the sign-safe 62-bit pack"
        )
    init = F.array_repeat(F.lit(_LONG_MAX).cast("long"), num_hashes)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))

    def h48(j, s):
        return F.conv(
            F.substring(
                F.md5(F.concat_ws(":", j.cast("string"), s)), 1, 12
            ),
            16,
            10,
        ).cast("long")

    slot_hash = h48 if seam == "md5" else (lambda j, s: F.xxhash64(s, j))
    if seam not in ("md5", "xxhash64"):
        raise ValueError(f"unknown seam {seam!r}")

    sig = F.aggregate(
        shingles_col,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(seeds, lambda j: slot_hash(j, s)),
            lambda a, bb: F.least(a, bb),
        ),
    )
    mask = (1 << b) - 1
    # pack via zip_with so ``sig`` is referenced EXACTLY ONCE: the first
    # cut aggregated over a slot-index sequence with element_at(sig, j)
    # inside the lambda, and Catalyst re-evaluated the whole minhash
    # aggregate per slot — 31x the signature cost, caught by the 100x
    # sweep (34 s -> ~1 s at sf0.1). call_function: the shift amount is
    # a per-slot COLUMN; the python F.shiftleft wrapper only takes a
    # literal int. pmod, not %: the xxhash64 seam produces negatives.
    contrib = F.zip_with(
        sig,
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda v, j: F.call_function(
            "shiftleft", F.pmod(v, F.lit(mask + 1)), (j * b).cast("int")
        ),
    )
    return F.aggregate(contrib, F.lit(0).cast("long"), lambda acc, x: acc + x)


def bbit_matched_slots(fp_a, fp_b, num_hashes: int = 31, b: int = 2) -> "F.Column":
    """Count of EQUAL b-bit slots between two packed fingerprints, pure
    integer bit math (b=2: fold each slot's XOR into one bit with
    ``(x | x>>1) & 0b0101...``, popcount the differing slots)."""
    if b != 2:
        raise NotImplementedError("slot fold implemented for b=2")
    mask = ((1 << (2 * num_hashes)) - 1) // 3  # 01 repeated per slot
    x = fp_a.bitwiseXOR(fp_b)
    folded = (x.bitwiseOR(F.shiftright(x, 1))).bitwiseAND(F.lit(mask))
    return F.lit(num_hashes) - F.bit_count(folded)


def bbit_jaccard_estimate(
    matched, num_hashes: int = 31, b: int = 2
) -> "F.Column":
    """Ĵ = (m − C)/(1 − C) with m = matched/num_hashes, C = 2^−b —
    clamped at 0 (sampling noise can push the raw estimator below the
    collision floor on dissimilar pairs)."""
    c = 1.0 / (1 << b)
    m = matched.cast("double") / num_hashes
    return F.greatest((m - F.lit(c)) / F.lit(1.0 - c), F.lit(0.0))
