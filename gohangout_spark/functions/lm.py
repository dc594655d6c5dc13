"""Character-bigram language-model quality scoring (CCNet-style).

CCNet (arXiv:1911.00359) buckets crawl text by the perplexity of a small LM
trained on a trusted reference corpus — low-perplexity ≈ fluent, reference-
like text. The production system uses a KenLM 5-gram over tokens; this
module implements the same signal shape with a character-bigram model so
the WHOLE loop (train + score) runs in-engine with no model libraries:

- train: bigram transition counts over the reference corpus. The model is
  bounded by the alphabet (37 chars: a-z 0-9 space → 1369 cells) no matter
  how big the reference is, so the aggregated counts collect to the driver
  as a tiny table and broadcast to the scorer as a plan literal.
- score: per-doc mean negative log-likelihood of its char transitions,
  evaluated SCAN-SIDE with no join and no shuffle, two interchangeable
  implementations: ``perplexity`` (pure expression — the model as a
  1369-element array literal indexed inside built-in HOFs; zero Python)
  and ``perplexity_pandas`` (Arrow-batched numpy gather+reduceat;
  bitwise-identical output, ~6× faster because Spark evaluates HOF
  lambdas interpreted rather than codegen — the measured trade both
  paths' docstrings quantify).

Smoothing is add-one over the alphabet: p(c2|c1) = (cnt+1)/(tot_c1+V).
Integer counts + closed-form probabilities keep the scorer exactly
reproducible in any engine (the workload oracle recomputes the model in
DuckDB SQL and hash-matches).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gohangout_spark.functions.num import round_half_up

ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "
V = len(ALPHABET)  # 37

__all__ = [
    "normalize_chars",
    "fit_char_bigram_lm",
    "perplexity",
    "perplexity_pandas",
    "perplexity_buckets",
    "kneser_ney_score",
]


def normalize_chars(col: Column) -> Column:
    """Lowercase, map every non-alphabet char to space, collapse runs,
    trim — the shared normalization for train and score (they MUST match
    or the perplexity silently shifts)."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "), " +", " ")
    )


def _bigram_pairs(norm: Column) -> Column:
    """array<struct<c1,c2>> of the char transitions of a normalized string.

    Built from two shifted ROW-LEVEL slices of the char array zipped
    together (the zipped_shingles trick): referencing ``norm`` inside a
    ``transform(sequence(...), i -> substr(norm, i, 2))`` lambda makes
    Catalyst re-evaluate the whole regexp-normalization chain PER ELEMENT
    — O(chars²) regex work per row, measured ~20× slower at sf0.01."""
    chars = F.split(norm, "")
    length = F.greatest(F.size(chars) - 1, F.lit(1))
    zipped = F.arrays_zip(
        F.slice(chars, 1, length).alias("c1"), F.slice(chars, 2, length).alias("c2")
    )
    return F.when(F.size(chars) >= 2, zipped).otherwise(
        F.array().cast("array<struct<c1:string,c2:string>>")
    )


def fit_char_bigram_lm(ref_docs: DataFrame, *, text_col: str = "text") -> list[float]:
    """Train on the reference corpus; returns the V×V row-major table of
    log p(c2|c1) with add-one smoothing (index (i1-1)*V + (i2-1), 0-based).

    One scan: normalization stays JVM-side, then each partition bincounts
    its transitions into a 1369-cell vector inside mapInPandas (strings
    joined with a \\x00 sentinel → one LUT gather + one bincount per Arrow
    batch) and the driver sums the ≤numPartitions partials — O(partitions
    × 11 KB) driver traffic regardless of reference size. The original
    explode→groupBy formulation shipped one row per TRANSITION and
    measured ~5 s at sf0.1; this is the same aggregation with the partial
    state held as a dense vector instead of shuffled rows.
    """
    import math

    import numpy as np

    lut = np.full(256, -1, dtype=np.int16)
    for idx, ch in enumerate(ALPHABET):
        lut[ord(ch)] = idx
    v2 = V * V

    def _partials(batches):
        import pandas as pd

        counts = np.zeros(v2, dtype=np.int64)
        for pdf in batches:
            strs = [s for s in pdf["norm"] if s and len(s) >= 2]
            if not strs:
                continue
            joined = "\x00".join(strs)
            codes = lut[np.frombuffer(joined.encode("ascii"), dtype=np.uint8)]
            a, b = codes[:-1], codes[1:]
            mask = (a >= 0) & (b >= 0)  # sentinel kills cross-doc transitions
            counts += np.bincount(a[mask] * V + b[mask], minlength=v2)
        yield pd.DataFrame({"cnt": [counts.tobytes()]})

    norm_df = ref_docs.select(normalize_chars(F.col(text_col)).alias("norm"))
    rows = norm_df.mapInPandas(_partials, "cnt binary").collect()
    counts = np.zeros(v2, dtype=np.int64)
    for r in rows:
        counts += np.frombuffer(r["cnt"], dtype=np.int64)
    totals = counts.reshape(V, V).sum(axis=1)
    table = []
    for i1 in range(V):
        tot = int(totals[i1])
        for i2 in range(V):
            table.append(math.log((int(counts[i1 * V + i2]) + 1) / (tot + V)))
    return table


def kneser_ney_score(
    docs: DataFrame,
    *,
    text_col: str = "text",
    discount: float = 0.75,
    out_col: str = "ppl",
) -> DataFrame:
    """Interpolated Kneser-Ney word-BIGRAM perplexity (the KenLM/CCNet
    model family proper, next to the char-bigram signal above), trained
    and scored over the SAME corpus wholly in-plan:

        P(w|v) = (max(c(v,w) - D, 0) + D * N1+(v.) * N1+(.w)/T) / c(v)

    with c(v) = total bigram tokens with context v, N1+(v.) = distinct
    continuations of v, N1+(.w) = distinct contexts of w (the
    continuation-probability novelty count that distinguishes KN from
    absolute discounting), T = distinct bigram types (a broadcast 1-row
    aggregate in-plan), D = ``discount``.
    Scoring the training corpus means every (v,w) was seen, so the
    unseen-context backoff branch never fires — the whole formula stays
    join-expressible and the DuckDB oracle replays train+score exactly
    (kneser_ney_perplexity gate).

    Scale shape: tokenization + pair-explode is one corpus scan; the
    aggregation CASCADES through shrinking keyspaces — (doc,v,w) →
    (v,w) → v / w — all hash-partitioned equi-joins on vocabulary-sized
    tables (Catalyst's ReuseExchange dedupes the shared (doc,v,w)
    subtree). T (distinct bigram types) rides as a broadcast 1-row
    aggregate cross-joined into the scoring plan — the r9 optimization
    round replaced the previous eager ``bg.count()`` scalar, which ran a
    SEPARATE full corpus job (scan → explode → two aggs) before the main
    job even started, roughly doubling the measured wall. Zero driver
    traffic now; nothing collects the vocabulary; at 100 TB the model
    tables shuffle like any dimension table.

    Returns docs' ``doc_id`` plus ``n_bigrams`` (0 for <2-token docs)
    and ``out_col`` = exp(mean -ln P), 4-decimal floor-form rounding,
    NULL for docs with no bigrams."""
    from gohangout_spark.functions.text import tokens

    base = docs.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    n = F.size("toks")
    length = F.greatest(n - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice("toks", 1, length).alias("v"), F.slice("toks", 2, length).alias("w")
    )
    inst = base.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.v").alias("v"), F.col("p.w").alias("w")
    )
    # Explicit null filter BEFORE the aggregation (a no-op on the data: zip
    # slices of equal length never pad nulls, and every consumer inner-joins
    # on v/w so null keys could never survive). Why it matters (r9 opt
    # round): the scoring join pushes `isnotnull(v) AND isnotnull(w)` into
    # its doc_bg branch, the ctx build pushes only `isnotnull(v)`, the cont
    # build only `isnotnull(w)` — four SUBTLY DIFFERENT copies of the
    # corpus explode+agg subtree that no longer canonicalize equal, so
    # ReuseExchange matched nothing and the corpus pass executed 4×
    # (measured: 6 scans, 0 ReusedExchange in the executed plan). With the
    # filter stated once here, constraint propagation drops the pushed
    # copies as redundant, all branches share ONE subtree, and the (doc,v,w)
    # exchange is computed once + reused.
    inst = inst.where(
        F.col("v").isNotNull() & F.col("w").isNotNull() & F.col("doc_id").isNotNull()
    )
    doc_bg = inst.groupBy("doc_id", "v", "w").agg(F.count("*").alias("cnt"))
    bg = doc_bg.groupBy("v", "w").agg(F.sum("cnt").alias("c_vw"))
    ctx = bg.groupBy("v").agg(
        F.sum("c_vw").alias("c_v"), F.count("*").alias("n1_fwd")
    )
    # count(CASE WHEN c_vw IS NOT NULL ...) ≡ count(*) here (c_vw is a sum
    # over an always-present group — never NULL), but the reference to
    # c_vw stops column pruning from narrowing THIS branch's copy of the
    # bg subtree to (v,w)-only: with identical (v,w,c_vw) outputs, the
    # cont/T branches canonicalize equal to the ctx branch and reuse its
    # exchange instead of re-running the corpus explode a third time.
    _n_rows = F.count(F.when(F.col("c_vw").isNotNull(), F.lit(1)))
    cont = bg.groupBy("w").agg(_n_rows.alias("n1_back"))
    # T as a broadcast 1-row cross join (the oracle's own `tt` CTE shape):
    # count over bg, cast bigint → double exactly as the previous
    # float(bg.count()) literal did, so n1_back / T is the identical IEEE
    # division — but evaluated inside the ONE job instead of via a
    # separate eager count() job that recomputed scan→explode→doc_bg→bg
    t_df = bg.agg(_n_rows.cast("double").alias("__t_types"))
    d = F.lit(float(discount))
    # identical association order to the oracle SQL:
    #   (greatest(c_vw - D, 0) + D * n1_fwd * (n1_back / T)) / c_v
    p = (
        F.greatest(F.col("c_vw") - d, F.lit(0.0))
        + d * F.col("n1_fwd") * (F.col("n1_back") / F.col("__t_types"))
    ) / F.col("c_v")
    scored = (
        doc_bg.join(bg, ["v", "w"])
        .join(ctx, ["v"])
        .join(cont, ["w"])
        .crossJoin(F.broadcast(t_df))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * -F.log(p)).alias("nll"),
        )
    )
    return (
        base.select("doc_id")
        .join(scored, ["doc_id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            round_half_up(
                F.exp(F.col("nll") / F.col("n_bigrams")), 4
            ).alias(out_col),
        )
    )


def perplexity(
    docs: DataFrame,
    model: list[float],
    *,
    text_col: str = "text",
    out_col: str = "ppl",
) -> DataFrame:
    """Per-doc pseudo-perplexity exp(mean -ln p(c2|c1)) under ``model``,
    rounded to 4 decimals; NULL for docs with <2 normalized chars.
    Scan-side only — the model ships as a plan literal."""
    if len(model) != V * V:
        raise ValueError(f"model must have {V * V} entries, got {len(model)}")
    arr = F.array(*[F.lit(x) for x in model])
    alpha = F.lit(ALPHABET)
    norm = normalize_chars(F.col(text_col))
    pairs = _bigram_pairs(norm)

    def logp(p):
        i1 = F.instr(alpha, p.getField("c1"))
        i2 = F.instr(alpha, p.getField("c2"))
        return F.element_at(arr, ((i1 - 1) * V + i2).cast("int"))

    nll_sum = F.aggregate(
        pairs, F.lit(0.0), lambda acc, p: acc - logp(p)
    )
    n_pairs = F.size(pairs)
    ppl = F.when(n_pairs > 0, round_half_up(F.exp(nll_sum / n_pairs), 4))
    return docs.withColumn(out_col, ppl)


def perplexity_buckets(
    docs: DataFrame,
    model: list[float],
    *,
    text_col: str = "text",
    cutoffs: tuple[float, float] | None = None,
) -> DataFrame:
    """CCNet's head/middle/tail split: docs bucketed by perplexity
    tertiles. ``cutoffs`` (low, high) skips the quantile job when the
    thresholds are known; otherwise approxQuantile (distributed sketch,
    driver gets 2 doubles). NULL-ppl docs land in 'tail'."""
    scored = perplexity(docs, model, text_col=text_col)
    if cutoffs is None:
        qs = scored.approxQuantile("ppl", [1 / 3, 2 / 3], 1e-3)
        if len(qs) < 2:
            # every doc has NULL ppl (all texts <2 normalized chars):
            # approxQuantile returns [] — bucket everything as 'tail'
            return scored.withColumn("ppl_bucket", F.lit("tail"))
        lo, hi = qs
    else:
        lo, hi = cutoffs
    bucket = (
        F.when(F.col("ppl").isNull(), "tail")
        .when(F.col("ppl") <= lo, "head")
        .when(F.col("ppl") <= hi, "middle")
        .otherwise("tail")
    )
    return scored.withColumn("ppl_bucket", bucket)


def perplexity_pandas(
    docs: DataFrame,
    model: list[float],
    *,
    text_col: str = "text",
    out_col: str = "ppl",
) -> DataFrame:
    """Arrow-batched scorer, same contract as :func:`perplexity`.

    Why it exists: Spark evaluates higher-order-function lambdas
    INTERPRETED (per-element expression-tree walks, never whole-stage
    codegen), so the expr path pays ~µs per transition — measured 2.6 s
    for 5000 docs. This path normalizes JVM-side, then per Arrow batch
    joins the strings with a sentinel, gathers the 1369-entry log-prob
    table with one numpy indexing op, and segment-sums with add.reduceat
    — same sequential per-doc summation order as the expr path, so the
    two produce IDENTICAL doubles (equivalence-tested), and the oracle
    hash-match carries over. ~6× faster measured; the scale default.

    Pushdown hazard: filtering directly on ``out_col`` above a
    join-bearing lineage can make Catalyst push the Python-UDF predicate
    below the join into an interpreted evaluator, which cannot run Python
    ([INTERNAL_ERROR] Cannot evaluate expression: _ppl). Materialize
    first (``.cache()``/``localCheckpoint()``) or filter after an
    aggregation boundary; examples/curation_pipeline.py stage 7 shows the
    pattern.
    """
    if len(model) != V * V:
        raise ValueError(f"model must have {V * V} entries, got {len(model)}")

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    table = np.asarray(model, dtype=np.float64)
    lut = np.full(256, -1, dtype=np.int16)
    for idx, ch in enumerate(ALPHABET):
        lut[ord(ch)] = idx

    @pandas_udf("double")
    def _ppl(norm: pd.Series) -> pd.Series:
        n = len(norm)
        out = np.full(n, np.nan)
        strs = norm.fillna("").to_numpy()
        lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
        live = lens >= 2
        if live.any():
            joined = "\x00".join(strs[live])
            codes = lut[np.frombuffer(joined.encode("ascii"), dtype=np.uint8)]
            a, b = codes[:-1], codes[1:]
            mask = (a >= 0) & (b >= 0)
            nll = np.where(mask, -table[np.clip(a, 0, None) * V + np.clip(b, 0, None)], 0.0)
            # per-doc boundaries in the joined transition array
            ll = lens[live]
            starts = np.concatenate(([0], np.cumsum(ll + 1)[:-1]))  # +1 sentinel
            sums = np.add.reduceat(np.concatenate((nll, [0.0])), starts)
            out[live] = np.floor(np.exp(sums / (ll - 1)) * 1e4 + 0.5) / 1e4
        # NaN would survive Arrow as NaN, not NULL — match the expr path's
        # NULL-for-short-docs contract explicitly
        return pd.Series([None if not lv else float(v) for lv, v in zip(live, out)])

    norm = normalize_chars(F.col(text_col))
    return docs.withColumn(out_col, _ppl(norm))
