"""Time-series joins Spark lacks natively, built shuffle-bounded.

As-of join (the timeseries-DB staple: for each left row, the latest right
row at-or-before its timestamp, per key) and binned range join (point-in-
interval). Neither exists as a DataFrame primitive, and the naive
formulations are scale-killers:

- naive as-of: ``left JOIN right ON key AND r.ts <= l.ts`` then keep the
  max — a theta join whose intermediate is O(left × right-per-key).
- naive range: same theta shape.

Spark-first shapes used instead:

- ``asof_join``: UNION the two sides, one window over (key, ts) with
  ``last(payload, ignorenulls)`` propagating the most recent right payload
  onto each left row. Exactly ONE shuffle (by key), zero row explosion,
  whole-stage-codegen window — the plan a timeseries engine would emit.
- ``range_join``: explode each right interval into the coarse time buckets
  it covers, equi-join on (key, bucket), exact range post-filter. Shuffle
  is an equi-join; right-side duplication is bounded by
  ceil(interval/bucket)+1 (pick ``bucket_seconds`` ≈ typical interval).
  This is the standard binned range-join strategy.

Determinism contract: among right rows with identical (key, ts) the
propagated payload is tie-broken arbitrarily — deduplicate the right side
first if that matters (the workload queries do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _keys(on) -> list[str]:
    return [on] if isinstance(on, str) else list(on)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
    tolerance_seconds: int | None = None,
    how: str = "left",
    suffix: str = "_right",
) -> DataFrame:
    """For each left row: the single right row with the same key(s) and the
    nearest ``right_ts`` at-or-before (``backward``) / at-or-after
    (``forward``) ``left_ts``. Equal timestamps match (DuckDB ``ASOF``
    ``>=`` semantics). Null keys never match (SQL join semantics).

    Right non-key columns land on the output, renamed with ``suffix`` when
    they collide with a left column. ``tolerance_seconds`` voids matches
    further than the tolerance; ``how="inner"`` drops unmatched left rows.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"asof_join: direction must be backward/forward, got {direction!r}")
    if how not in ("left", "inner"):
        raise ValueError(f"asof_join: how must be left/inner, got {how!r}")
    keys = _keys(on)
    rcols = [c for c in right.columns if c not in keys]
    if right_ts not in rcols:
        raise ValueError(f"asof_join: right_ts {right_ts!r} not in right columns")
    reserved = {"__ats", "__pay", "__r", "__m"} & set(left.columns)
    if reserved:
        raise ValueError(f"asof_join: left columns collide with internals: {sorted(reserved)}")
    out_names = {c: (c + suffix if c in left.columns else c) for c in rcols}

    # SQL semantics: a null key or null timestamp matches nothing — drop
    # such right rows; a NULL __ats would otherwise sort FIRST ascending
    # and propagate its payload to left rows with no real earlier match
    r_nonnull = right.filter(F.col(right_ts).isNotNull())
    for k in keys:
        r_nonnull = r_nonnull.filter(F.col(k).isNotNull())
    pay = F.struct(*[F.col(c).alias(out_names[c]) for c in rcols])
    r2 = r_nonnull.select(
        *keys,
        F.col(right_ts).alias("__ats"),
        pay.alias("__pay"),
        F.lit(1).alias("__r"),
    )
    l2 = left.withColumn("__ats", F.col(left_ts)).withColumn("__r", F.lit(0))
    u = l2.unionByName(r2, allowMissingColumns=True)
    return asof_select(
        u,
        keys,
        list(left.columns),
        [out_names[c] for c in rcols],
        left_ts,
        out_names[right_ts],
        direction,
        tolerance_seconds,
        how,
    )


def asof_select(
    u: DataFrame,
    keys: list[str],
    left_columns: list[str],
    out_cols: list[str],
    left_ts: str,
    right_ts_out: str,
    direction: str,
    tolerance_seconds: int | None,
    how: str,
) -> DataFrame:
    """The asof window + match + projection over a PREPARED union frame.

    ``u`` holds the left columns plus ``__ats`` (the event time of either
    side), ``__pay`` (struct of the right output columns, NULL on left
    rows) and ``__r`` (1 = right row). Split out of :func:`asof_join` so
    a caller whose two sides are filtered slices of the SAME source can
    build ``u`` from ONE scan (a union of two filtered scans of one
    parquet plans as two full scans — scans have no reuse mechanism) and
    still run the exact asof semantics from this single implementation.
    Right rows with a NULL key or NULL ``__ats`` must already be dropped
    (asof_join does this pre-union; single-source callers filter them in
    place). ``__pay`` may omit ``right_ts_out`` only when
    ``tolerance_seconds`` is None; otherwise it raises ValueError."""
    if tolerance_seconds is not None and right_ts_out not in (
        u.schema["__pay"].dataType.fieldNames()
    ):
        raise ValueError(
            f"asof_select: tolerance_seconds needs {right_ts_out!r} in the "
            "__pay struct"
        )
    ts_order = F.col("__ats").asc() if direction == "backward" else F.col("__ats").desc()
    # at equal __ats the right row must precede the left row so the window
    # sees it (inclusive match) — __r desc does that for both directions
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_order, F.col("__r").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last(F.when(F.col("__r") == 1, F.col("__pay")), ignorenulls=True).over(w)
    # SQL comparison semantics: a NULL left timestamp matches nothing (in
    # forward mode it would otherwise sort past every right row and "see"
    # them all)
    matched = F.when(F.col(left_ts).isNotNull(), matched)
    out = u.withColumn("__m", matched).filter(F.col("__r") == 0)

    if tolerance_seconds is not None:
        gap = F.abs(
            F.unix_timestamp(F.col(left_ts))
            - F.unix_timestamp(F.col("__m")[right_ts_out])
        )
        out = out.withColumn(
            "__m", F.when(gap <= int(tolerance_seconds), F.col("__m"))
        )
    if how == "inner":
        out = out.filter(F.col("__m").isNotNull())
    return out.select(
        *[F.col(c) for c in left_columns],
        *[F.col("__m")[c].alias(c) for c in out_cols],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on,
    point_ts: str,
    range_start: str,
    range_end: str,
    bucket_seconds: int,
    how: str = "inner",
) -> DataFrame:
    """Join left points into right half-open intervals
    ``[range_start, range_end)`` sharing the key(s) — as a binned equi-join,
    never a theta join.

    Each right interval is exploded into the ``bucket_seconds``-wide epoch
    buckets it covers; left probes with its single bucket; the exact range
    predicate filters after the (key, bucket) equi-join. Output carries all
    left columns plus the right columns (caller resolves collisions by
    renaming beforehand; overlapping intervals multiply matches, as in SQL).
    ``how="left"`` keeps unmatched left rows with null right columns.
    """
    if bucket_seconds <= 0:
        raise ValueError("range_join: bucket_seconds must be positive")
    if how not in ("left", "inner"):
        raise ValueError(f"range_join: how must be left/inner, got {how!r}")
    keys = _keys(on)
    collide = [c for c in right.columns if c in left.columns and c not in keys]
    if collide:
        raise ValueError(
            f"range_join: right columns collide with left: {collide} — rename first"
        )
    b = int(bucket_seconds)
    r2 = (
        right.filter(F.col(range_end) >= F.col(range_start))
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(F.col(range_start)) / b),
                    F.floor(F.unix_timestamp(F.col(range_end)) / b),
                )
            ),
        )
    )
    l2 = left.withColumn("__bucket", F.floor(F.unix_timestamp(F.col(point_ts)) / b))
    cond = [l2[k] == r2[k] for k in keys] + [
        l2["__bucket"] == r2["__bucket"],
        l2[point_ts] >= r2[range_start],
        l2[point_ts] < r2[range_end],
    ]
    joined = l2.join(r2, cond, how)
    return joined.select(
        *[l2[c] for c in left.columns],
        *[r2[c] for c in right.columns if c not in keys],
    )


def fuzzy_match_values(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    *,
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    """Edit-distance matching with GUARANTEED recall and no cross join —
    the entity-resolution primitive (near-matching names, titles, SKUs).

    Works on DISTINCT key values (the scale-right order: distinct-ify
    BEFORE the expensive verify — a 100 TB table has far fewer distinct
    names than rows). Returns (left_val, right_val, dist) with
    dist ≤ max_dist; join the result back to the full rows on the value.

    Blocking uses the q-gram count lemma: lev(a,b) ≤ k implies a and b
    share ≥ max(|a|,|b|) − q + 1 − k·q q-grams, so whenever the LONGER
    string has ≥ q·(k+1) chars the pair shares at least one q-gram and an
    equi-join on exploded q-grams finds it. Pairs where BOTH strings are
    shorter than q·(k+1) chars fall into one dedicated short block (that
    universe is tiny by construction). Union → dedupe → exact
    ``levenshtein`` verify on candidates only. The output is IDENTICAL to
    the O(n²) cross join (oracle-checked at sf0.01), but the plan is
    equi-joins only. NULL keys never match.
    """
    cand = _fuzzy_candidates(left, right, left_col, right_col, max_dist=max_dist, q=q)
    return cand.withColumn("dist", F.levenshtein("left_val", "right_val")).where(
        F.col("dist") <= max_dist
    )


def _fuzzy_candidates(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    *,
    max_dist: int,
    q: int,
) -> DataFrame:
    """Candidate (left_val, right_val) pairs before the levenshtein verify —
    split out so tests can assert the candidate count directly."""
    k = max_dist
    short_len = q * (k + 1)

    def grams(col):
        n = F.length(col)
        idx = F.sequence(F.lit(1), F.greatest(n - (q - 1), F.lit(1)))
        return F.when(
            n >= q, F.array_distinct(F.transform(idx, lambda i: F.substr(col, i, F.lit(q))))
        ).otherwise(F.array(col))

    lv = left.select(F.col(left_col).alias("left_val")).where(
        F.col("left_val").isNotNull()
    ).distinct()
    rv = right.select(F.col(right_col).alias("right_val")).where(
        F.col("right_val").isNotNull()
    ).distinct()

    lg = lv.select("left_val", F.explode(grams(F.col("left_val"))).alias("__g"))
    rg = rv.select("right_val", F.explode(grams(F.col("right_val"))).alias("__g"))
    # length-difference prefilter INSIDE the gram join (VERDICT r3 #6):
    # |len(a)−len(b)| > k already implies lev > k, so it cannot drop a true
    # match — but it prunes the hot-gram blowup (a common q-gram like "th"
    # pairs every name containing it) before the candidate dedupe.
    by_gram = lg.join(
        rg,
        (lg["__g"] == rg["__g"])
        & (
            F.abs(F.length(lg["left_val"]) - F.length(rg["right_val"]))
            <= F.lit(k)
        ),
    ).select("left_val", "right_val")

    # the short side is bounded BY CONSTRUCTION (strings under q*(k+1)
    # chars); broadcast it so the all-pairs block plans as a broadcast
    # nested loop over a tiny side, never a CartesianProduct
    ls = lv.where(F.length("left_val") < short_len)
    rs = rv.where(F.length("right_val") < short_len)
    by_short = ls.join(F.broadcast(rs)).select("left_val", "right_val")

    return by_gram.unionByName(by_short).dropDuplicates(["left_val", "right_val"])


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    *,
    max_dist: int = 2,
    q: int = 2,
    right_suffix: str = "_r",
) -> DataFrame:
    """Row-level convenience over :func:`fuzzy_match_values`: every left
    row joined to every right row whose key is within ``max_dist`` edits,
    plus a ``dist`` column. Right-side columns that collide with left
    names get ``right_suffix``. Both row joins are plain equi-joins on
    the matched values, so the whole thing stays shuffle-hash/SMJ-shaped.
    """
    matches = fuzzy_match_values(
        left, right, left_col, right_col, max_dist=max_dist, q=q
    )
    renames = {
        c: c + right_suffix for c in right.columns if c in set(left.columns)
    }
    r = right
    for old, new in renames.items():
        r = r.withColumnRenamed(old, new)
    right_key = renames.get(right_col, right_col)
    out = (
        left.join(matches, left[left_col] == matches["left_val"])
        .join(r, matches["right_val"] == r[right_key])
        .drop("left_val", "right_val")
    )
    return out
