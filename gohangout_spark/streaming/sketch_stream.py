"""Continuous frequency sketching for an event STREAM.

The streaming twin of functions.sketch's Count-Min path: each micro-batch
is reduced to its own bounded (depth, bucket, cnt) partial sketch, and the
partial is written to a per-epoch partition of a persistent sketch store.
Because Count-Min merges by ELEMENTWISE SUM (tested in
tests/test_functions.py::TestCountMin::test_merge_is_elementwise_sum), the
store never needs read-modify-write: the queryable sketch is simply the
sum of every epoch partial on read. Per-batch cost is O(batch) reduced to
≤ depth×width rows; the store grows by ≤ depth×width rows per epoch
regardless of traffic, and an offline compaction (sum and rewrite) is a
pure optimization, never a correctness step.

Why foreachBatch and not applyInPandasWithState: the sketch is a global
table, not per-group session state, and it must survive as a queryable
store (the batch path reads the same layout). Idempotency under epoch
replay is structural: each epoch OVERWRITES its own ``epoch=<id>``
partition directory, so a replayed epoch rewrites identical rows instead
of double-counting (foreachBatch alone is at-least-once on retry;
dedup_stream.py documents the same seam and resolves it with
dedupe-on-read — here the epoch key makes the write itself idempotent,
pinned by TestCountminStream's replayed-epoch test).

Reference parity note: gohangout counts via windowed LinkMetric
aggregations; a mergeable any-key frequency sketch has no analogue there
— this is an LLM-pipeline extension (SURVEY §7 phase 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gohangout_spark.functions.sketch import countmin_table


def start_countmin_stream(
    stream: DataFrame,
    sketch_path: str,
    col: str,
    *,
    depth: int = 4,
    width: int = 256,
    checkpoint: str | None = None,
    query_name: str = "countmin_stream",
):
    """Wire a streaming DataFrame into a persistent Count-Min store:
    every micro-batch appends its bounded partial sketch as the
    ``epoch=<id>`` partition of ``sketch_path`` (overwrite-on-replay —
    see module docstring). Query the live sketch any time with
    :func:`load_countmin_sketch`; its estimates converge to the one-shot
    batch sketch the moment the stream drains (hash-gated end to end by
    ``countmin_stream_replay``)."""

    return _start_epoch_store(
        stream, sketch_path,
        lambda batch: countmin_table(batch, col, depth=depth, width=width),
        checkpoint=checkpoint, query_name=query_name,
    )


def load_countmin_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The queryable sketch: elementwise sum of every epoch partial.
    Returns the same (depth, bucket, cnt) schema as
    :func:`functions.sketch.countmin_table`, so
    :func:`functions.sketch.countmin_estimate` probes it unchanged."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def start_logbucket_stream(
    stream: DataFrame,
    hist_path: str,
    value_col: str,
    group_cols: list[str],
    *,
    scale: int = 1000,
    checkpoint: str | None = None,
    query_name: str = "logbucket_stream",
):
    """The quantile member of the streaming sketch store — identical
    epoch-partition protocol to :func:`start_countmin_stream`, applied to
    the log-bucket histogram (functions.sketch.logbucket_table): each
    micro-batch reduces to its bounded (group, idx, cnt) partial (≤ ~8
    buckets per octave per group, independent of batch size), written as
    its own ``epoch=<id>`` partition. The histogram merges by cnt-sum on
    (group, idx) (TestLogBucketQuantiles pins the property), so the
    queryable sketch is the sum on read, a drained stream's quantile
    estimates EQUAL the one-shot batch sketch's, and a replayed epoch
    overwrites itself instead of double-counting — hash-gated end to end
    by ``logbucket_stream_replay`` against the same DuckDB oracle as the
    one-shot ``logbucket_value_quantiles``."""
    from gohangout_spark.functions.sketch import logbucket_table

    return _start_epoch_store(
        stream, hist_path,
        lambda batch: logbucket_table(batch, value_col, group_cols, scale=scale),
        checkpoint=checkpoint, query_name=query_name,
    )


def load_logbucket_hist(
    spark: SparkSession, hist_path: str, group_cols: list[str]
) -> DataFrame:
    """The queryable histogram: cnt-sum of every epoch partial on
    (group, idx) — same schema as :func:`functions.sketch.logbucket_table`,
    so :func:`functions.sketch.logbucket_quantiles` reads it unchanged."""
    return (
        spark.read.parquet(hist_path)
        .groupBy(*group_cols, "idx")
        .agg(F.sum("cnt").alias("cnt"))
    )


def start_kmv_stream(
    stream: DataFrame,
    sketch_path: str,
    col: str,
    group_cols: list[str],
    *,
    k: int = 64,
    checkpoint: str | None = None,
    query_name: str = "kmv_stream",
):
    """The distinct-count member of the streaming sketch store — and the
    proof the epoch-partition protocol generalizes beyond sum-merge:
    Count-Min and the log-bucket histogram merge by ADDING counters, but
    a KMV synopsis merges by RE-SKETCHING (k smallest distinct hashes of
    the union), so the queryable store is ``kmv_union`` folded over the
    epoch partials on read (:func:`load_kmv_sketch`) rather than a
    cnt-sum. Idempotency is identical: each epoch's bounded ≤ k-row
    partial overwrites its own ``epoch=<id>`` partition, and because
    bottom-k is idempotent under duplicate inputs (min of a multiset
    ignores multiplicity) a replayed epoch changes nothing — hash-gated
    end to end by ``kmv_stream_replay`` against the same DuckDB oracle
    as the one-shot ``kmv_distinct_users``."""
    from gohangout_spark.functions.sketch import kmv_table

    return _start_epoch_store(
        stream, sketch_path,
        lambda batch: kmv_table(batch, col, group_cols, k=k),
        checkpoint=checkpoint, query_name=query_name,
    )


def load_kmv_sketch(
    spark: SparkSession, sketch_path: str, group_cols: list[str], *, k: int = 64
) -> DataFrame:
    """The queryable KMV synopsis: bottom-k of the UNION of every epoch
    partial — same (group..., h) schema as
    :func:`functions.sketch.kmv_table`, so
    :func:`functions.sketch.kmv_estimate` reads it unchanged. The union
    of valid bottom-k synopses re-sketched to k is itself the valid
    synopsis of the union (each globally-smallest hash is smallest in
    its own epoch), so a drained stream's estimates EQUAL the one-shot
    batch sketch's."""
    from gohangout_spark.functions.sketch import bottom_k

    # bottom_k selects (group..., h) only — dropping the nondeterministic
    # `epoch` partition column the parquet read adds, so the loaded
    # synopsis really has kmv_table's schema and composes with kmv_union
    return bottom_k(spark.read.parquet(sketch_path), group_cols, k)


def _start_epoch_store(stream: DataFrame, sketch_path: str, make_partial,
                       *, checkpoint: str | None, query_name: str):
    """Shared writer of the epoch-partition protocol (all four stores):
    each micro-batch's bounded partial OVERWRITES its own ``epoch=<id>``
    partition, so a replayed epoch rewrites identical rows instead of
    double-counting."""

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        make_partial(batch).write.mode("overwrite").parquet(
            f"{sketch_path}/epoch={epoch_id}"
        )

    writer = stream.writeStream.queryName(query_name).foreachBatch(_merge)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def start_hll_stream(
    stream: DataFrame,
    sketch_path: str,
    col: str,
    group_cols: list[str],
    *,
    lg_k: int = 12,
    checkpoint: str | None = None,
    query_name: str = "hll_stream",
):
    """The register-merge member of the streaming sketch store — the
    third merge DISCIPLINE (sum: Count-Min / log-bucket; re-sketch:
    KMV; per-register max: this) and fourth store member. DataSketches
    HLL partials merge by register max (``hll_union_agg``), which is
    idempotent and commutative, so the drained store's merged REGISTER
    STATE is exactly the register state of the whole stream's sketch,
    independent of how epochs partitioned it.

    Estimator caveat (why callers must not compare against a
    directly-built sketch's estimate): DataSketches reports a
    directly-aggregated sketch through the HIP estimator but a UNION
    result through the composite estimator, so two sketches with
    IDENTICAL registers can print slightly different estimates once
    past exact coupon mode. Union-built estimates are a pure function
    of the merged registers — compare the store against another
    union-built estimate (any split), as hll_stream_replay does, or
    against exact counts with an error bound."""

    def make_partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy(*group_cols).agg(
            F.hll_sketch_agg(col, F.lit(lg_k)).alias("sk")
        )

    return _start_epoch_store(
        stream, sketch_path, make_partial,
        checkpoint=checkpoint, query_name=query_name,
    )


def load_hll_estimates(
    spark: SparkSession, sketch_path: str, group_cols: list[str]
) -> DataFrame:
    """The queryable distinct-count estimates: per-group
    ``hll_union_agg`` over every epoch partial, then the composite
    estimate — a pure function of the merged registers (see
    start_hll_stream's estimator caveat)."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy(*group_cols)
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sk", F.lit(False))
            ).alias("approx_distinct")
        )
    )
