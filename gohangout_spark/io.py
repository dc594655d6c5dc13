"""Test-table loading helpers.

The driver's synthetic parquet stores event-time as TIMESTAMP(NANOS), which
Spark's parquet reader rejects ([PARQUET_TYPE_ILLEGAL]). We flip the
``spark.sql.legacy.parquet.nanosAsLong`` escape hatch (runtime-settable) and
convert nanos → microsecond timestamps with integer division (``DIV 1000`` —
plain ``/`` would route through double and lose sub-µs precision), matching
DuckDB's own ns→µs truncation so oracle hashes line up.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def ensure_event_time(df: DataFrame, col_name: str) -> DataFrame:
    """Coerce a TIMESTAMP_NTZ event-time column to TIMESTAMP (LTZ).

    ``withWatermark`` rejects TIMESTAMP_NTZ ([EVENT_TIME_IS_NOT_ON_
    TIMESTAMP_TYPE]), and tz-naive parquet (pandas/pyarrow ``timestamp[us]``)
    infers as NTZ under Spark 4. The session timezone is pinned to UTC
    (session.py), so the cast preserves the instant.
    """
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if f.name == col_name and isinstance(f.dataType, TimestampNTZType):
            return df.withColumn(col_name, F.col(f"`{col_name}`").cast("timestamp"))
    return df


TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _nanos_columns(path: str) -> list[str]:
    """INT64 TIMESTAMP(NANOS) columns. Checks the PARQUET physical schema:
    Spark-written INT96 timestamps also surface as timestamp[ns] in the
    arrow schema but must NOT be treated as nanos longs."""
    import pyarrow.parquet as pq

    first = path
    if os.path.isdir(path):
        inner = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if inner:
            first = os.path.join(path, inner[0])
    schema = pq.ParquetFile(first).schema
    out = []
    for i in range(len(schema)):
        col = schema.column(i)
        if col.physical_type == "INT64" and "nanoseconds" in str(col.logical_type):
            out.append(col.name)
    return out


def read_parquet(spark: SparkSession, path: str, reader=None) -> DataFrame:
    """Parquet read that tolerates INT64 TIMESTAMP(NANOS) columns: they load
    as longs and become microsecond timestamps by integer division.
    ``reader`` is a configured ``DataFrameReader`` (schema, options), by
    default ``spark.read``. The footer probe is local and best-effort: a
    path pyarrow cannot open (a glob, a remote store) reads unconverted."""
    import pyarrow as pa

    try:
        nanos = _nanos_columns(path)
    except (OSError, pa.ArrowException):
        nanos = []
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = (reader or spark.read).parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # self-sufficient under a FOREIGN SparkSession (the driver's): timestamps
    # must render/compare in UTC to match the DuckDB oracle regardless of the
    # session's default timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def rebalance_for_compute(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition a source that planned (far) fewer partitions than the
    session has cores, for CPU-bound per-row work (regex/HOF text
    pipelines, pandas UDFs).

    Why this exists: parquet parallelism is ROW-GROUP granular — the test
    fixtures are one row group, so the scan plans ONE task no matter what
    maxPartitionBytes/openCostInBytes say, and a compute-heavy operator
    single-threads (measured 5-8 s single-task vs <1 s rebalanced at
    sf0.1). At production scale a 100 TB source plans tens of thousands
    of partitions, the guard is false, and this is a no-op — the
    round-robin exchange only ever pays its (tiny) cost exactly when the
    source is too small for it to matter.
    """
    # len(inputFiles()) as the guard, NOT df.rdd.getNumPartitions(): the
    # .rdd form forces a full plan->RDD translation (~0.8 s driver time per
    # call — the cost dedup.minhash_lsh_candidates documents avoiding).
    # File count bounds partition count here because the fixtures are
    # single-row-group files; non-file sources report no files and pass
    # through untouched.
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and len(files) < max(2, target // 2):
        return df.repartition(target)
    return df


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    n_buckets: int,
    sort_cols: list[str] | str | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a BUCKETED parquet table (Hive-style layout): rows
    are hash-partitioned into ``n_buckets`` files per partition by
    ``bucket_cols``, optionally sorted within buckets.

    The 100 TB story: two fact tables bucketed the same way (same columns,
    same bucket count) join WITHOUT ANY SHUFFLE — Catalyst sees the
    matching output partitioning and plans SortMergeJoin directly over the
    bucket files (zero Exchange nodes, asserted in test_scale). For a fact
    table joined repeatedly (events↔orders, lineitem↔orders), paying one
    bucketed write amortizes the join shuffle across every downstream
    query — the Spark-native equivalent of co-located placement in
    distributed OLAP engines.

    Bucketing requires the session catalog (``saveAsTable``; plain
    ``save(path)`` silently drops bucket metadata — Spark limitation), so
    callers pass a TABLE NAME; ``path`` pins an external location.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.format("parquet").mode(mode)
    if path is not None:
        writer = writer.option("path", path)
    writer = writer.bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_files(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_mb: int = 256,
    fmt: str = "parquet",
    compression: str | None = None,
) -> dict:
    """Small-file compaction (the OPTIMIZE primitive): rewrite a directory
    of many small files into files of ~``target_file_mb`` each.

    Why first-class: at 100 TB the dominant operational failure of a
    streaming ingest is millions of KB-sized files — every downstream scan
    pays per-file open cost and the driver pays per-file listing. The
    rewrite is one round-robin repartition to ceil(bytes/target) — no keyed
    shuffle — sized from the actual on-disk byte count (filesystem listing,
    not a data scan). Writes to ``dst_path`` (never in place: an in-place
    rewrite that fails mid-job destroys the table; callers swap directories
    after success — the same protocol table formats' OPTIMIZE commits via
    metadata). Returns {files_before, files_after, bytes}.
    """
    import math

    df = spark.read.format(fmt).load(src_path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = p.getFileSystem(conf)
    it = fs.listFiles(p, True)
    total = 0
    files_before = 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        total += st.getLen()
        files_before += 1
    n_out = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    w = df.repartition(n_out).write.format(fmt).mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.save(dst_path)
    out_p = jvm.org.apache.hadoop.fs.Path(dst_path)
    it2 = fs.listFiles(out_p, True)
    files_after = 0
    while it2.hasNext():
        name = it2.next().getPath().getName()
        if not (name.startswith("_") or name.startswith(".")):
            files_after += 1
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total,
    }


def upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    fmt: str = "parquet",
    check_moved_keys: bool = False,
) -> dict:
    """MERGE for a hive-partitioned directory table without a table format:
    rows in ``updates`` replace target rows with the same key; new keys
    append. ONLY the partitions that appear in ``updates`` are rewritten —
    dynamic partition overwrite — so a 100 TB table pays for the touched
    partitions, not a full rewrite.

    Mechanics: the touched-partition values are collected (bounded — an
    update batch touches few partitions by design; thousands at most),
    those partitions are read back partition-pruned, anti-joined on the
    key against the updates, unioned with the updates, and written with
    ``partitionOverwriteMode=dynamic`` so untouched partitions' files are
    left byte-identical on disk.

    CONTRACT: a key's partition value is immutable — an update must carry
    the same ``partition_col`` value as the existing row (the standard
    constraint behind partition-scoped MERGE: partition by a stable
    attribute like creation day). An update that MOVES a key to a new
    partition would leave the old row in an untouched partition and
    duplicate the key; ``check_moved_keys=True`` scans the un-touched
    partitions' key columns (column-pruned, no row data) and raises before
    writing anything if that is about to happen — opt-in because it is a
    full key scan at 100 TB.

    Not transactional: a mid-write failure can leave touched partitions
    partially rewritten (the reason table formats exist). Use for
    append-mostly corpora where the unit of correction is a partition
    (day/source), and wrap in a directory swap when atomicity matters.
    Returns {touched_partitions, upserted_rows}.
    """
    target = spark.read.format(fmt).load(target_path)
    parts = [
        r[0]
        for r in updates.select(partition_col).distinct().collect()
    ]
    # isin(parts) silently never matches NULL, so a null-partition update
    # would append without removing its old row — reject it up front
    if any(p is None for p in parts):
        raise ValueError(
            "upsert_partitioned: updates contain NULL partition values "
            f"({partition_col}); the null partition "
            "(__HIVE_DEFAULT_PARTITION__) is not supported — fill or drop "
            "those rows first"
        )
    n_up = updates.count()
    if check_moved_keys:
        moved = (
            target.where(~F.col(partition_col).isin(parts))
            .select(*key_cols)
            .join(updates.select(*key_cols), key_cols, "left_semi")
            .limit(1)
            .count()
        )
        if moved:
            raise ValueError(
                "upsert_partitioned: an update moves a key across "
                f"partitions (its existing row lives outside {parts}); "
                "partition values are immutable per key — delete + insert "
                "instead"
            )
    keep = (
        target.where(F.col(partition_col).isin(parts))
        .join(updates.select(*key_cols), key_cols, "left_anti")
    )
    # the write overwrites a path the plan reads — Spark rejects that at
    # analysis time, so the kept rows (touched partitions only, bounded by
    # design) are pinned via an eager localCheckpoint that cuts the plan's
    # dependency on the source files before the overwrite starts
    out = keep.unionByName(updates).localCheckpoint(eager=True)
    (
        out.write.format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .save(target_path)
    )
    return {"touched_partitions": len(parts), "upserted_rows": n_up}


def _escape_partition_value(spark: SparkSession, v) -> str:
    """Render a partition value exactly as Spark's writer does for the
    directory name: string conversion (JVM-style booleans) followed by
    Hive path escaping (percent-encodes ':', '%', '=', '/', '#',
    control chars, ...). Uses the very same JVM routine the writer uses
    (``ExternalCatalogUtils.escapePathName``) so the emptied-partition
    delete in :func:`delete_rows_partitioned` targets the directory the
    write actually created; falls back to an offline twin of Hive's
    char table if the catalyst class is unreachable."""
    if isinstance(v, bool):
        s = "true" if v else "false"
    else:
        s = str(v)
    try:
        return (
            spark._jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.escapePathName(s)
        )
    except Exception:
        needs = set('"#%\'*/:=?\\{[]^') | {
            chr(c) for c in range(1, 32)
        } | {chr(127)}  # DEL is in Hive's escape table too
        return "".join(
            f"%{ord(c):02X}" if c in needs else c for c in s
        )


def delete_rows_partitioned(
    spark: SparkSession,
    target_path: str,
    keys: DataFrame,
    key_cols: list[str],
    partition_col: str,
    fmt: str = "parquet",
) -> dict:
    """Targeted deletion (the GDPR/right-to-be-forgotten primitive) from a
    hive-partitioned directory table: rows matching ``keys`` are removed by
    rewriting ONLY the partitions that contain them. ``keys`` must carry
    ``partition_col`` (at 100 TB, finding which partitions hold a key
    without it means a full scan — ship the partition with the deletion
    request, or resolve it from an index first). Same dynamic-overwrite
    mechanics and non-transactional caveat as :func:`upsert_partitioned`.
    Returns {touched_partitions, deleted_rows}.
    """
    target = spark.read.format(fmt).load(target_path)
    parts = [r[0] for r in keys.select(partition_col).distinct().collect()]
    # same NULL-partition guard as upsert_partitioned: isin never matches
    # NULL, so null-keyed rows would silently survive the deletion
    if any(p is None for p in parts):
        raise ValueError(
            "delete_rows_partitioned: keys contain NULL partition values "
            f"({partition_col}); the null partition "
            "(__HIVE_DEFAULT_PARTITION__) is not supported"
        )
    touched = target.where(F.col(partition_col).isin(parts))
    n_before = touched.count()
    # eager checkpoint for the same read-then-overwrite reason as
    # upsert_partitioned (touched partitions only)
    keep = touched.join(
        keys.select(*key_cols), key_cols, "left_anti"
    ).localCheckpoint(eager=True)
    n_after = keep.count()
    (
        keep.write.format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .save(target_path)
    )
    # dynamic overwrite only rewrites partitions PRESENT in `keep` — a
    # touched partition whose every row was deleted never appears in the
    # write, so its old files would stay on disk and remain readable (a
    # silent retention failure for the GDPR use case). Remove those
    # partition directories explicitly via the Hadoop FileSystem API.
    surviving = {
        r[0] for r in keep.select(partition_col).distinct().collect()
    }
    emptied = [p for p in parts if p not in surviving]
    if emptied:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for p in emptied:
            # the writer percent-escapes special chars in partition dir
            # names (':', '%', '=', '/', control chars, ...) — escape the
            # value the same way or the delete silently misses the dir
            pdir = jvm.org.apache.hadoop.fs.Path(
                f"{target_path}/{partition_col}={_escape_partition_value(spark, p)}"
            )
            fs = pdir.getFileSystem(hconf)
            if fs.exists(pdir):
                fs.delete(pdir, True)
    return {
        "touched_partitions": len(parts),
        "deleted_rows": n_before - n_after,
        "emptied_partitions": len(emptied),
    }
