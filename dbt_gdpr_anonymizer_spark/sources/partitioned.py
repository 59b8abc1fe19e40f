"""Hive-partitioned parquet layout: the partition-pruning scan path.

Bucketing (``sources/bucketed.py``) amortizes JOIN shuffles; directory
partitioning amortizes SCANS: write the table as
``path/col=value/part-*.parquet`` and every query filtering on the
partition column reads ONLY the matching directories — the planner
resolves the pruning from the file listing, before a single data byte
moves. At 100 TB this is the difference between a 30-second
incremental-day job and a full-corpus pass: time-partitioned event/fact
tables should ALWAYS land partitioned on their ingestion date.

Rules encoded here (enforced by tests/test_partitioned.py):

* partition columns must be LOW cardinality (dates, sources, languages —
  thousands of directories, not millions: each partition is a filesystem
  object and the listing itself becomes the bottleneck past ~1e5);
* repartition on the partition key before the write — otherwise every
  task writes a file into every partition directory (tasks × partitions
  small files, the classic layout bug);
* equality/IN/range filters on partition columns appear under the scan's
  ``PartitionFilters`` (pruned at plan time); everything else is a data
  filter — verify with ``.explain`` when adding a new query path, the
  plan says which filters prune.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.session import scoped_conf

__all__ = ["write_partitioned", "read_partitioned", "compact_files",
           "zorder_value", "write_zordered", "footer_stats"]


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> str:
    """Write ``df`` Hive-partitioned on ``partition_cols``; returns the
    path. The pre-write ``repartition`` on the partition key gives one
    task per live partition → one file per partition directory (plus
    AQE coalescing), instead of the tasks×partitions small-file spray.
    """
    out = df.repartition(*[F.col(c) for c in partition_cols])
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return path


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a Hive-partitioned layout; partition columns come back as
    real columns (directory-derived), and filters on them prune at plan
    time — assert ``PartitionFilters`` in the scan when it matters."""
    return spark.read.parquet(path)


def compact_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    order_cols: Sequence[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files (optionally
    range-clustered on ``order_cols`` so per-file min/max stats prune
    future range scans). Returns the output file count.

    Streaming sinks, incremental upserts, and per-trigger appends all
    accrete thousands of KB-sized files; at 100 TB the scan's task
    scheduling and footer-reading overhead then dominates actual I/O
    (one task per file). Compaction is the standing maintenance job that
    restores ~128 MB files. Total size comes from the driver-side file
    listing (metadata only, no data read); the rewrite is one
    repartition/repartitionByRange — a single full shuffle, which is the
    floor for re-laying-out data. Run per partition directory in a
    partitioned layout so only dirty partitions rewrite.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = p.getFileSystem(conf)
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, -(-int(total) // int(target_file_bytes)))
    df = spark.read.parquet(in_path)
    if order_cols:
        out = df.repartitionByRange(n_files, *[F.col(c) for c in order_cols])
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(out_path)
    out_p = jvm.org.apache.hadoop.fs.Path(out_path)
    listing = fs.listStatus(out_p)
    return sum(
        1
        for i in range(len(listing))
        if listing[i].getPath().getName().endswith(".parquet")
    )


def zorder_value(
    cols: Sequence[str],
    mins: Sequence[int],
    maxs: Sequence[int],
    bits: int = 8,
) -> F.Column:
    """Morton (Z-order) key over ``cols``: each column is min/max
    normalized into ``2^bits`` buckets, then the bucket bits are
    interleaved — locality in EVERY input dimension maps to locality in
    the single sort key. Pure shift/mask Column arithmetic (codegen); the
    loop builds 2·bits terms at plan time, not per row."""
    n = len(cols)
    buckets = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = max(int(hi) - int(lo), 1)
        b = F.floor(
            (F.col(c).cast("long") - F.lit(int(lo)))
            * F.lit((1 << bits) - 1)
            / F.lit(span)
        ).cast("long")
        buckets.append(F.greatest(F.lit(0), F.least(b, F.lit((1 << bits) - 1))))
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                    bit * n + i,
                )
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    *,
    n_files: int,
    bits: int = 8,
) -> str:
    """Z-order-clustered parquet write: range-partition + sort on the
    Morton key of ``cols`` so every file (and row group) covers a small
    HYPER-RECTANGLE of the multi-column space — point/range filters on
    ANY of the clustered columns prune via parquet min/max stats, where
    single-column range clustering only helps its one leading column.
    This is the layout maintenance step (Delta's OPTIMIZE ZORDER) for
    multi-dimensional access patterns: geo lookups (lat, lon), (tenant,
    time), (user, date).

    Column min/max come from one 1-row aggregate (the only pre-pass);
    the rewrite is a single repartitionByRange shuffle + in-partition
    sort — identical cost shape to plain compaction. Skew: range
    partitioning samples the z-key distribution, so hot regions split
    across files instead of hashing into one.
    """
    stats = df.agg(
        *[F.min(c).alias(f"_lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"_hi{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    mins = [stats[f"_lo{i}"] for i in range(len(cols))]
    maxs = [stats[f"_hi{i}"] for i in range(len(cols))]
    missing = [c for c, lo, hi in zip(cols, mins, maxs) if lo is None or hi is None]
    if missing:
        # Empty input (or an all-null cluster column) has no min/max to
        # normalize against — there is nothing to cluster, so write the
        # rows through unchanged rather than TypeError on int(None).
        df.write.mode("overwrite").parquet(path)
        return path
    z = zorder_value(cols, mins, maxs, bits=bits)
    out = (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    out.write.mode("overwrite").parquet(path)
    return path


def footer_stats(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
) -> dict:
    """Metadata-only table statistics: MIN/MAX per column + row COUNT
    answered from parquet FOOTERS via aggregate pushdown — the scan
    reads statistics, not data. At 100 TB this is the difference between
    a sub-second freshness/row-count probe and a full corpus pass; it is
    how the run-manifest and source-freshness checks should be wired
    when no filter is involved (pushdown disqualifies itself under
    row-filters or nullable-imprecise types, and Spark then falls back
    to a real scan — correctness never depends on it).

    Pushdown only exists on the DataSource V2 read path, so the two
    configs are scoped (``scoped_conf``) around PLAN construction (a
    DataFrame keeps the plan it was built under); the helper asserts
    ``PushedAggregation`` made it into the physical plan and fails
    loudly otherwise rather than silently scanning.
    """
    with scoped_conf(
        spark,
        {
            "spark.sql.sources.useV1SourceList": "",
            "spark.sql.parquet.aggregatePushDown": "true",
        },
    ):
        df = spark.read.parquet(path)
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in cols:
            aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
        agg = df.agg(*aggs)
        plan = agg._jdf.queryExecution().executedPlan().toString()
        if "PushedAggregation" not in plan:
            raise RuntimeError(
                "aggregate pushdown did not reach the scan — check column "
                "types and that no filter precedes the aggregate"
            )
        row = agg.collect()[0]
    out = {"n_rows": row["_n"]}
    for c in cols:
        out[f"min_{c}"] = row[f"_min_{c}"]
        out[f"max_{c}"] = row[f"_max_{c}"]
    return out
