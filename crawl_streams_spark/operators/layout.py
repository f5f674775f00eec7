"""Data-layout operators: clustered partitioned writes and small-file
compaction.

No reference counterpart (the reference's only file output is one JSON
snapshot, analysis.py:227-236) — but at 100 TB the difference between a
healthy table and an unreadable one is layout: partition pruning needs
directory partitioning, row-group skipping needs value clustering, and
scan parallelism collapses under millions of tiny files (every file is a
task + a footer read).

- ``clustered_write``: hash-distribute rows to writers by the partition
  columns (one writer per output directory instead of every task writing
  every partition — the small-files explosion), then sort within writers
  by the cluster columns so parquet min/max row-group stats become
  selective. ``maxRecordsPerFile`` bounds file size without a second job.
- ``compact_parquet``: rewrite an existing directory tree to target file
  sizes — the maintenance half of the same problem.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

__all__ = [
    "clustered_write",
    "range_sorted_write",
    "compact_parquet",
    "upsert_partitions",
    "column_ranges",
    "zorder_key",
    "zorder_write",
]


def clustered_write(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    cluster_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> int:
    """Write a directory-partitioned parquet table with value clustering;
    returns the number of rows written.

    repartition(partition_by) routes each output partition's rows to one
    writer task; sortWithinPartitions orders rows inside each file so
    min/max statistics prune row groups on the cluster keys at read time
    (the poor man's Z-order — exact for one key, prefix-ordered for
    several). The sort leads with the partition columns: the partitioned
    writer requires that ordering and would otherwise inject its own
    (unstable) sort, destroying the clustering.

    The count is an observed metric on the frame handed to the writer, so
    it costs no extra job. It sits ABOVE the shuffle and the sort: an
    observation below the shuffle is lost when AQE drops an empty stage
    (every input row filtered out), and reading it then fails.
    """
    out = df.repartition(*partition_by) if partition_by else df
    if cluster_by:
        out = out.sortWithinPartitions(*partition_by, *cluster_by)
    written = Observation()
    (
        out.observe(written, F.count(F.lit(1)).alias("n"))
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )
    return written.get["n"]


def range_sorted_write(
    df: DataFrame,
    path: str,
    order_by: list[str],
    num_files: int | None = None,
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Totally-ordered table layout: range-partition rows on ``order_by``
    (sampled range boundaries, one writer per range) and sort within each
    partition — the output files form ONE global sort order with
    non-overlapping [min, max] ranges per file.

    Complements ``clustered_write`` (hash-routed directories + in-file
    clustering): here a predicate or merge on the leading sort key prunes
    whole FILES via footer min/max before any row group is read, and
    ordered consumers (time-series export, merge joins against other
    range-sorted tables, sequential training readers) get their order from
    the layout instead of a query-time sort. Cost: repartitionByRange runs
    a sampling pass to pick boundaries — two reads of the input, the price
    of global order without a single-partition bottleneck."""
    out = (
        df.repartitionByRange(num_files, *order_by)
        if num_files
        else df.repartitionByRange(*order_by)
    )
    (
        out.sortWithinPartitions(*order_by)
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def column_ranges(df: DataFrame, cols: list[str]) -> list[tuple[int, int]]:
    """(min, max) per column in ONE aggregate job — the bounded stats pass
    zorder_write scales against (two scalars per column reach the driver;
    at scale, table-format column statistics replace the job entirely)."""
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("bigint")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("bigint")).alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    return [(row[f"__min_{c}"], row[f"__max_{c}"]) for c in cols]


def zorder_key(
    cols: list[str], ranges: list[tuple[int, int]], bits: int = 12
) -> Column:
    """Morton (Z-order) curve value: each column is scaled to ``bits`` bits
    against its (min, max) range, then the bits of all columns are
    interleaved — so rows close in Z-value are close in EVERY dimension at
    once. Sorting the layout by this key bounds each output file's min/max
    range on every z-ordered column simultaneously, where a lexicographic
    sort clusters only its leading column (the trailing columns' per-file
    ranges stay the full domain — no pruning).

    Pure Column bit arithmetic (shifts/and/or in whole-stage codegen, no
    UDF). Scaling is min-max linear: floor((v - min) · (2^bits - 1) /
    span) with the product exact in int64 and one IEEE double division —
    deterministic and replicable in ANSI SQL (the oracle replays it
    bit-for-bit). Heavily skewed columns concentrate in few scale buckets;
    quantile (rank) scaling would spread them at the cost of a sketch
    pass — min-max matches what Delta OSS ships and is the honest default.
    """
    k = len(cols)
    assert k >= 1 and len(ranges) == k
    scaled = []
    for c, (lo, hi) in zip(cols, ranges):
        span = max(1, int(hi) - int(lo))
        m = (1 << bits) - 1
        v = F.col(c).cast("bigint") - F.lit(int(lo))
        scaled.append(F.floor((v * F.lit(m)) / F.lit(span)).cast("bigint"))
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    bits: int = 12,
    num_files: int | None = None,
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered table layout: range-partition and sort the rows by
    their Morton curve value over ``zorder_by``, so every output file
    covers a compact Z-range — and therefore a NARROW min/max range in
    each z-ordered column. Parquet footer stats then skip files for
    predicates on ANY of the columns, not just a leading sort key: the
    multi-dimensional file-skipping layout (Delta/Iceberg OPTIMIZE ZORDER
    BY) expressed as plain DataFrame ops.

    Cost at 100 TB: one bounded stats job (column_ranges), one
    repartitionByRange sampling pass, one write — same shape as
    range_sorted_write plus the stats job. The curve key is dropped before
    writing; the clustering lives in the file boundaries, not a column.
    Measured in tests/test_layout.py: per-file range coverage shrinks on
    BOTH dimensions vs a single-column sort, whose trailing column stays
    at full-domain coverage per file."""
    ranges = column_ranges(df, zorder_by)
    keyed = df.withColumn("__z", zorder_key(zorder_by, ranges, bits))
    out = (
        keyed.repartitionByRange(num_files, "__z")
        if num_files
        else keyed.repartitionByRange("__z")
    )
    (
        out.sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_rows_per_file: int = 1_000_000,
    cluster_by: list[str] | None = None,
) -> int:
    """Rewrite ``src`` into ``dst`` with ~target_rows_per_file per file;
    returns the number of output files requested. One count job sizes the
    rewrite — at scale, prefer sizing from catalog/file statistics, but the
    shape (count → repartition(n) → write) is the same.
    """
    df = spark.read.parquet(src)
    n_files = max(1, math.ceil(df.count() / target_rows_per_file))
    out = df.repartition(n_files)
    if cluster_by:
        out = out.sortWithinPartitions(*cluster_by)
    out.write.mode("overwrite").option(
        "maxRecordsPerFile", target_rows_per_file
    ).parquet(dst)
    return n_files


def upsert_partitions(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    partition_col: str,
    cluster_by: list[str] | None = None,
) -> int:
    """Partition-scoped MERGE into a partitioned parquet table: rows in
    ``updates`` replace existing rows with the same key; everything else in
    the touched partitions is carried over; untouched partitions are not
    rewritten (their files stay byte-identical).

    The 100 TB incremental-ingest primitive without a table format: with
    ``partitionOverwriteMode=dynamic`` the writer only replaces directories
    it writes rows into, so the rewrite cost is proportional to the
    partitions touched by the batch, not the table. A lakehouse format
    (Delta/Iceberg) refines this to file-level MERGE; the plan shape —
    anti-join existing-on-keys, union updates, clustered rewrite — is the
    same. Returns the number of partitions rewritten.
    """
    from ..fs import parquet_if_exists

    parts = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if not parts:
        return 0
    out = updates
    table = parquet_if_exists(spark, path)
    if table is not None:
        existing = table.filter(
            F.col(partition_col).isin(parts)
        )
        keep = existing.join(
            F.broadcast(updates.select(*key_cols).distinct()),
            on=key_cols,
            how="left_anti",
        )
        out = keep.unionByName(updates)
    out = out.repartition(partition_col)
    if cluster_by:
        out = out.sortWithinPartitions(partition_col, *cluster_by)
    with _partition_overwrite(spark):
        out.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    return len(parts)


class _partition_overwrite:
    """Scoped spark.sql.sources.partitionOverwriteMode=dynamic (the static
    default would wipe untouched partitions on overwrite)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", self.prev)
