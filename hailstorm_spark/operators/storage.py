"""Storage-layout operators: bucketing, partitioned writes, compaction.

The reference has no storage layer at all (its only persistence is the
snapshot store, reference src/Hailstorm/SnapshotStore/DirSnapshotStore.hs:21-44).
At 100 TB, layout IS the query plan: a join between two tables bucketed
on the join key needs NO exchange on either side, and a filter on a
partition column prunes directories before any IO. These helpers make
that discipline one call each; tests/test_storage.py pins the resulting
plans (zero Exchange for the co-located join, PartitionFilters for the
pruned scan).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    by: str | list[str],
    buckets: int,
    sort_by: str | list[str] | None = None,
) -> None:
    """Persist a DataFrame bucketed (and optionally sorted) on the join/
    aggregation key. Readers via ``spark.table(table)`` inherit the
    bucketing: joins and groupBys on the bucket key skip their shuffle
    entirely (plan has no Exchange). Bucket count is fixed at write
    time — pick it for the target cluster's parallelism, and keep it
    EQUAL across tables meant to co-join.
    """
    by = [by] if isinstance(by, str) else list(by)
    w = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, *by)
    )
    if sort_by is not None:
        sort_by = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def write_partitioned(df: DataFrame, path: str, by: str | list[str]) -> None:
    """Hive-style partitioned parquet: one directory per distinct value
    of the partition column(s). Equality/range predicates on those
    columns become PartitionFilters — pruned before any file IO.
    Partition columns must be low-cardinality (day, region, source —
    never a high-cardinality id: millions of tiny directories are the
    classic 100 TB self-inflicted wound)."""
    by = [by] if isinstance(by, str) else list(by)
    df.write.mode("overwrite").partitionBy(*by).parquet(path)


def compact_parquet(
    spark: SparkSession, path: str, target_bytes: int = 512 * 1024 * 1024
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_size / target_bytes) files. Streaming sinks and
    fine-grained ingestion leave thousands of KB-sized files; scans pay
    per-file open cost and the driver pays per-file listing. Returns
    the output file count. (At warehouse scale, prefer table formats
    with transactional compaction; this is the plain-parquet form.)"""
    import shutil

    bak = path.rstrip("/") + ".compact.bak"
    tmp = path.rstrip("/") + ".compact.tmp"
    # crash recovery from a previous interrupted swap: if only the
    # backup survives, the crash hit between the two renames — restore
    # it; if both exist, the swap completed and the backup is stale.
    if os.path.exists(bak):
        if not os.path.exists(path):
            os.rename(bak, path)
        else:
            shutil.rmtree(bak)
    total = 0
    for root, dirs, files in os.walk(path):
        for d in dirs:
            if "=" in d:
                raise ValueError(
                    f"{path} is hive-partitioned ({d}); compacting would "
                    "flatten partition columns and destroy pruning — "
                    "compact each partition directory instead"
                )
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    df.repartition(n).write.mode("overwrite").parquet(tmp)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    return n


def write_range_sorted(
    df: DataFrame, path: str, by: str, partitions: int | None = None
) -> None:
    """Globally range-sorted parquet: repartitionByRange + in-partition
    sort, so file k's values all precede file k+1's (parquet min/max
    row-group stats then give range-pruning on the sort column for
    free, and merge-reads stay sequential). This is the write-side
    twin of bucketing: bucketing optimizes equi-joins, range-sorting
    optimizes range scans and ordered exports."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, by)
        .sortWithinPartitions(by)
        .write.mode("overwrite")
        .parquet(path)
    )


def upsert_partitioned(
    df: DataFrame, path: str, by: str | list[str]
) -> None:
    """Incremental upsert into a hive-partitioned parquet dataset via
    DYNAMIC partition overwrite: only the partitions present in ``df``
    are rewritten; every other partition's files are left untouched
    (static overwrite mode would drop the whole dataset first).

    This is the 100 TB daily-rebuild pattern: recompute one day/source
    slice and slot it in atomically per partition, instead of rewriting
    (or worse, read-modify-writing) the full table. Idempotent: re-
    running the same slice overwrites itself. The overwrite mode is a
    per-write option, so the session's conf is never touched.
    """
    by = [by] if isinstance(by, str) else list(by)
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        *by
    ).parquet(path)
