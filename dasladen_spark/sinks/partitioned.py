"""Hive-partitioned parquet layout + small-file compaction.

Partition columns in the directory layout are the cheapest predicate
there is: a filter on the partition key prunes whole directories
BEFORE any I/O (PartitionFilters in the scan, verified in
tests/test_plan_shapes.py). The companion problem at 100 TB is small
files — streaming and fine-grained partitions produce thousands of
KB-scale files whose open/footer overhead dwarfs the data; compact()
bin-packs each partition back to target-sized files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | str,
    mode: str = "overwrite",
) -> None:
    """Write parquet partitioned by the given columns (hive layout:
    ``.../col=value/part-*.parquet``). Choose LOW-cardinality keys
    (date, source, lang): each distinct value is a directory, and a
    high-cardinality key explodes the namespace and produces the
    small-file problem compact() exists to fix."""
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    df.write.mode(mode).partitionBy(*cols).parquet(path)


def compact(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    partition_cols: list[str] | str | None = None,
) -> int:
    """Rewrite a parquet dataset into ~target_mb files (per partition
    when ``partition_cols`` given). Returns the file count written.

    Sizing uses the dataset's on-disk bytes — the same estimator the
    AQE advisory partition size uses; exact file sizes depend on
    encoding but land within ~2× of target, which is what matters
    (footer-open overhead is amortized either way)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n_files = max(1, round(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compact.tmp"
    if partition_cols:
        cols = (
            [partition_cols]
            if isinstance(partition_cols, str)
            else list(partition_cols)
        )
        (
            df.repartition(n_files, *[F.col(c) for c in cols])
            .write.mode("overwrite")
            .partitionBy(*cols)
            .parquet(tmp)
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    # tmp is fully materialized before the original is touched; the
    # swap is two renames with the original parked at .bak, so a crash
    # at ANY point leaves a complete copy readable (at path or .bak) —
    # an rmtree-then-rename window would lose the canonical path
    import shutil

    bak = path.rstrip("/") + ".compact.bak"
    if os.path.exists(bak):
        shutil.rmtree(bak)
    os.rename(path, bak)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(bak, path)  # roll the original back into place
        raise
    shutil.rmtree(bak)
    written = 0
    for root, _dirs, files in os.walk(path):
        written += sum(1 for f in files if f.endswith(".parquet"))
    return written


def write_sorted(
    df: DataFrame,
    path: str,
    order_cols: list[str] | str,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Globally-sorted parquet export: range-repartition on the sort
    key, sort within each partition, write — file i's max key ≤
    file i+1's min key, with NO single-task global sort. Downstream
    readers get sorted part files (merge-readable, binary-searchable
    row groups, tight min/max column stats for pruning)."""
    cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )
