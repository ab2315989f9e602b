"""Bucketed-table sink — the co-located-join storage layout.

At 100 TB the single biggest recurring cost is re-shuffling the same
fact table on the same key for every join/aggregate. Bucketing pays
that shuffle once at write time: both sides stored bucketed by the
join key ⇒ SortMergeJoin with NO Exchange on either side (asserted in
tests/test_plan_shapes.py::test_bucketed_join_has_no_exchange).

Spark's bucketing requires the session catalog (`saveAsTable`); the
in-memory/derby catalog works locally, Hive/Glue/Unity in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    n_buckets: int,
    sort_cols: list[str] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by the join
    key. ``n_buckets`` should be sized so one bucket of the *final*
    table fits an executor core's working memory (rows / n_buckets ×
    row width ≲ a few hundred MB)."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *cols)
    if sort_cols:
        s = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*s)
    w.saveAsTable(table)


def compact_bucketed(
    spark: SparkSession,
    table: str,
    bucket_cols: list[str] | str,
    n_buckets: int,
    sort_cols: list[str] | str | None = None,
) -> None:
    """Rewrite a bucketed table to ONE file per bucket.

    Streaming/batch appends (fingerprint index, ANN postings) add a
    file per writing task per batch; after many batches each bucket is
    dozens of small files whose open/footer cost dominates, and the
    per-bucket sortBy guarantee no longer holds across files. This
    rewrites everything once — WITHOUT a shuffle: with auto-bucketed-
    scan pinned on, the read yields exactly one partition per bucket
    (all of that bucket's files merged), the write's required
    distribution is already satisfied, and each task writes exactly
    one file; then swap via catalog rename. (Auto-bucketed-scan must
    be pinned because the planner otherwise un-buckets a joinless
    scan into arbitrary splits while STILL dropping any explicit
    repartition as redundant against the table's bucket metadata —
    yielding splits × buckets small files, the opposite of
    compaction.)

    The swap is drop-then-rename: a crash in between leaves the
    compacted twin under ``{table}__compact`` with all data — re-run
    to finish, nothing is lost (appends arriving DURING compaction
    are the one thing this doesn't defend; pause the stream or
    schedule compaction between drains, as any table-maintenance job
    does)."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    tmp = f"{table}__compact"
    # crash recovery: died between DROP and RENAME → the twin holds
    # ALL the data and the live name is gone; finish the rename so a
    # re-run (and every reader) sees the table again before anything
    # touches spark.table(table)
    if not spark.catalog.tableExists(table):
        if spark.catalog.tableExists(tmp):
            spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
            spark.catalog.refreshTable(table)
            return
        raise ValueError(f"compact_bucketed: no such table {table!r}")
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(auto_key)
    spark.conf.set(auto_key, "false")
    try:
        w = spark.table(table).write.format("parquet").bucketBy(
            n_buckets, *cols
        )
        if sort_cols:
            s = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
            w = w.sortBy(*s)
        w.saveAsTable(tmp)
    finally:
        spark.conf.set(auto_key, prev)
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    spark.catalog.refreshTable(table)
