"""Incrementally-maintained materialized view over a stream.

The lakehouse 'upsert sink': each micro-batch's per-key aggregates
are combined into a parquet snapshot, so readers always see one row
per key covering everything ingested so far.

Exactly-once: foreachBatch can REPLAY a batch after a crash between
the snapshot write and the checkpoint commit; an additive combine
would double-count it. Each committed snapshot therefore carries the
id of the last batch it applied, in a ``_last_batch`` file inside its
own folder (Spark's listing skips names starting with ``_``), and a
batch at or below that id is skipped — the standard
idempotent-foreachBatch pattern. Data and marker are written into one
stage and swapped in by one rename through sinks/commit, whose
recovery step puts a killed swap right before the next batch reads
the marker. On a transactional format (Delta/Iceberg) the txn id in
MERGE plays this role; the dataflow is unchanged.

At 100 TB the full snapshot rewrite is the cost driver; swapping the
parquet read/write for a Delta MERGE turns it into a file-level
upsert, keeping everything else.
"""

from __future__ import annotations

from contextlib import closing
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dasladen_spark.sinks.commit import recover, replace_dir
from dasladen_spark.streaming.ingest import drain_foreach_batch

#: the applied-batch marker's name inside a committed snapshot
_MARKER = "_last_batch"


def maintain_snapshot(
    stream: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    merge: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> None:
    """Drain ``stream`` into the parquet snapshot at ``snapshot_path``,
    replacing it per batch with ``merge(previous snapshot or None,
    batch)`` plus the batch's marker; a replayed batch is skipped."""
    spark = stream.sparkSession
    Path = spark._jvm.org.apache.hadoop.fs.Path
    snapshot = Path(snapshot_path)
    marker = Path(snapshot, _MARKER)
    fs = snapshot.getFileSystem(spark._jsc.hadoopConfiguration())

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        recover(spark, snapshot_path)  # a killed swap may have parked the marker
        if fs.exists(marker):
            with closing(fs.open(marker)) as applied:
                if batch_id <= applied.readLong():
                    return  # replay of an already-applied batch
        prev = spark.read.parquet(snapshot_path) if fs.exists(snapshot) else None
        merged = merge(prev, batch_df)

        def write(stage: str) -> None:
            # the stage is fully written while prev is still readable
            merged.write.parquet(stage)
            with closing(fs.create(Path(stage, _MARKER))) as out:
                out.writeLong(batch_id)

        replace_dir(spark, snapshot_path, write)

    drain_foreach_batch(stream, sink, checkpoint).awaitTermination()


def run_incremental_matview(
    stream: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    key_cols: list[str] | str,
    agg_exprs: dict[str, str],
    combine: dict[str, str] | None = None,
) -> None:
    """Maintain per-key MERGEABLE aggregates of ``stream`` in a
    parquet snapshot. ``agg_exprs`` maps output column → SQL
    aggregate over the batch (e.g. {"n": "count(1)",
    "total": "sum(value)"}); ``combine`` maps a column to the
    function merging a batch value into the snapshot value (default
    "sum" — counts/sums; "max"/"min" for bucket-maximum sketches
    like the HLL table, where the merge is additionally idempotent).

    Merging batch aggregates (not raw rows) keeps the shuffle to the
    batch's key set; the result equals a full batch recompute."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    combine_fn = {c: (combine or {}).get(c, "sum") for c in agg_exprs}

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        batch_agg = batch_df.groupBy(*keys).agg(
            *[F.expr(e).alias(c) for c, e in agg_exprs.items()]
        )
        if prev is None:
            return batch_agg
        return (
            prev.unionByName(batch_agg)
            .groupBy(*keys)
            .agg(*[F.expr(f"{combine_fn[c]}({c})").alias(c) for c in agg_exprs])
        )

    maintain_snapshot(stream, snapshot_path, checkpoint, merge)


def run_streaming_upsert(
    stream: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    key_cols: list[str] | str,
    version_col: str,
) -> None:
    """Last-write-wins keyed upsert of a change stream into a parquet
    snapshot — the CDC-apply sink: readers always see exactly one row
    per key, the one with the highest ``version_col`` (ties broken
    toward the incoming batch, i.e. later appearance wins).

    Exactly-once via the same applied-batch marker as the matview
    (replays skip); per batch the work is one key shuffle over
    batch ∪ snapshot keys. On a transactional table format the union+
    window collapses to MERGE WHEN MATCHED — dataflow unchanged."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        # collapse the batch itself first (a key may change twice in
        # one batch); __src=1 marks incoming rows so they beat equal
        # versions already in the snapshot
        merged = batch_df.withColumn("__src", F.lit(1))
        if prev is not None:
            merged = prev.withColumn("__src", F.lit(0)).unionByName(merged)
        w = Window.partitionBy(*keys).orderBy(
            F.col(version_col).desc(), F.col("__src").desc()
        )
        return (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )

    maintain_snapshot(stream, snapshot_path, checkpoint, merge)
