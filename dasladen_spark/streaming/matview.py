"""Incrementally-maintained materialized view over a stream.

The lakehouse 'upsert sink': each micro-batch's per-key aggregates
are combined into a parquet snapshot, so readers always see one row
per key covering everything ingested so far.

Exactly-once: foreachBatch can REPLAY a batch after a crash between
the snapshot write and the checkpoint commit; an additive combine
would double-count it. The sink therefore records the last applied
batch id next to the snapshot and skips batches it has already
applied — the standard idempotent-foreachBatch pattern. On a
transactional format (Delta/Iceberg) the txn id in MERGE plays this
role; the dataflow is unchanged.

At 100 TB the full snapshot rewrite is the cost driver; swapping the
parquet read/write for a Delta MERGE turns it into a file-level
upsert, keeping everything else.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dasladen_spark.streaming.ingest import drain_foreach_batch


def _last_applied(marker: str) -> int:
    if os.path.exists(marker):
        with open(marker) as fh:
            return int(fh.read().strip())
    return -1


#: bak-dir sentinel file recording "the pre-batch state was NO
#: snapshot" — without it, a first-batch crash between the tmp rename
#: and the marker write leaves nothing to roll back, and the replay
#: would merge the batch into its own committed-but-unmarked output
#: (double-counting every additive aggregate)
_NO_PREV = "_EMPTY_BASELINE"


def _recover_snapshot(snapshot_path: str) -> None:
    """Roll back a crash mid-swap. A lingering ``.bak.<b>`` dir means
    the commit for batch b either finished everything but its cleanup
    (marker >= b: drop the bak) or died before the marker advanced
    (marker < b: the live snapshot may be missing or an unmarked new
    version — restore the bak so the replay merges against the exact
    pre-batch state; a ``_NO_PREV`` sentinel bak restores "no
    snapshot"). A lingering ``.tmp`` is always pre-commit junk.

    Renames are atomic on a posix filesystem; on an object store the
    same invariant comes from a transactional table format (see module
    docstring) — the dataflow is unchanged."""
    marker_val = _last_applied(snapshot_path + ".last_batch")
    for bak in glob.glob(glob.escape(snapshot_path) + ".bak.*"):
        b = int(bak.rsplit(".", 1)[1])
        if marker_val >= b:
            shutil.rmtree(bak)
        else:
            if os.path.exists(snapshot_path):
                shutil.rmtree(snapshot_path)
            if os.path.exists(os.path.join(bak, _NO_PREV)):
                shutil.rmtree(bak)  # pre-batch state: no snapshot
            else:
                os.rename(bak, snapshot_path)
    tmp = snapshot_path + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)


def _commit_snapshot(snapshot_path: str, marker: str, batch_id: int) -> None:
    """Atomically promote ``snapshot_path + ".tmp"``: park the live
    snapshot at ``.bak.<batch>``, rename tmp into place, advance the
    marker, then drop the bak. A crash at ANY point leaves a complete
    copy readable and `_recover_snapshot` can tell (via the bak's batch
    id vs the marker) whether to roll forward or back — an
    overwrite-in-place window would lose keys on replay."""
    tmp = snapshot_path + ".tmp"
    bak = f"{snapshot_path}.bak.{batch_id}"
    if os.path.exists(bak):
        shutil.rmtree(bak)
    had_prev = os.path.exists(snapshot_path)
    if had_prev:
        os.rename(snapshot_path, bak)
    else:
        # sentinel bak: even the FIRST batch must leave a rollback
        # record, or a crash before the marker write replays the
        # batch into its own output (see _NO_PREV)
        os.makedirs(bak)
        with open(os.path.join(bak, _NO_PREV), "w"):
            pass
    try:
        os.rename(tmp, snapshot_path)
    except BaseException:
        if had_prev:
            os.rename(bak, snapshot_path)  # roll the original back
        else:
            shutil.rmtree(bak)
        raise
    with open(marker, "w") as fh:
        fh.write(str(batch_id))
    shutil.rmtree(bak)


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
    spark = stream.sparkSession
    marker = snapshot_path + ".last_batch"
    combine_fn = {c: (combine or {}).get(c, "sum") for c in agg_exprs}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _recover_snapshot(snapshot_path)
        if batch_id <= _last_applied(marker):
            return  # replay of an already-applied batch
        batch_agg = batch_df.groupBy(*keys).agg(
            *[F.expr(e).alias(c) for c, e in agg_exprs.items()]
        )
        if os.path.exists(snapshot_path):
            prev = spark.read.parquet(snapshot_path)
            combined = (
                prev.unionByName(batch_agg)
                .groupBy(*keys)
                .agg(
                    *[
                        F.expr(f"{combine_fn[c]}({c})").alias(c)
                        for c in agg_exprs
                    ]
                )
            )
        else:
            combined = batch_agg
        # write-aside (tmp is fully materialized while the live
        # snapshot is still being read) then two atomic renames
        combined.write.mode("overwrite").parquet(snapshot_path + ".tmp")
        _commit_snapshot(snapshot_path, marker, batch_id)

    drain_foreach_batch(stream, sink, checkpoint).awaitTermination()


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
    spark = stream.sparkSession
    marker = snapshot_path + ".last_batch"

    from pyspark.sql import Window

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _recover_snapshot(snapshot_path)
        if batch_id <= _last_applied(marker):
            return
        # collapse the batch itself first (a key may change twice in
        # one batch); __src=1 marks incoming rows so they beat equal
        # versions already in the snapshot
        incoming = batch_df.withColumn("__src", F.lit(1))
        if os.path.exists(snapshot_path):
            prev = spark.read.parquet(snapshot_path).withColumn(
                "__src", F.lit(0)
            )
            merged = prev.unionByName(incoming)
        else:
            merged = incoming
        w = Window.partitionBy(*keys).orderBy(
            F.col(version_col).desc(), F.col("__src").desc()
        )
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        latest.write.mode("overwrite").parquet(snapshot_path + ".tmp")
        _commit_snapshot(snapshot_path, marker, batch_id)

    drain_foreach_batch(stream, sink, checkpoint).awaitTermination()
