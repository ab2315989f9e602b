"""Streaming dedup intake: a document stream filtered against — and
feeding — the materialized fingerprint index.

The batch entry point (operators/fingerprint_index) handles scheduled
drops; this is the continuous version: every micro-batch is deduped
within itself, anti-joined against the bucketed index with zero
index-side shuffle, its novel docs land in the accept area, and its
novel fingerprints are appended to the index so the NEXT micro-batch
(and any concurrent batch pipeline sharing the table) dedups against
them.

Replay safety has two layers:

- output: accepted docs write to ``accept_path/batch=N`` with
  overwrite, and an applied-batch marker short-circuits re-delivered
  batches (same pattern as streaming/matview).
- index: appends are tagged with the appending batch id, and the
  anti-join reads only ``batch_id < N`` — so even a batch that
  crashed AFTER its index append recomputes exactly the novel set it
  saw originally instead of finding its own fingerprints and
  emitting nothing (the subtle loss mode a naive untagged index
  has). Duplicate appended rows from the replay are harmless:
  anti-join semantics ignore multiplicity.

Beyond-reference operator (the reference's watcher is folder-poll
batch, /root/reference/dasladen/processor.py; no streaming exists).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from dasladen_spark.operators.fingerprint_index import dedup_against_index
from dasladen_spark.streaming.ingest import drain_foreach_batch


def run_streaming_dedup_intake(
    docs: DataFrame,
    index_table: str,
    accept_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "exact",
    min_shared: int = 3,
):
    """Start the intake query. ``index_table`` must exist (built once
    from history via build_fingerprint_index; an empty history frame
    works for a cold start). Accepted novel docs appear under
    ``accept_path/batch=N`` as parquet.

    ``method="winnowing"`` switches to NEAR-dup intake: within-batch
    winnowed-fingerprint clusters collapse to their min-id survivor,
    then docs sharing ``min_shared``+ winnowed fingerprints with the
    index are dropped and the admitted docs' fingerprints appended —
    the streaming sibling of the `dedup` task's winnowing method
    (same index layout, same batch-id replay discipline; an index
    table holds either whole-doc or winnowed fps, never both).

    Each micro-batch runs operators/fingerprint_index
    .dedup_against_index — the function the `dedup` task calls —
    with its batch id as ``before_batch``; only the replay marker
    and the table refresh live here."""
    os.makedirs(accept_path, exist_ok=True)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        dedup_against_index(
            batch_df,
            index_table,
            lambda novel: novel.write.mode("overwrite").parquet(
                f"{accept_path}/batch={batch_id}"
            ),
            method=method,
            id_col=id_col,
            text_col=text_col,
            min_shared=min_shared,
            before_batch=batch_id,
        )

    return _sync_index(
        docs, index_table, checkpoint,
        os.path.join(accept_path, "_last_batch"), apply,
    )


def run_streaming_ann_sync(
    vecs: DataFrame,
    index_table: str,
    checkpoint: str,
    marker_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Keep a materialized ANN index (operators/ann_index) current as
    new embeddings stream in: each micro-batch's vectors are hashed
    with the index's own family and appended into the bucket layout —
    searches in the same session see them immediately, and the
    100 TB corpus behind the index is never re-signed.

    Idempotency: an applied-batch marker skips re-delivered batches;
    a batch replayed across a crash may append duplicate posting rows,
    which search dedups by (query, neighbor) — read amplification,
    not wrong answers, and compaction reclaims it."""
    from dasladen_spark.operators.ann_index import append_to_ann_index

    os.makedirs(os.path.dirname(marker_path) or ".", exist_ok=True)
    return _sync_index(
        vecs, index_table, checkpoint, marker_path,
        lambda batch_df, _: append_to_ann_index(
            batch_df.sparkSession,
            index_table,
            batch_df,
            id_col=id_col,
            vec_col=vec_col,
        ),
    )


def _sync_index(
    stream: DataFrame, index_table: str, checkpoint: str, marker: str, apply
):
    """Drain ``stream`` through ``apply(batch_df, batch_id)``, an
    append to ``index_table``, once per batch (the applied-batch
    ``marker`` skips replays), then refresh the originating session's
    cached listing of the table: foreachBatch runs in a CLONED session
    whose writes don't refresh it."""
    orig = stream.sparkSession

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= _last_applied(marker):
            return
        apply(batch_df, batch_id)
        orig.catalog.refreshTable(index_table)
        # a sibling then a rename: a kill mid-write leaves the old
        # marker, never an empty one that no restart could parse
        with open(marker + ".tmp", "w") as fh:
            fh.write(str(batch_id))
        os.replace(marker + ".tmp", marker)

    return drain_foreach_batch(stream, sink, checkpoint)


def _last_applied(marker: str) -> int:
    if os.path.exists(marker):
        with open(marker) as fh:
            return int(fh.read().strip())
    return -1
