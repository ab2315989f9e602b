"""Incrementally-maintained top-k similarity — streaming ANN.

(Pattern per the incremental top-k similarity search literature:
maintain each query's k best neighbors as corpus vectors ARRIVE,
instead of rescanning the corpus per batch.)

Each micro-batch of new corpus vectors is scored against the (small,
broadcast) query set only; the per-query top-k snapshot is then the
top-k of (previous snapshot ∪ batch results) — a merge over ≤ 2k rows
per query, independent of corpus size. Total work per batch:
|batch| × |queries| scoring + a tiny merge, vs |corpus| × |queries|
for recompute.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from dasladen_spark.operators.ranking import rank_per_query
from dasladen_spark.operators.similarity import cosine_topk
from dasladen_spark.streaming.ingest import drain_foreach_batch
from dasladen_spark.streaming.matview import (
    _commit_snapshot,
    _last_applied,
    _recover_snapshot,
)


def merge_topk(
    snapshot: DataFrame | None, batch_scores: DataFrame, k: int
) -> DataFrame:
    """Per-query top-k of snapshot ∪ new scores (dedup on neighbor,
    deterministic cosine/neighbor ordering)."""
    combined = (
        snapshot.select("query_id", "neighbor_id", "cosine").unionByName(
            batch_scores.select("query_id", "neighbor_id", "cosine")
        )
        if snapshot is not None
        else batch_scores.select("query_id", "neighbor_id", "cosine")
    )
    return rank_per_query(
        combined.dropDuplicates(["query_id", "neighbor_id"]), "cosine", k
    )


def run_incremental_topk(
    stream: DataFrame,
    queries: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Maintain per-query top-k cosine neighbors over a stream of
    corpus vectors, parquet-snapshotted per batch (exactly-once and
    crash-safe via the incremental matview's write-aside swap and
    applied-batch marker)."""
    spark = stream.sparkSession
    marker = snapshot_path + ".last_batch"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _recover_snapshot(snapshot_path)
        if batch_id <= _last_applied(marker):
            return
        scores = cosine_topk(
            queries,
            batch_df,
            k=k,
            query_id=id_col,
            query_vec=vec_col,
            corpus_id=id_col,
            corpus_vec=vec_col,
            exclude_self=True,
        )
        prev = (
            spark.read.parquet(snapshot_path)
            if os.path.exists(snapshot_path)
            else None
        )
        merged = merge_topk(prev, scores, k)
        merged.write.mode("overwrite").parquet(snapshot_path + ".tmp")
        _commit_snapshot(snapshot_path, marker, batch_id)

    drain_foreach_batch(stream, sink, checkpoint).awaitTermination()
