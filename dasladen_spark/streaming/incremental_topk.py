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

from pyspark.sql import DataFrame

from dasladen_spark.operators.ranking import rank_per_query
from dasladen_spark.operators.similarity import cosine_topk
from dasladen_spark.streaming.matview import maintain_snapshot


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
    crash-safe through the incremental matview's staged snapshot,
    which carries its applied-batch marker)."""

    def merge(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
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
        return merge_topk(prev, scores, k)

    maintain_snapshot(stream, snapshot_path, checkpoint, merge)
