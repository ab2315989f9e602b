"""Streaming maintenance of cross-source score-normalization state.

The quantile-normalization mapping (operators/scoring) is derived
entirely from the (group, score) COUNT table — an additive aggregate.
So the streaming story needs no new state machinery: micro-batches
fold their counts into the crash-safe incremental matview snapshot
(streaming/matview — a staged swap that carries its applied-batch
marker, replay idempotent), and the mapping rebuilds exactly from the snapshot at
read time. A normalization built this way equals a from-scratch
build over every row ever delivered — the same additive-sketch
design as the NB model sync (streaming/modelsync) and the fingerprint
index (streaming/indexsync).

Beyond-reference operator (the reference's watcher is folder-poll
batch, /root/reference/dasladen/processor.py; no streaming exists).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dasladen_spark.functions.text import quality_score
from dasladen_spark.operators.scoring import quantile_normalize_map_from_counts
from dasladen_spark.streaming.matview import run_incremental_matview


def run_streaming_score_counts(
    docs: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    group_col: str = "source",
    text_col: str = "text",
) -> None:
    """Drain a document stream into the additive (group, quality)
    count snapshot. Scoring is the same Column expression the batch
    queries and the intake gate use (functions/text.quality_score);
    NULL-text or NULL-group rows are dropped here for the same reason
    the batch operator drops them — they must not enter the CDFs.
    Replay-safe via the applied-batch marker inside the matview snapshot."""
    from dasladen_spark.operators.scoring import _check_names

    # fail BEFORE any state accumulates: a reserved group name ('c'
    # also collides with the snapshot's count column) would otherwise
    # only surface at the first mapping read or snapshot write,
    # stranding a populated snapshot behind a rename migration
    _check_names(group_col, "quality")
    scored = docs.select(
        F.col(group_col), quality_score(F.col(text_col)).alias("quality")
    ).filter(F.col(group_col).isNotNull() & F.col("quality").isNotNull())
    run_incremental_matview(
        scored,
        snapshot_path,
        checkpoint,
        [group_col, "quality"],
        {"c": "count(1)"},
    )


def normalization_mapping(
    spark: SparkSession, snapshot_path: str, group_col: str = "source"
) -> DataFrame:
    """The inverse-CDF mapping derived from the maintained snapshot —
    (group, quality, c, nq), broadcastable onto any corpus. Exactly
    equals quantile_normalize_map over the union of all delivered
    batches (counts are additive; the mapping is a pure function of
    the counts). ``snapshot_path`` may name any Hadoop scheme — it is
    checked through its own ``FileSystem``, as the matview writes it."""
    snapshot = spark._jvm.org.apache.hadoop.fs.Path(snapshot_path)
    fs = snapshot.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(snapshot):
        raise FileNotFoundError(
            f"no score-count snapshot at {snapshot_path!r} — no batch has"
            " committed yet (run_streaming_score_counts must drain at"
            " least one non-empty micro-batch first)"
        )
    # localize=False: the snapshot is already a materialized tiny
    # parquet table — re-reading it per ECDF branch is cheaper than a
    # driver round-trip, exactly the case the operator's knob names
    return quantile_normalize_map_from_counts(
        spark.read.parquet(snapshot_path), group_col, "quality",
        localize=False,
    )
