"""Streaming Naive-Bayes model maintenance — the classifier stays
fresh as labeled documents stream in.

The NB model (operators/classify) is two additive tables: per-
(token, label) occurrence counts and per-label document counts. Both
are exactly the shape run_incremental_matview maintains — per-key
sum-combinable aggregates merged batch-by-batch into a crash-safe
parquet snapshot (write-aside + bak-swap + applied-batch marker, see
streaming/matview). So a labeled intake stream keeps the model
current at per-batch cost O(|batch tokens|), and
``nb_model_from_snapshots`` rehydrates (token_counts, label_stats)
frames that score EXACTLY like a from-scratch nb_train over
everything the stream has delivered — proven by the batch-parity
test.

Contract: delivered doc ids must be unique (run the stream through
the dedup intake first — streaming/indexsync) — nb_train joins
labels on doc_id, so duplicated ids would square their token counts
there while merely doubling here, breaking the parity.

This completes the incrementality set: fingerprint index (dedup),
ANN index (similarity), matview (aggregates), model counts
(classification).

Beyond-reference operator (the reference's watcher is folder-poll
batch, /root/reference/dasladen/processor.py; no streaming exists).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dasladen_spark.functions.text import tokens_col
from dasladen_spark.streaming.matview import run_incremental_matview


def run_streaming_nb_counts(
    docs: DataFrame,
    counts_path: str,
    checkpoint: str,
    text_col: str = "text",
    label_col: str = "label",
) -> None:
    """Maintain the (token, label) occurrence-count snapshot from a
    labeled document stream. One explode per batch; the merge
    shuffles only the batch's (token, label) keys."""
    toks = docs.select(
        F.explode(tokens_col(text_col)).alias("tok"),
        F.col(label_col).alias("label"),
    )
    run_incremental_matview(
        toks, counts_path, checkpoint, ["tok", "label"], {"cnt": "count(1)"}
    )


def run_streaming_nb_docs(
    docs: DataFrame,
    docs_path: str,
    checkpoint: str,
    label_col: str = "label",
) -> None:
    """Maintain the per-label document-count snapshot."""
    run_incremental_matview(
        docs.select(F.col(label_col).alias("label")),
        docs_path,
        checkpoint,
        ["label"],
        {"n_docs": "count(1)"},
    )


def nb_model_from_snapshots(
    spark: SparkSession, counts_path: str, docs_path: str
) -> tuple[DataFrame, DataFrame]:
    """(token_counts, label_stats) frames rehydrated from the two
    snapshots — drop-in model inputs for operators/classify.nb_score,
    and bit-identical to nb_train over the full delivered corpus
    (additive merges commute with global aggregation)."""
    token_counts = spark.read.parquet(counts_path).select(
        "tok", "label", F.col("cnt").cast("bigint").alias("cnt")
    )
    doc_counts = spark.read.parquet(docs_path).select(
        "label", F.col("n_docs").cast("bigint").alias("n_docs")
    )
    vocab = token_counts.select(F.count_distinct("tok").alias("vocab"))
    label_stats = (
        token_counts.groupBy("label")
        .agg(F.sum("cnt").alias("tot_occ"))
        .join(doc_counts, "label")
        .crossJoin(F.broadcast(vocab))
    )
    return token_counts, label_stats
