"""Streaming corpus intake — quality-gated document ingestion.

The batch corpus-cleanup pipeline (plans/text.py text_corpus_cleanup)
assumes the corpus already landed. This is the front door: documents
arrive continuously (crawler drops, vendor deliveries), each batch is
scored with functions/text's quality_score, token_count and
fingerprint — the Column functions the batch pipeline uses — and
rows are routed exactly-once to an accept area or a quarantine area
with a reject reason. Because scoring is pure Column code,
accept/reject decisions are identical whether a document arrives in
a stream batch or a backfill — no train-time / ingest-time skew. The
decontaminate gate likewise runs the `decontaminate` task's
operators/decontaminate functions per micro-batch.

Scale notes: the scorer is stateless per-row (no watermark, no state
store); exactly-once comes from the file-sink + checkpoint contract
of foreachBatch with idempotent overwrite-by-batch-id partitions.
Routing writes each micro-batch once per destination (two filtered
writes over one cached batch), not one job per reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dasladen_spark.functions.text import (
    fingerprint,
    quality_score,
    token_count,
)
from dasladen_spark.streaming.ingest import drain_foreach_batch


def score_documents(
    df: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.3,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
) -> DataFrame:
    """Append intake columns: quality, n_tokens, fingerprint, accept,
    reject_reason. Pure Column expressions — usable identically on a
    static frame or a stream."""
    q = quality_score(F.col(text_col))
    nt = token_count(F.col(text_col))
    reason = (
        F.when(nt < min_tokens, F.lit("too_short"))
        .when(nt > max_tokens, F.lit("too_long"))
        .when(q < min_quality, F.lit("low_quality"))
        .otherwise(F.lit(None))
    )
    return (
        df.withColumn("quality", q)
        .withColumn("n_tokens", nt)
        .withColumn("fingerprint", fingerprint(F.col(text_col)))
        .withColumn("reject_reason", reason)
        .withColumn("accept", F.col("reject_reason").isNull())
    )


def stream_document_folder(
    spark: SparkSession,
    path: str,
    schema: str = "doc_id long, text string, lang string, source string",
) -> DataFrame:
    """readStream over a folder of JSON-lines document drops (the
    crawler-delivery layout); explicit schema as streaming requires."""
    return spark.readStream.schema(schema).json(path)


def run_quality_gate(
    docs: DataFrame,
    accept_path: str,
    quarantine_path: str,
    checkpoint: str,
    min_quality: float = 0.3,
    min_tokens: int = 5,
    text_col: str = "text",
):
    """Route a document stream through the quality gate exactly once:
    accepted rows land under ``accept_path``, rejects (with their
    reason) under ``quarantine_path``. One scoring pass per
    micro-batch; two filtered parquet writes partitioned by batch id
    so a replayed batch overwrites itself (idempotent restart)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        scored = score_documents(
            batch_df,
            text_col=text_col,
            min_quality=min_quality,
            min_tokens=min_tokens,
        ).persist()
        try:
            scored.filter("accept").drop(
                "accept", "reject_reason"
            ).write.mode("overwrite").parquet(f"{accept_path}/batch={batch_id}")
            scored.filter(~F.col("accept")).drop("accept").write.mode(
                "overwrite"
            ).parquet(f"{quarantine_path}/batch={batch_id}")
        finally:
            scored.unpersist()

    return drain_foreach_batch(docs, sink, checkpoint)


def run_decontaminate_gate(
    docs: DataFrame,
    bench_df: DataFrame,
    accept_path: str,
    quarantine_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    min_hits: int = 1,
    scratch: list | None = None,
    method: str = "ngrams",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
):
    """Benchmark decontamination at INGESTION: documents sharing at
    least ``min_hits`` distinct word n-grams with the (static)
    benchmark corpus quarantine immediately — eval-set leakage never
    reaches the accept area. ``method="semantic"`` matches embedding
    vectors within ``threshold`` cosine instead (the batch task's
    method: semantic). Writes are batch-id partitioned overwrites,
    the exactly-once contract of run_quality_gate.

    Batch parity by construction: the bench side, each micro-batch's
    hits and the accept/quarantine split are operators/decontaminate's
    decontamination_bench, decontamination_hits and route_on_hits, and
    the id guard is operators/quality.require_unique_ids — what
    tasks.run_decontaminate calls — so a doc is quarantined here IFF
    the batch task would have dropped it. The bench side is persisted
    once and broadcast into every micro-batch: pass a ``scratch`` list
    and unpersist its entries after the query stops, or it outlives
    the stream."""
    from dasladen_spark.operators.decontaminate import (
        decontamination_bench,
        decontamination_hits,
        route_on_hits,
    )
    from dasladen_spark.operators.quality import require_unique_ids

    bench = decontamination_bench(
        bench_df,
        method,
        "decontaminate gate",
        text_col=text_col,
        n=ngram,
        id_col=id_col,
        vec_col=vec_col,
        bench_id_col=bench_id_col,
        bench_vec_col=bench_vec_col,
    ).persist()
    if scratch is not None:
        scratch.append(bench)
    bench.count()  # materialize once, before the stream starts

    def sink(raw_batch: DataFrame, batch_id: int) -> None:
        # one materialization per micro-batch: the id guard, the hit
        # join, and both routed writes would otherwise each re-read
        # and re-parse the batch's input files (4 scans instead of 1
        # — run_quality_gate's persist discipline)
        batch_df = raw_batch.persist()
        try:
            # a NULL id would slip a contaminated doc past the
            # anti-join into the accept area, and duplicate ids merge
            # gram counts across docs before min_hits — both must kill
            # the query, not silently leak
            require_unique_ids(
                batch_df, id_col, "decontaminate gate (one micro-batch)",
                " — a NULL or duplicated id would silently leak or"
                " over-drop documents",
            )
            hits = decontamination_hits(
                batch_df,
                bench,
                method,
                text_col=text_col,
                id_col=id_col,
                n=ngram,
                min_hits=min_hits,
                vec_col=vec_col,
                threshold=threshold,
            )
            route_on_hits(
                batch_df,
                hits,
                id_col,
                lambda clean: clean.write.mode("overwrite").parquet(
                    f"{accept_path}/batch={batch_id}"
                ),
                lambda dropped: dropped.write.mode("overwrite").parquet(
                    f"{quarantine_path}/batch={batch_id}"
                ),
            )
        finally:
            batch_df.unpersist()

    return drain_foreach_batch(docs, sink, checkpoint)
