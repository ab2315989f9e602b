"""Materialized fingerprint index — incremental dedup against history.

The exact-dedup operators (operators/dedup.exact_dedup, plans/dedup) all
assume the WHOLE corpus is in the frame being deduplicated. That is the
wrong shape for a production intake pipeline: the history is ~100 TB
and only a small daily batch arrives. Re-shuffling the full history on
its fingerprint for every batch — which a naive
``batch.join(history, "fp", "left_anti")`` does — is the single cost
this module removes.

``build_fingerprint_index`` pays the history shuffle ONCE: distinct
document fingerprints are persisted as a parquet table BUCKETED and
sorted by ``fp`` (sinks/bucketed.write_bucketed). After that, each
batch anti-joins against the index with a sort-merge join in which the
history side has ZERO Exchange (asserted in
tests/test_plan_shapes.py::test_fingerprint_index_anti_join_no_history_shuffle)
— only the batch (the small side) shuffles, into the index's bucket
layout. ``append_to_index`` then adds the batch's novel fingerprints so
the next batch sees them: the steady-state cost per batch is
O(|batch|) shuffle + a bucketed append, independent of history size.

Beyond-reference operator (the reference delegates all query power to
an RDBMS, /root/reference/dasladen/task.py:94-107).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dasladen_spark.functions.text import fingerprint
from dasladen_spark.operators.ann_index import _drop_orphan_location
from dasladen_spark.sinks.bucketed import write_bucketed


def build_fingerprint_index(
    history: DataFrame,
    table: str,
    text_col: str = "text",
    n_buckets: int = 16,
    tag: str = "",
) -> None:
    """One-time build: fingerprint every history document, distinct,
    and persist bucketed+sorted by ``fp``. ``n_buckets`` sizes the
    layout so one bucket fits an executor core (at 100 TB of history
    use thousands; the spec is append-stable so it must be chosen for
    the final size up front). ``tag`` names the history snapshot for
    ``ensure_fingerprint_index``."""
    _write_index(
        history.select(fingerprint(F.col(text_col)).alias("fp")),
        table,
        n_buckets,
        tag,
    )


def _write_index(fps: DataFrame, table: str, n_buckets: int, tag: str) -> None:
    """Write the distinct ``fp`` values of ``fps`` as a fresh index
    table, plus its ``{table}_meta`` row."""
    spark = fps.sparkSession
    for suffix in ("", "_meta"):
        _drop_orphan_location(spark, table + suffix)
    fps = (
        fps.select("fp")
        .distinct()
        # batch_id -1 = "history baseline"; streaming appends tag
        # their rows so a replayed micro-batch can reconstruct the
        # exact index state it originally saw (batch_id < its own)
        .withColumn("batch_id", F.lit(-1).cast("long"))
    )
    write_bucketed(fps, table, "fp", n_buckets, sort_cols="fp")
    spark.createDataFrame(
        [(tag, n_buckets)], "tag STRING, n_buckets INT"
    ).write.mode("overwrite").saveAsTable(f"{table}_meta")


def ensure_fingerprint_index(
    history: DataFrame, table: str, tag: str, **kwargs
) -> str:
    """Idempotent entry point: build only if absent, under a
    snapshot-hashed PHYSICAL name (operators/snapshot) so a different
    history snapshot builds a different table instead of destructively
    overwriting this one — concurrent runs over two snapshots can
    share a warehouse. Returns the physical name and publishes the
    ``{table}_ptr`` pointer so later tasks can probe/append by the
    logical name."""
    from dasladen_spark.operators.snapshot import (
        publish_pointer,
        snapshot_name,
    )

    spark = history.sparkSession
    phys = snapshot_name(
        table, tag, f"n_buckets={kwargs.get('n_buckets', 16)}"
    )
    if not (
        spark.catalog.tableExists(phys)
        and spark.catalog.tableExists(f"{phys}_meta")
    ):
        build_fingerprint_index(history, phys, tag=tag, **kwargs)
    publish_pointer(spark, table, phys)
    return phys


def novel_against_index(
    spark: SparkSession,
    table: str,
    batch: DataFrame,
    text_col: str = "text",
    before_batch: int | None = None,
) -> DataFrame:
    """Batch rows whose fingerprint is NOT in the index (plus the
    computed ``fp`` column, so callers can append it back). If the
    batch already carries an ``fp`` column it is trusted as-is.

    ``before_batch`` restricts the index to rows appended by earlier
    batches (``batch_id < before_batch``) — the replay-determinism
    hook: a re-executed micro-batch N sees exactly the index state it
    saw the first time, even if its own append already landed.

    The ``merge`` hint pins the sort-merge anti join even when the
    index is small enough to broadcast locally — broadcasting 100 TB
    of history is exactly the plan this operator exists to avoid, and
    the SMJ reads the bucketed index in place: no history-side
    Exchange, the batch alone shuffles into the bucket layout."""
    b = batch
    if "fp" not in b.columns:
        b = b.withColumn("fp", fingerprint(F.col(text_col)))
    return b.join(_index_fps(spark, table, before_batch), "fp", "left_anti")


def _index_fps(
    spark: SparkSession, table: str, before_batch: int | None
) -> DataFrame:
    """The index's ``fp`` column, as of ``before_batch`` if given,
    hinted to the sort-merge join that reads the buckets in place."""
    from dasladen_spark.operators.snapshot import resolve_snapshot

    hist = spark.table(resolve_snapshot(spark, table))
    if before_batch is not None:
        hist = hist.filter(F.col("batch_id") < before_batch)
    return hist.select("fp").hint("merge")


def append_to_index(
    spark: SparkSession, table: str, novel: DataFrame, batch_id: int = 0
) -> None:
    """Add a batch's novel fingerprints so subsequent batches dedup
    against them too, tagged with the appending batch's id (replayed
    appends may duplicate rows — harmless for anti-join semantics,
    and ``before_batch`` filtering keeps replays deterministic).
    Parquet bucketed tables append per-job bucket files (the bucket
    spec is fixed at create time); periodic compaction of many small
    per-batch files is the same maintenance any streaming bucketed
    sink needs."""
    from dasladen_spark.operators.snapshot import resolve_snapshot

    table = resolve_snapshot(spark, table)
    n_buckets = spark.table(f"{table}_meta").collect()[0]["n_buckets"]
    rows = (
        novel.select("fp")
        .distinct()
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
    )
    write_bucketed(rows, table, "fp", n_buckets, sort_cols="fp", mode="append")


def build_winnowed_fingerprint_index(
    history: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    tag: str = "",
) -> None:
    """One-time build of a WINNOWED fingerprint index: every history
    document contributes its winnowed k-gram fingerprints (many per
    doc — operators/dedup winnow_fingerprints), distinct, persisted
    in the same bucketed+sorted layout as the exact index so
    ``dedup_against_index``'s winnowing arm and ``append_to_index``
    work unchanged. Keep winnowed and whole-doc indexes in separate
    tables — the fp semantics differ."""
    from dasladen_spark.operators.dedup import winnow_fingerprints

    _write_index(
        winnow_fingerprints(history, id_col=id_col, text_col=text_col),
        table,
        n_buckets,
        tag,
    )


def dedup_against_index(
    batch: DataFrame,
    index: str | None,
    write: Callable[[DataFrame], Any],
    method: str = "exact",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 3,
    before_batch: int | None = None,
    update_index: bool = True,
) -> Any:
    """Dedup one batch within itself and, when ``index`` names a table,
    against that index; pass the survivors to ``write`` and return its
    result. The `dedup` task's exact/winnowing arms and the streaming
    dedup intake's sink are both this function.

    ``exact`` keeps the lowest ``id_col`` per whole-document
    fingerprint; ``winnowing`` keeps each winnowed-fingerprint
    cluster's min id and drops docs sharing ``min_shared``+
    fingerprints with the index (a table dedicated to winnowed fps:
    the history probe is a left-semi sort-merge join reading the
    bucketed index in place, and the hit count aggregates batch-sized
    rows only). ``before_batch`` (the stream's batch
    id) is the replay filter and the append tag (else 0). Survivors
    are persisted across the write and the append: the anti-join is
    lazy, and appending first would filter this batch against its own
    fingerprints. Every frame cached here is unpersisted on exit."""
    from dasladen_spark.operators.dedup import (
        exact_dedup,
        winnow_fingerprints,
        winnowing_pairs,
    )
    from dasladen_spark.operators.graph import dedup_clusters

    spark = batch.sparkSession
    scratch: list = []
    try:
        if method == "winnowing":
            pairs = winnowing_pairs(
                batch, id_col=id_col, text_col=text_col,
                min_shared=min_shared, scratch=scratch,
            )
            drop = (
                dedup_clusters(pairs, "doc_a", "doc_b")
                .filter(F.col("member") != F.col("survivor"))
                .select(F.col("member").alias(id_col))
            )
            surv = batch.join(drop, id_col, "left_anti")
            if not index:
                return write(surv)
            fps = winnow_fingerprints(surv, id_col=id_col, text_col=text_col)
            hits = (
                fps.join(_index_fps(spark, index, before_batch), "fp", "left_semi")
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("_n_hits"))
                .filter(F.col("_n_hits") >= min_shared)
                .select(id_col)
            )
            out = surv.join(hits, id_col, "left_anti")
            fps = fps.join(hits, id_col, "left_anti")
            scratch += [out.persist(), fps.persist()]
        else:
            keyed = exact_dedup(
                batch.withColumn("fp", fingerprint(F.col(text_col))),
                ["fp"],
                id_col,
            )
            if not index:
                return write(keyed.drop("fp"))
            fps = novel_against_index(
                spark, index, keyed, before_batch=before_batch
            )
            scratch.append(fps.persist())
            out = fps.drop("fp")
        result = write(out)
        if update_index:
            append_to_index(
                spark, index, fps,
                batch_id=0 if before_batch is None else before_batch,
            )
        return result
    finally:
        for c in scratch:
            c.unpersist()


def compact_fingerprint_index(spark: SparkSession, table: str) -> None:
    """One file per bucket again after many per-batch appends (see
    sinks/bucketed.compact_bucketed for the swap semantics)."""
    from dasladen_spark.sinks.bucketed import compact_bucketed

    n_buckets = spark.table(f"{table}_meta").collect()[0]["n_buckets"]
    compact_bucketed(spark, table, "fp", n_buckets, sort_cols="fp")
