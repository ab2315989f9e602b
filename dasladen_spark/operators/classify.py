"""Distributed multinomial Naive Bayes over token counts — the
classifier-based quality-filter stage of a training-data pipeline
(the role fastText plays in CCNet/GPT-style corpus curation: train on
a labeled slice, score the whole corpus, keep what clears the bar).

Spark-first shape:

- **train** = two map-side-combined aggregations over the labeled
  slice (per-(token,label) occurrence counts + per-label totals);
  the model IS a DataFrame keyed by token, so it scales to any
  vocabulary — nothing is collected.
- **score** = explode corpus tokens → distinct (doc, token, n_occ) →
  one token-keyed join against the model (broadcast when the model
  fits, co-keyed shuffle otherwise) → per-doc log-likelihood sums.
  The join touches distinct (doc, token) pairs, not occurrences.

Determinism discipline (same as plans/text): each per-token
log-likelihood is ONE double expression rounded to 12 decimals;
per-doc sums accumulate in DECIMAL(38,18), so the scores are
bit-identical under any partitioning — and exactly reproducible by
the DuckDB oracle in plans/text.

Beyond-reference operator (the reference delegates all query power
to an RDBMS, /root/reference/dasladen/task.py:94-107).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dasladen_spark.functions.text import tokens_col
from dasladen_spark.operators.snapshot import ensure


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(text_col)).alias("tok"),
    )


def nb_train(
    labeled: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
) -> tuple[DataFrame, DataFrame]:
    """Fit the model. Returns (token_counts, label_stats):

    - token_counts: (tok, label, cnt) occurrence counts
    - label_stats:  (label, tot_occ, n_docs) + a ``vocab`` column
      (train-wide distinct token count, the Laplace denominator)

    Both are DataFrames — the model lives where the data lives.
    ``labeled`` rows must carry unique ids: the token→label
    attachment joins on ``id_col``, so a duplicated id would
    multiply its token counts."""
    toks = _tokens(labeled, id_col, text_col).join(
        labeled.select(F.col(id_col).alias("doc_id"), F.col(label_col)),
        "doc_id",
    )
    # ONE pass over the exploded tokens; vocabulary size and per-label
    # occurrence totals both derive from the (much smaller) counts
    # table, and doc counts from the unexploded input — so training
    # reads the corpus text exactly once per action. Everything stays
    # LAZY (the vocabulary size joins in as a 1-row frame): no hidden
    # persist for the caller to leak — callers that score many
    # batches should .persist() the returned model frames themselves.
    token_counts = toks.groupBy("tok", label_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vocab = token_counts.select(
        F.count_distinct("tok").alias("vocab")
    )
    occ_totals = token_counts.groupBy(label_col).agg(
        F.sum("cnt").alias("tot_occ")
    )
    doc_counts = labeled.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    label_stats = (
        occ_totals.join(doc_counts, label_col)
        .crossJoin(F.broadcast(vocab))  # one row — the vocabulary size
    )
    return token_counts, label_stats


def ensure_nb_model(
    labeled: DataFrame,
    table: str,
    tag: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
) -> str:
    """Train-once: materialize the NB model as catalog tables
    ``{phys}_tok`` (token counts) and ``{phys}_lab`` (label stats)
    under a snapshot-hashed physical name (operators/snapshot —
    the corpus tag is part of the IDENTITY, so two runs over
    different snapshots build different tables instead of
    destructively overwriting each other; round-11's sf1 gate lost
    ``nb_quality_model_meta`` part-files to exactly that race).
    Returns the physical base name; scoring plans then read two small
    model tables instead of re-deriving the lazy model per plan
    branch — round-5's 24-scan text_nb_quality_score plan collapses
    to single digits."""
    spark = labeled.sparkSession

    def build(phys: str) -> None:
        token_counts, label_stats = nb_train(
            labeled, id_col=id_col, text_col=text_col, label_col=label_col
        )
        token_counts.write.mode("overwrite").saveAsTable(f"{phys}_tok")
        label_stats.write.mode("overwrite").saveAsTable(f"{phys}_lab")
        spark.createDataFrame([(tag,)], "tag STRING").write.mode(
            "overwrite"
        ).saveAsTable(f"{phys}_meta")

    return ensure(spark, table, (tag,), ("_tok", "_lab", "_meta"), build)


def nb_score(
    docs: DataFrame,
    token_counts: DataFrame,
    label_stats: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    broadcast_model: bool = True,
) -> DataFrame:
    """Score docs against every label; returns
    (doc_id, label, log_score) with Laplace(+1) smoothing. Unseen
    tokens contribute ln(1 / (tot_occ + vocab)) — standard NB.

    Plan: distinct (doc, tok, n_occ) CROSS the (tiny) label list,
    left-join the model on (tok, label); each term is
    n_occ × round(ln((cnt+1)/(tot+V)), 12), summed in DECIMAL; the
    label prior ln(n_docs/Σn_docs) rounds the same way. EVERY input
    doc gets a score row per label — a doc whose text tokenizes to
    nothing scores its priors alone, it is never silently dropped.

    ``broadcast_model=True`` (default) broadcasts ``token_counts``
    onto the occurrence scan — right when the vocabulary fits in the
    driver's broadcast budget (most curation models). For a
    corpus-scale vocabulary pass ``False``: the model joins as a
    plain token-keyed shuffle join instead, so no single node ever
    has to hold the whole vocabulary."""
    total = label_stats.agg(F.sum("n_docs").alias("all_docs"))
    labels = (
        label_stats.select(label_col, "tot_occ", "vocab", "n_docs")
        .crossJoin(F.broadcast(total))  # one row — the grand total
        .withColumn(
            "prior",
            F.round(F.log(F.col("n_docs") / F.col("all_docs")), 12),
        )
    )
    occ = (
        _tokens(docs, id_col, text_col)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    model = F.broadcast(token_counts) if broadcast_model else token_counts
    terms = (
        occ.crossJoin(F.broadcast(labels))
        .join(model, ["tok", label_col], "left")
        .select(
            "doc_id",
            label_col,
            # multiply in DOUBLE (IEEE-deterministic), cast the final
            # per-row term to DECIMAL for the order-free accumulation
            (
                F.col("n_occ")
                * F.round(
                    F.log(
                        (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                        / (F.col("tot_occ") + F.col("vocab")).cast("double")
                    ),
                    12,
                )
            )
            .cast("decimal(38,18)")
            .alias("term"),
        )
    )
    sums = terms.groupBy("doc_id", label_col).agg(F.sum("term").alias("tsum"))
    base = (
        docs.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .crossJoin(F.broadcast(labels.select(label_col, "prior")))
    )
    return base.join(sums, ["doc_id", label_col], "left").select(
        "doc_id",
        label_col,
        F.round(
            (
                F.coalesce(
                    F.col("tsum"), F.lit(0).cast("decimal(38,18)")
                )
                + F.col("prior").cast("decimal(38,18)")
            ).cast("double"),
            6,
        ).alias("log_score"),
    )
