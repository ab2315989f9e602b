"""Shared benchmark-decontamination primitives.

ONE implementation backs both the batch ``decontaminate`` task
(tasks.run_decontaminate) and the streaming intake gate
(streaming/intake.run_decontaminate_gate): both build the benchmark
side with ``decontamination_bench``, find a batch's hits with
``decontamination_hits`` and write the split with ``route_on_hits``,
so a document is quarantined at ingestion IFF the batch pipeline
would have dropped it in a backfill — the same no-skew contract the
quality gate keeps (streaming/intake.score_documents).

Scale shape (the decontaminate_ngrams query family's): the
benchmark's distinct gram set is MBs even when the corpus is TBs, so
it BROADCASTS; the corpus side joins that broadcast BEFORE any
distinct, so the only corpus-keyed exchange is over the matching
grams (benchmark-bounded), never the full gram stream. Grams come
from the staged words projection (functions/text.word_ngrams) —
never an inline split inside a lambda, which would re-tokenize per
gram position.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dasladen_spark.functions.text import word_ngrams


def semantic_contamination(
    train: DataFrame,
    bench: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    method: str = "exact",
    num_tables: int = 16,
    bits_per_table: int = 4,
    dim: int = 64,
) -> DataFrame:
    """(id, nearest_bench_id, max_cosine) for every training vector
    whose embedding cosine to SOME benchmark vector ≥ ``threshold`` —
    the paraphrase-contamination complement to the n-gram family
    above (a reworded eval question shares no 8-gram but sits next to
    the original in embedding space).

    Scale shape: the benchmark side BROADCASTS (eval sets are
    thousands of rows when the corpus is TBs); the corpus side scans
    once through a BroadcastNestedLoopJoin and reduces to ONE row per
    training vector via a partially-aggregated max — the shuffle
    carries |train| rows of (id, struct), never the pair stream. The
    cosine is the deterministic left-fold (functions/vectors), so the
    flag replays bit-for-bit in the SQL oracle; the argmax tie-break
    (cosine DESC, bench id ASC) is encoded as MIN over
    struct(-cosine, bench_id) — negating the cosine (exact: a double
    sign flip loses no bits, and ``-(-x)`` restores them) rather than
    the id, so bench ids of ANY orderable type work (a string
    question_id would cast to NULL under id negation and silently
    break the argmax).

    The norms are computed ONCE per row and carried as columns —
    naively calling cosine_sim per pair re-folds BOTH norms for
    every pair, tripling the hot stage (measured 8.9 s → 2 s on the
    sf0.1 pair stream). A norm reused from a row column has the same
    bits as one recomputed per pair, so oracle parity is unaffected.
    (A codegen'd fixed-width unrolled dot chain was tried and is
    ~4× SLOWER than the interpreted fold here: a 64-term expression
    tree generates a method too large for the JIT, so the whole
    stage runs as interpreted bytecode. Don't resurrect it.)

    ``method="exact"`` (default) is the shape above — right when the
    benchmark is audit-sized (the |corpus| × |bench| pair stream is
    one broadcast scan). ``method="ann"`` prefilters through the
    shared random-hyperplane kernel (operators/dedup
    .hyperplane_table_buckets, ONE pass over train ∪ bench): only
    pairs sharing a (table, bucket) are exact-rescored, cutting the
    pair stream from |train|·|bench| to the bucket-collision set —
    the shape for a realistic 100k-question eval suite, where the
    exact path multiplies the hot scan 2000×. The prefilter is
    deterministic (quantized-integer sign bits), so the candidate
    set — hence the whole ann output — replays bit-for-bit in a SQL
    oracle; recall vs the exact path depends on
    num_tables/bits_per_table and the threshold's cosine angle
    (tests/test_sketches verify the fixture geometry loses nothing;
    decontamination at production τ ≥ 0.8 is the easy LSH regime)."""
    from dasladen_spark.functions.vectors import l2_norm

    if method == "ann":
        return _semantic_contamination_ann(
            train,
            bench,
            vec_col,
            id_col,
            threshold,
            num_tables,
            bits_per_table,
            dim,
        )
    if method != "exact":
        raise ValueError(f"unknown semantic_contamination method {method!r}")

    b = F.broadcast(
        bench.select(
            F.col(id_col).alias("_bid"),
            F.col(vec_col).cast("array<double>").alias("_bv"),
            l2_norm(F.col(vec_col)).alias("_bn"),
        )
    )
    t = train.select(
        F.col(id_col).alias("_tid"),
        F.col(vec_col).cast("array<double>").alias("_tv"),
        l2_norm(F.col(vec_col)).alias("_tn"),
    )
    return _best_hit(t.crossJoin(b), threshold, id_col)


def _best_hit(pairs: DataFrame, threshold: float, id_col: str) -> DataFrame:
    """Shared (exact + ann) reduction of a (_tid, _tv, _tn, _bid, _bv,
    _bn) pair stream to (id, nearest_bench_id, max_cosine), scoring
    each pair with the zero-norm-guarded cosine.

    Threshold BEFORE the aggregate: max(struct) is not
    hash-aggregable (SortAggregate → a sort of the full pair
    stream); contaminated pairs are the rare case, and filtering
    first is lossless — a vector whose global max ≥ τ has its
    argmax pair in the ≥ τ subset, and one whose max < τ has no
    surviving pair at all. The expensive stage is then a pure
    codegen'd scan (chain dot + one compare), and the sort-agg
    runs on |contaminated pairs|, not the pair stream."""
    from dasladen_spark.functions.vectors import dot

    denom = F.col("_tn") * F.col("_bn")
    scored = pairs.select(
        "_tid",
        "_bid",
        F.when(denom == 0.0, F.lit(0.0))
        .otherwise(dot(F.col("_tv"), F.col("_bv")) / denom)
        .alias("_cos"),
    )
    best = (
        scored.filter(F.col("_cos") >= F.lit(float(threshold)))
        .groupBy("_tid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_cos")).alias("nc"), F.col("_bid").alias("nb")
                )
            ).alias("s")
        )
    )
    return best.select(
        F.col("_tid").alias(id_col),
        F.col("s.nb").alias("nearest_bench_id"),
        (-F.col("s.nc")).alias("max_cosine"),
    )


def _semantic_contamination_ann(
    train: DataFrame,
    bench: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    num_tables: int,
    bits_per_table: int,
    dim: int,
) -> DataFrame:
    """The ann prefilter path (see semantic_contamination): one
    hyperplane-kernel pass over train ∪ bench (side tag in the group
    key), candidates = (train, bench) pairs sharing a (table,
    bucket), deduped, exact-rescored with the same guarded cosine,
    then the same threshold-before-argmax reduction as the exact
    path — output schema and semantics identical, pair stream
    bucket-bounded."""
    from dasladen_spark.functions.vectors import l2_norm
    from dasladen_spark.operators.dedup import hyperplane_table_buckets

    # norms fold ONCE per input row and ride through the kernel as
    # part of its group key (a scalar double — cheap to hash); folding
    # them per candidate pair instead tripled the rescore stage, the
    # same lesson the exact path documents above. Each side's id
    # rides in its OWN typed column (NULL on the other side) so a
    # string doc id and a bigint benchmark id never meet in a union
    # type conflict.
    tid_type = train.schema[id_col].dataType
    bid_type = bench.schema[id_col].dataType
    t = train.select(
        F.lit(False).alias("_is_b"),
        F.col(id_col).alias("_t_id"),
        F.lit(None).cast(bid_type).alias("_b_id"),
        l2_norm(F.col(vec_col)).alias("_n"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    b = bench.select(
        F.lit(True).alias("_is_b"),
        F.lit(None).cast(tid_type).alias("_t_id"),
        F.col(id_col).alias("_b_id"),
        l2_norm(F.col(vec_col)).alias("_n"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    both = hyperplane_table_buckets(
        t.unionByName(b), "_v", num_tables, bits_per_table, dim
    )
    tb = both.filter(~F.col("_is_b")).select(
        F.col("_t_id").alias("_tid"),
        F.col("_v").alias("_tv"),
        F.col("_n").alias("_tn"),
        "t",
        "bkt",
    )
    bb = both.filter(F.col("_is_b")).select(
        F.col("_b_id").alias("_bid"),
        F.col("_v").alias("_bv"),
        F.col("_n").alias("_bn"),
        "t",
        "bkt",
    )
    cand = tb.join(bb, on=["t", "bkt"]).dropDuplicates(["_tid", "_bid"])
    return _best_hit(cand, threshold, id_col)


def decontamination_bench(
    bench_df: DataFrame,
    method: str,
    what: str,
    text_col: str = "text",
    n: int = 8,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
) -> DataFrame:
    """The benchmark side of a decontamination ``method``: ``ngrams``
    → the distinct word ``n``-gram set of ``text_col`` (the small
    broadcast side of every gram join; callers probing it per
    micro-batch persist it); ``semantic`` → (``id_col``, ``vec_col``)
    vectors, aliased from ``bench_id_col``/``bench_vec_col`` when the
    benchmark names them differently. Any other method fails, naming
    ``what``."""
    if method == "ngrams":
        return (
            bench_df.select(F.split(F.col(text_col), " ").alias("_w"))
            .select(F.explode(word_ngrams(F.col("_w"), n)).alias("ng"))
            .distinct()
        )
    if method == "semantic":
        return bench_df.select(
            F.col(bench_id_col or id_col).alias(id_col),
            F.col(bench_vec_col or vec_col).alias(vec_col),
        )
    raise ValueError(
        f"{what}: unknown method {method!r}"
        " (expected 'ngrams' or 'semantic')"
    )


def decontamination_hits(
    df: DataFrame,
    bench: DataFrame,
    method: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_hits: int = 1,
    vec_col: str = "embedding",
    threshold: float = 0.35,
    prefilter: str = "exact",
    num_tables: int = 16,
    bits_per_table: int = 4,
    dim: int = 64,
) -> DataFrame:
    """``df``'s hits against a ``decontamination_bench`` side, keyed
    ``_did``: for ``ngrams``, (_did, n_contaminated_grams) of every doc
    sharing at least ``min_hits`` DISTINCT word n-grams with the
    benchmark set (broadcast-filter first, distinct after, so the
    corpus-keyed exchange is bounded by the matching grams); for
    ``semantic``, (_did, nearest_bench_id, max_cosine) of every doc within
    ``threshold`` cosine of a benchmark vector (``prefilter="ann"``:
    ``semantic_contamination``'s hyperplane prefilter). The batch task
    and the streaming gate share it, so both drop the same docs."""
    if method == "semantic":
        return semantic_contamination(
            df,
            bench,
            vec_col=vec_col,
            id_col=id_col,
            threshold=threshold,
            method=prefilter,
            num_tables=num_tables,
            bits_per_table=bits_per_table,
            dim=dim,
        ).select(F.col(id_col).alias("_did"), "nearest_bench_id", "max_cosine")
    return (
        df.select(
            F.col(id_col).alias("_did"),
            F.split(F.col(text_col), " ").alias("_w"),
        )
        .select("_did", F.explode(word_ngrams(F.col("_w"), n)).alias("ng"))
        .join(F.broadcast(bench), "ng")
        .distinct()
        .groupBy("_did")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
        .filter(F.col("n_contaminated_grams") >= min_hits)
    )


def route_on_hits(
    df: DataFrame,
    hits: DataFrame,
    id_col: str,
    write_clean: Callable[[DataFrame], None],
    write_dropped: Callable[[DataFrame], None] | None = None,
) -> None:
    """Write ``df`` minus its ``hits`` through ``write_clean`` and, if
    given, the hit docs with their audit columns through
    ``write_dropped``. ``hits`` is doc-id-sized and persisted only when
    it has both consumers, so the gram or vector pipeline runs once."""
    if write_dropped is not None:
        hits = hits.persist()
    try:
        write_clean(df.join(hits, df[id_col] == hits["_did"], "left_anti"))
        if write_dropped is not None:
            write_dropped(
                df.join(hits, df[id_col] == hits["_did"]).drop("_did")
            )
    finally:
        if write_dropped is not None:
            hits.unpersist()
