"""The curation pipeline: decontamination, quality gates, sampling
and mixture planning, sharding, chunking and packing, and the
chained ten-stage ``run_corpus_pipeline`` with its funnel oracle.

Engine-portable md5 hashing decides every sample and shard, so DuckDB
replays each selection exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.functions.text import _TOK_RE, token_count, tokens_col
from dasladen_spark.operators.dedup import _SPAN_N, duplicated_span_coverage
from dasladen_spark.operators.ranking import global_prefix_sum, global_row_number
from dasladen_spark.plans.registry import query
from dasladen_spark.plans.shared import (
    DOC_QUALITY_SQL,
    FP_SQL,
    QUALITY_SQL,
    span_coverage_ctes,
)
from dasladen_spark.session import load_table as _t


@query(
    "pack_sequences",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS n_tokens
      FROM documents
    ), cum AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prior
      FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR(COALESCE(prior, 0) / 2048) AS BIGINT) AS pack_id
    FROM cum
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign documents (in doc_id order)
    to ~2048-token training sequences by exclusive running token
    count — the contiguous-fill packing used when batching a corpus
    into fixed-length LM training rows.

    The running total is NOT a global window (single-partition choke
    point): operators/ranking.global_prefix_sum range-partitions on
    doc_id, prefix-sums within partitions, and adds per-partition
    start offsets (one broadcast row per partition). Both jobs are
    fully parallel — the same plan packs a trillion tokens."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    ps = global_prefix_sum(
        toks, [F.col("doc_id")], "n_tokens", out_col="__prior", exclusive=True
    )
    return ps.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("__prior") / F.lit(2048)).cast("bigint").alias("pack_id"),
    )


_N_SHARDS = 8
_CHUNK = 64  # words per training chunk
_STRIDE = 48  # 16-word overlap between consecutive chunks
_NGRAM = 8  # decontamination n-gram width

#: every _NGRAM-word window of each document: CTEs ``w`` and
#: ``g(doc_id, ng)``, the DuckDB side of ``_word_grams``
_GRAMS_SQL = f"""w AS (
      SELECT doc_id, regexp_split_to_array(text, ' ') AS words
      FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(words) - {_NGRAM - 1}, 0)),
               i -> array_to_string(words[i:i + {_NGRAM - 1}], ' '))) AS ng
      FROM w
    )"""
#: the benchmark n-grams (the doc_id % 7 = 0 slice stands in for the
#: benchmark corpus) and the training docs' distinct n-grams: CTEs
#: ``bench(ng)`` and ``train(doc_id, ng)``, the DuckDB side of
#: ``_bench_train_grams``
_BENCH_TRAIN_SQL = f"""{_GRAMS_SQL}, bench AS (
      SELECT DISTINCT ng FROM g WHERE doc_id % 7 = 0
    ), train AS (
      SELECT DISTINCT doc_id, ng FROM g WHERE doc_id % 7 <> 0
    )"""


def _word_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ng) for every _NGRAM-word window of each document."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("words"))
    grams = F.when(
        F.size("words") >= _NGRAM,
        F.transform(
            F.sequence(F.lit(1), F.size("words") - (_NGRAM - 1)),
            lambda i: F.array_join(F.slice(F.col("words"), i, _NGRAM), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return w.select("doc_id", F.explode(grams).alias("ng"))


def _bench_train_grams(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The benchmark slice's distinct n-grams and the training docs'
    distinct (doc_id, ng) pairs."""
    g = _word_grams(spark, sf_dir)
    bench = g.filter(F.col("doc_id") % 7 == 0).select("ng").distinct()
    train = g.filter(F.col("doc_id") % 7 != 0).distinct()
    return bench, train


@query(
    "train_shuffle_shards",
    oracle=f"""
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                   doc_id) AS BIGINT) AS pos,
           CAST((ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                    doc_id) - 1) % {_N_SHARDS} AS INTEGER)
             AS shard_id
    FROM documents
    """,
)
def train_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: every
    document gets a pseudorandom-but-reproducible position (order by
    md5 of its id) and a round-robin shard assignment.

    The total order comes from operators/ranking.global_row_number —
    range partition on the hash key + per-partition numbering + tiny
    broadcast offsets — NOT a single-partition window, so the same
    plan shuffles a 100 TB corpus with every executor numbering its
    own range. Round-robin on the hashed order gives shards that are
    unbiased samples of the corpus (no topical clustering by id)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("shuffle_key")
    )
    ranked = global_row_number(
        d, [F.col("shuffle_key"), F.col("doc_id")], out_col="pos"
    )
    return ranked.select(
        "doc_id",
        "shuffle_key",
        F.col("pos").cast("bigint").alias("pos"),
        ((F.col("pos") - 1) % _N_SHARDS).cast("int").alias("shard_id"),
    )


@query(
    "doc_chunks",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(text, ' ') AS words
      FROM documents
    )
    SELECT w.doc_id,
           CAST(t.i AS INTEGER) AS chunk_start,
           array_to_string(w.words[t.i:t.i + {_CHUNK - 1}], ' ')
             AS chunk_text,
           CAST(len(w.words[t.i:t.i + {_CHUNK - 1}]) AS INTEGER)
             AS chunk_tokens
    FROM w, UNNEST(generate_series(
        1, greatest(len(w.words) - {_CHUNK - 1}, 1), {_STRIDE})) AS t(i)
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: split each document into
    {_CHUNK}-word training chunks with a {_STRIDE}-word stride
    (overlap keeps context across chunk boundaries); short documents
    yield one (possibly partial) chunk.

    Pure narrow transform — split, generate starts, explode, slice —
    no shuffle at all, so it scales linearly with input bytes and
    stays entirely inside whole-stage codegen. The explode fan-out is
    bounded (~n_words/stride per doc), never quadratic."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("words"))
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("words") - F.lit(_CHUNK - 1), F.lit(1)),
        F.lit(_STRIDE),
    )
    chunk = F.slice(F.col("words"), F.col("i"), _CHUNK)
    return (
        w.select("doc_id", "words", F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.col("i").cast("int").alias("chunk_start"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("int").alias("chunk_tokens"),
        )
    )


@query(
    "decontaminate_ngrams",
    oracle=f"""
    WITH {_BENCH_TRAIN_SQL}
    SELECT t.doc_id, COUNT(*) AS n_hits
    FROM train t JOIN bench b USING (ng)
    GROUP BY t.doc_id
    """,
)
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    {_NGRAM}-gram with the held-out benchmark slice (doc_id % 7 = 0
    stands in for the benchmark corpus), reporting the count of
    distinct contaminated n-grams per document.

    Scale shape: the benchmark n-gram set is de-duplicated and
    BROADCAST (benchmarks are MBs even when the corpus is TBs), so
    the training side never shuffles — each task filters its own
    n-grams against the broadcast hash set, then one partial+final
    count per doc. Distinct-per-doc before the join bounds the fan-in
    at |matching n-grams|, not |occurrences|."""
    bench, train = _bench_train_grams(spark, sf_dir)
    return (
        train.join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


@query(
    "sample_deterministic",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 8)
          < '40000000'
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% corpus sample (operators/sampling.py
    portable_sample_filter): membership is a pure function of the
    doc_id hash, so the sample is identical across repartitions,
    re-runs, and cluster sizes — the property `df.sample()` lacks.
    Scan-side filter, zero shuffle; at 100 TB this is one pass that
    prunes 75% of rows before anything downstream."""
    from dasladen_spark.operators.sampling import portable_sample_filter

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "source", "n_chars").filter(
        portable_sample_filter(F.col("doc_id"), 0.25, salt="mix1:")
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT source,
           COUNT(*) AS kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM documents
    WHERE substr(md5('mix1:' || CAST(doc_id AS VARCHAR)), 1, 8)
          < CASE source
              WHEN 'web'  THEN '33333333'
              WHEN 'news' THEN 'b3333333'
              ELSE 'ffffffff'
            END
    GROUP BY source
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified training-data mix — per-source keep rates (20% web,
    70% news, 100% everything else) decided row-locally from the
    portable doc_id hash, then a per-source audit count. The mix step
    of a data pipeline: one scan-side filter (no shuffle to decide
    membership), one hash agg for the audit. The rate table is a
    CASE over the stratum column, so adding strata never changes the
    plan shape."""
    from dasladen_spark.operators.sampling import portable_sample_filter

    d = _t(spark, sf_dir, "documents")
    digest = F.substring(
        F.md5(F.concat(F.lit("mix1:"), F.col("doc_id").cast("string"))), 1, 8
    )
    thr = (
        F.when(F.col("source") == "web", F.lit("33333333"))
        .when(F.col("source") == "news", F.lit("b3333333"))
        .otherwise(F.lit("ffffffff"))
    )
    return (
        d.filter(digest < thr)
        .groupBy("source")
        .agg(
            F.count("*").alias("kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
    )


@query(
    "sample_split",
    oracle="""
    SELECT CASE
             WHEN h < 'cccccccc' THEN 'train'
             WHEN h < 'e6666666' THEN 'val'
             ELSE 'test'
           END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM (
      SELECT n_chars,
             substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
      FROM documents
    )
    GROUP BY 1
    """,
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment from the
    portable doc_id hash (0.8*16^8 = 0xCCCCCCCC exactly, 0.9*16^8 =
    0xE6666666): a document's split is a pure function of its id, so
    it NEVER migrates between train and test across re-runs,
    re-shards, or corpus growth — the leakage guarantee `randomSplit`
    cannot give. Row-local decision + one hash agg for the audit."""
    d = _t(spark, sf_dir, "documents")
    h = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
    )
    split = (
        F.when(h < "cccccccc", "train")
        .when(h < "e6666666", "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )


@query(
    "sample_balanced",
    oracle="""
    SELECT source, doc_id
    FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('bal:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 10
    """,
)
def sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced subset: exactly 10 documents per source, chosen by
    hash order (md5 of the id = a deterministic shuffle), so the
    selection is uniform-random-like yet identical across runs,
    partitionings, and engines — the class-balancing step of an eval
    or fine-tune set. One shuffle on the stratum; within-stratum
    top-k by hash rank, never a global sort."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("bal:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    return (
        d.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("source", "doc_id")
    )


# ------------------------------------------- corpus mixture rebalance

#: mixture target: equal token share per source, spending half the
#: corpus token budget (the "rebalance to uniform" pass a mixture
#: pipeline runs before temperature sampling)
_MIX_BUDGET_FRAC = 0.5


def _mix_rates(docs: DataFrame) -> DataFrame:
    """Per-source deterministic sampling rates hitting an equal-share
    token budget: rate_s = min(1, budget/S / tokens_s). One tiny
    source-keyed aggregate; the result is S rows."""
    per_src = (
        docs.select(
            "source", F.size(tokens_col()).alias("__nt")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").cast("bigint").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.least(
                F.lit(1.0),
                (F.sum("n_tokens").over(w) * _MIX_BUDGET_FRAC)
                / F.count(F.lit(1)).over(w)
                / F.col("n_tokens"),
            ),
            9,
        ).alias("sample_rate"),
    )


_MIX_RATE_SQL = f"""
    rates AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(regexp_extract_all(lower(text), '{_TOK_RE}')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), rated AS (
      SELECT source, n_docs, n_tokens,
             round(least(1.0,
               (SUM(n_tokens) OVER () * {_MIX_BUDGET_FRAC})
               / COUNT(*) OVER () / n_tokens), 9) AS sample_rate
      FROM rates
    )
"""


@query(
    "corpus_mixture_plan",
    oracle=f"""
    WITH {_MIX_RATE_SQL}
    SELECT source, n_docs, n_tokens, sample_rate,
           CAST(floor(sample_rate * n_tokens) AS BIGINT) AS expected_tokens
    FROM rated ORDER BY source
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing plan: per-source sampling rates that spend
    half the corpus token budget in equal shares across sources — the
    table a data-mixing pipeline materializes before drawing a
    training mix (over-represented sources are downsampled, small
    sources kept whole).

    Scale shape: one map-side-combined source rollup; the
    whole-relation window runs over S rows (source count), not the
    corpus. Determinism: integer token counts, one rounded double
    rate."""
    d = _t(spark, sf_dir, "documents")
    return _mix_rates(d).select(
        "source",
        "n_docs",
        "n_tokens",
        "sample_rate",
        F.floor(F.col("sample_rate") * F.col("n_tokens"))
        .cast("bigint")
        .alias("expected_tokens"),
    ).orderBy("source")


@query(
    "corpus_mixture_sample",
    oracle=f"""
    WITH {_MIX_RATE_SQL}
    SELECT d.source,
           COUNT(*) AS kept_docs,
           CAST(SUM(len(regexp_extract_all(lower(d.text), '{_TOK_RE}')))
                AS BIGINT) AS kept_tokens
    FROM documents d JOIN rated r ON d.source = r.source
    WHERE r.sample_rate >= 1.0
       OR substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8)
          < printf('%08x', CAST(floor(r.sample_rate * 4294967296) AS BIGINT))
    GROUP BY d.source ORDER BY d.source
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the mixture plan: keep a document iff the first 8 hex
    digits of md5('mix' || doc_id) fall below its source's rate
    threshold — the engine-portable, repartition-proof membership
    test (operators/sampling.portable_sample_filter), so the drawn
    mix is a pure function of the data and reproduces row-for-row on
    any cluster shape or engine.

    Scale shape: the S-row rate table broadcasts onto the scan; the
    filter runs scan-side (one corpus pass, no shuffle before the
    tiny per-source rollup)."""
    d = _t(spark, sf_dir, "documents")
    rates = _mix_rates(d).select("source", "sample_rate")
    thr = F.format_string(
        "%08x",
        F.floor(F.col("sample_rate") * F.lit(4294967296.0)).cast("bigint"),
    )
    kept = (
        d.join(F.broadcast(rates), "source")
        .filter(
            # rate >= 1.0 short-circuits to keep-whole: its threshold
            # would format as 9 hex digits and the lexicographic
            # compare against an 8-char prefix silently drops ~15/16
            (F.col("sample_rate") >= F.lit(1.0))
            | (
                F.substring(
                    F.md5(
                        F.concat(F.lit("mix"), F.col("doc_id").cast("string"))
                    ),
                    1,
                    8,
                )
                < thr
            )
        )
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum(F.size(tokens_col())).cast("bigint").alias("kept_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------- exact top-k per stratum


@query(
    "sample_topk_per_stratum",
    oracle="""
    SELECT source, doc_id, n_chars, rank FROM (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rank
      FROM documents
    ) WHERE rank <= 5 ORDER BY source, rank
    """,
)
def sample_topk_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 longest documents per source via the two-phase salted
    top-k (operators/ranking.topk_per_group): local top-k inside
    hash-salted subgroups, then a re-rank of the bounded candidate
    set — no task ever sorts a whole stratum, so one dominant source
    in a 100 TB corpus cannot straggle or OOM the selection. Exact
    and deterministic (total order: length desc, doc_id)."""
    from dasladen_spark.operators.ranking import topk_per_group

    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return topk_per_group(
        d,
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id")],
        k=5,
        salt_col=F.col("doc_id"),
    ).orderBy("source", "rank")


# ----------------------------------------- batching / padding audit


@query(
    "pack_padding_waste",
    oracle=rf"""
    WITH per_doc AS (
      SELECT CAST(floor(log2(greatest(
               len(regexp_extract_all(lower(text), '{_TOK_RE}')), 1)))
             AS INTEGER) AS bucket,
             len(regexp_extract_all(lower(text), '{_TOK_RE}')) AS nt
      FROM documents
    )
    SELECT bucket,
           CAST(power(2, bucket + 1) AS BIGINT) AS padded_len,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(power(2, bucket + 1) AS BIGINT) - nt) AS BIGINT)
             AS pad_tokens,
           ROUND(CAST(SUM(CAST(power(2, bucket + 1) AS BIGINT) - nt)
                      AS DOUBLE)
                 / (COUNT(*) * CAST(power(2, bucket + 1) AS BIGINT)), 6)
             AS pad_frac
    FROM per_doc GROUP BY bucket ORDER BY bucket
    """,
)
def pack_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batching-efficiency audit: if documents batch inside power-of-2
    length buckets (each padded to the bucket ceiling), how many pad
    tokens does each bucket burn? The table that justifies (or kills)
    bucketed batching vs sequence packing — read next to
    pack_sequences, which wastes ~zero by construction.

    Scale shape: pure per-row expressions into one small-keyed rollup
    (bucket count keys); no joins, no windows. The bucket uses the
    same floor(log2(len)) spelling token_length_histogram already
    proves deterministic cross-engine."""
    d = _t(spark, sf_dir, "documents")
    nt = F.size(tokens_col())
    bucket = F.floor(F.log2(F.greatest(nt, F.lit(1)))).cast("int")
    padded = F.pow(F.lit(2.0), (bucket + 1).cast("double")).cast("bigint")
    per = d.select(
        bucket.alias("bucket"), nt.alias("nt"), padded.alias("padded_len")
    )
    return (
        per.groupBy("bucket", "padded_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.sum(F.col("padded_len") - F.col("nt"))
            .cast("bigint")
            .alias("pad_tokens"),
            F.round(
                F.sum(F.col("padded_len") - F.col("nt")).cast("double")
                / (F.count(F.lit(1)) * F.first("padded_len")),
                6,
            ).alias("pad_frac"),
        )
        .select(
            "bucket", "padded_len", "n_docs", "total_tokens", "pad_tokens",
            "pad_frac",
        )
        .orderBy("bucket")
    )


# ------------------------------------------------ dedup/clean funnel

_FUNNEL_MIN_TOK = 25
_FUNNEL_MAX_COV = 0.5
_FUNNEL_MIN_Q = 0.74

#: ONE spelling of the funnel oracle, shared by corpus_clean_funnel
#: (the single-plan report) and pipeline_corpus_e2e (the chained
#: task-file pipeline): both must land on the SAME per-stage counts.
_FUNNEL_ORACLE = rf"""
    WITH d0 AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '{_TOK_RE}') AS a,
             len(regexp_extract_all(lower(text), '{_TOK_RE}')) AS nt,
             {FP_SQL.format(t='text')} AS fp,
             {QUALITY_SQL.format(t='text')} AS q
      FROM documents
    ), s2 AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) rn
        FROM d0) WHERE rn = 1
    ), s3 AS (
      SELECT * FROM s2 WHERE nt >= {_FUNNEL_MIN_TOK}
    ), {span_coverage_ctes('s3')}, s4 AS (
      SELECT s3.* FROM s3 LEFT JOIN cov USING (doc_id)
      WHERE COALESCE(cov.covered, 0) / greatest(s3.nt, 1)
            <= {_FUNNEL_MAX_COV}
    ), s5 AS (
      SELECT * FROM s4 WHERE q >= {_FUNNEL_MIN_Q}
    )
    SELECT * FROM (
      -- COALESCE(...,0): an empty stage truthfully reports 0 tokens
      -- surviving, matching the plan's F.coalesce(F.sum(nt), 0) --
      -- one spelling on both engines (sf1's first empty stage
      -- surfaced the int:0 vs NULL divergence)
      SELECT 1 AS stage, 'raw' AS stage_name, COUNT(*) AS n_docs,
             CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS n_tokens FROM d0
      UNION ALL
      SELECT 2, 'fingerprint_dedup', COUNT(*),
             CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'min_length', COUNT(*),
             CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM s3
      UNION ALL
      SELECT 4, 'span_dedup', COUNT(*),
             CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM s4
      UNION ALL
      SELECT 5, 'quality_gate', COUNT(*),
             CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM s5
    ) ORDER BY stage
    """


@query("corpus_clean_funnel", oracle=_FUNNEL_ORACLE)
def corpus_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleanup funnel a corpus actually runs, as ONE auditable
    report: docs and tokens surviving each successive gate —
    fingerprint dedup (min-id survivor), minimum length, duplicated-
    span share ≤ 50%, quality score — the table that tells you which
    stage is spending your data budget.

    Scale shape: each stage is the already-audited distributed form
    (fingerprint window keys on the fingerprint hash; span coverage
    reuses duplicated_span_coverage's shingle-hash + interval-union
    exchanges, computed only over the docs still alive at that
    stage); the five stage summaries are scalar rollups (partial
    aggregation, one row each). Nothing driver-side ever holds a
    data-scale row set."""
    from pyspark.sql import Window as W

    from dasladen_spark.functions.text import normalize_text, quality_score

    d0 = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.size(tokens_col()).alias("nt"),
        F.md5(normalize_text(F.col("text"))).alias("fp"),
        quality_score(F.col("text")).alias("q"),
    )

    def _chain(base: DataFrame) -> tuple[DataFrame, DataFrame]:
        c2 = (
            base.withColumn(
                "rn",
                F.row_number().over(W.partitionBy("fp").orderBy("doc_id")),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        return c2, c2.filter(F.col("nt") >= _FUNNEL_MIN_TOK)

    # the five scalar rollups read a NARROW persisted stats frame (no
    # text): the tokenize/fingerprint/quality projection runs exactly
    # once into a 4-column cache instead of once per stage branch that
    # AQE's best-effort ReuseExchange fails to dedup (the raw-stage
    # aggregate has no window exchange to reuse; r12 sweep counted 9
    # documents FileScans in this one plan). Locally a wash
    # (interleaved medians 3.22 s plain vs 3.20 s persisted, identical
    # rows) — the point is the GUARANTEED pass count at scale, with
    # text kept out of the cache. The span pass needs text, so it
    # derives its own chain (text rides the same fp exchange it always
    # did — no extra shuffle), and its narrow (doc_id, coverage)
    # result persists because s4 feeds BOTH the stage-4 and stage-5
    # rollups — one corpus-wide shingle pass, not two.
    dn = d0.drop("text").persist()
    s2, s3 = _chain(dn)
    _, s3t = _chain(d0)
    cov = (
        duplicated_span_coverage(
            s3t.select("doc_id", "text"), "doc_id", "text", span=_SPAN_N
        )
        .select("doc_id", "dup_coverage")
        .persist()
    )
    s4 = s3.join(cov, "doc_id", "left").filter(
        F.coalesce("dup_coverage", F.lit(0.0)) <= _FUNNEL_MAX_COV
    )
    s5 = s4.filter(F.col("q") >= _FUNNEL_MIN_Q)

    def _stage(df: DataFrame, stage: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("nt"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )

    return (
        _stage(dn, 1, "raw")
        .unionByName(_stage(s2, 2, "fingerprint_dedup"))
        .unionByName(_stage(s3, 3, "min_length"))
        .unionByName(_stage(s4, 4, "span_dedup"))
        .unionByName(_stage(s5, 5, "quality_gate"))
        .orderBy("stage")
    )


@query("pipeline_corpus_e2e", oracle=_FUNNEL_ORACLE)
def pipeline_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB workload SHAPE, end-to-end from ONE task file:
    streaming intake (exactly-once drain of a drop folder) → exact
    fingerprint dedup → min-length gate → duplicated-span coverage
    drop → quality score + gate → benchmark decontamination → DSIR
    selection → pack into 2048-token sequences → WebDataset tar
    shards — every stage a task kind from tasks.TASK_TYPES, each
    reading the previous stage's sink, exactly how a user of the
    reference's task files would run a curation pipeline.

    The returned frame is the per-stage funnel audit (stages 1-5,
    docs + tokens surviving), and its oracle IS corpus_clean_funnel's
    SQL: the chained task pipeline must land on the same counts the
    single-plan report derives, so the whole chain sits under the
    driver's exact-oracle gate. The post-funnel stages
    (decontaminate / DSIR / pack / tar) have no funnel row; the e2e
    test asserts their artifacts (tests/test_tasks.py).

    Each invocation runs in a FRESH temp workspace (its own intake
    checkpoint), so a bench rep measures the full pipeline, not a
    warm no-op drain."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="dsl_pipe_e2e_")
    try:
        return run_corpus_pipeline(spark, sf_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_corpus_pipeline(
    spark: SparkSession, sf_dir: str, work: str
) -> DataFrame:
    """pipeline_corpus_e2e's body against a caller-owned workspace —
    the e2e test drives this directly so it can inspect the stage
    sinks and tar shards after the run."""
    import os

    from dasladen_spark.runner.taskrun import Runner, TaskRunner

    inp = os.path.join(work, "input")
    out = os.path.join(work, "output")
    drops = os.path.join(inp, "drops")
    os.makedirs(drops)
    os.makedirs(out)
    docs = _t(spark, sf_dir, "documents")
    docs.select("doc_id", "text", "lang", "source").write.mode(
        "overwrite"
    ).json(drops)
    docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", "text"
    ).write.mode("overwrite").parquet(os.path.join(inp, "bench.parquet"))
    docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "text"
    ).write.mode("overwrite").parquet(os.path.join(inp, "train.parquet"))
    min_tok_filter = (
        f"size(regexp_extract_all(lower({{text}}), '{_TOK_RE}', 0))"
        f" >= {_FUNNEL_MIN_TOK}"
    )
    tasks = [
        # s1: land everything (thresholds 0 → the funnel's raw row);
        # the gate's value here is the exactly-once drain semantics
        {"name": "p1", "type": "intake", "gate": "quality",
         "min_quality": 0.0, "min_tokens": 0,
         "source": {"folder": drops},
         "target": {"file": "s1_raw"},
         "quarantine": {"file": "s1_quarantine"}},
        {"name": "p2", "type": "dedup", "id_field": "doc_id",
         "source": {"kind": "parquet", "file": "s1_raw", "folder": out},
         "target": {"kind": "parquet", "file": "s2_dedup.parquet",
                    "truncate": True}},
        # s3: the min-length gate, plus dropping the intake's stamp
        # columns (p5 re-scores; pack stamps its own n_tokens)
        {"name": "p3", "type": "parquet-parquet",
         "source": {"file": "s2_dedup.parquet", "folder": out},
         "transform": {"filter": min_tok_filter,
                       "remove": ["quality", "n_tokens",
                                  "fingerprint", "batch"]},
         "target": {"file": "s3_len.parquet", "truncate": True}},
        {"name": "p4", "type": "dedup", "method": "spans",
         "mode": "drop", "span": _SPAN_N,
         "max_coverage": _FUNNEL_MAX_COV, "id_field": "doc_id",
         "source": {"kind": "parquet", "file": "s3_len.parquet",
                    "folder": out},
         "target": {"kind": "parquet", "file": "s4_span.parquet",
                    "truncate": True}},
        {"name": "p5", "type": "score",
         "source": {"kind": "parquet", "file": "s4_span.parquet",
                    "folder": out},
         "target": {"kind": "parquet", "file": "s5s_scored.parquet",
                    "truncate": True}},
        {"name": "p6", "type": "parquet-parquet",
         "source": {"file": "s5s_scored.parquet", "folder": out},
         "transform": {"filter": f"{{quality}} >= {_FUNNEL_MIN_Q}"},
         "target": {"file": "s5_quality.parquet", "truncate": True}},
        {"name": "p7", "type": "decontaminate", "id_field": "doc_id",
         "source": {"kind": "parquet", "file": "s5_quality.parquet",
                    "folder": out},
         "bench": {"kind": "parquet", "file": "bench.parquet",
                   "folder": inp},
         "target": {"kind": "parquet", "file": "s6_clean.parquet",
                    "truncate": True}},
        {"name": "p8", "type": "sample", "method": "dsir",
         "id_field": "doc_id", "keep_fraction": 0.5,
         "source": {"kind": "parquet", "file": "s6_clean.parquet",
                    "folder": out},
         "train": {"kind": "parquet", "file": "train.parquet",
                   "folder": inp},
         "target": {"kind": "parquet", "file": "s7_selected.parquet",
                    "truncate": True}},
        {"name": "p9", "type": "pack", "id_field": "doc_id",
         "source": {"kind": "parquet", "file": "s7_selected.parquet",
                    "folder": out},
         "target": {"kind": "parquet", "file": "s8_packed.parquet",
                    "truncate": True}},
        {"name": "p10", "type": "parquet-tar",
         "source": {"file": "s8_packed.parquet", "folder": out},
         "target": {"file": "shards", "n_shards": 4,
                    "key_field": "doc_id", "payload_field": "text",
                    "ext": "txt",
                    "meta_fields": ["pack_id", "n_tokens"]}},
    ]
    tr = TaskRunner(
        spark,
        Runner({"tasks": tasks}),
        input_path=inp,
        output_path=out,
        module_path=inp,
        log=lambda m: None,
    )
    tr.run()
    # ONE aggregation job audits all five funnel sinks: union the
    # SCANS (stage-labelled (stage, nt, real=1) rows), not five
    # independent one-row aggregates — under AQE the
    # union-of-aggregates shape materialized each branch's exchange
    # as its own near-sequential job (profiled: 6 jobs, ~1.3 s of
    # the bench line; now 1 grouped aggregation over one union, one
    # exchange). A seed row per stage (real=0, nt=0) keeps a
    # legitimately-emptied sink present in the report with
    # n_docs=0 / n_tokens=0 — the COALESCE(SUM, 0) spelling both
    # engines agreed on for empty stages.
    stages = (
        ("s1_raw", 1, "raw"),
        ("s2_dedup.parquet", 2, "fingerprint_dedup"),
        ("s3_len.parquet", 3, "min_length"),
        ("s4_span.parquet", 4, "span_dedup"),
        ("s5_quality.parquet", 5, "quality_gate"),
    )
    audit = spark.createDataFrame(
        [(stage, 0, 0) for _, stage, _ in stages],
        "stage int, nt int, real int",
    )
    for fname, stage, _label in stages:
        audit = audit.unionByName(
            # explicit one-column schema: the audit only needs text,
            # and a user-supplied schema skips the per-sink footer
            # read job spark.read.parquet otherwise runs (profiled:
            # five 0.03 s schema jobs + their driver gaps)
            spark.read.schema("text string")
            .parquet(os.path.join(out, fname))
            .select(
                F.lit(stage).alias("stage"),
                F.size(tokens_col()).alias("nt"),
                F.lit(1).alias("real"),
            )
        )
    labels = {stage: label for _, stage, label in stages}
    rows = [
        (
            r["stage"],
            labels[r["stage"]],
            int(r["n"]),
            int(r["t"]),
        )
        for r in audit.groupBy("stage")
        .agg(
            F.sum("real").alias("n"),
            F.sum(F.col("nt") * F.col("real")).alias("t"),
        )
        .collect()
    ]
    rows.sort()
    return spark.createDataFrame(
        rows, "stage int, stage_name string, n_docs bigint,"
        " n_tokens bigint"
    )


# ------------------------------------- weighted priority sampling


@query(
    "sample_weighted_priority",
    oracle="""
    WITH x AS (
      SELECT o_orderkey, o_totalprice,
             md5('ws-' || o_orderkey) AS h
      FROM orders
    ), u AS (
      SELECT o_orderkey, o_totalprice,
             (CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 268435456
            + CAST(strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS BIGINT) * 16777216
            + CAST(strpos('0123456789abcdef', substr(h, 3, 1)) - 1 AS BIGINT) * 1048576
            + CAST(strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS BIGINT) * 65536
            + CAST(strpos('0123456789abcdef', substr(h, 5, 1)) - 1 AS BIGINT) * 4096
            + CAST(strpos('0123456789abcdef', substr(h, 6, 1)) - 1 AS BIGINT) * 256
            + CAST(strpos('0123456789abcdef', substr(h, 7, 1)) - 1 AS BIGINT) * 16
            + CAST(strpos('0123456789abcdef', substr(h, 8, 1)) - 1 AS BIGINT)) AS hv
      FROM x
    )
    SELECT o_orderkey, o_totalprice,
           ROUND(-ln((hv + 0.5) / 4294967296.0) / o_totalprice, 12)
             AS priority
    FROM u ORDER BY priority, o_orderkey LIMIT 50
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-50 orders drawn with probability ∝ o_totalprice,
    WITHOUT replacement, in one pass (exponential-race priorities,
    operators/sampling.priority_sample_without_replacement). The
    hash-derived uniform is portable, so DuckDB replays the identical
    draw — the oracle proves the sample is a pure function of the
    data, not of partitioning or engine."""
    from dasladen_spark.operators.sampling import (
        priority_sample_without_replacement,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return priority_sample_without_replacement(
        o, k=50, weight_col="o_totalprice", id_col="o_orderkey"
    )


# --------------------------------- doc-level contamination containment

@query(
    "decontaminate_containment",
    oracle=f"""
    WITH {_GRAMS_SQL}, gd AS (
      SELECT DISTINCT doc_id, ng FROM g
    ), bench AS (
      SELECT doc_id AS b_doc, ng FROM gd WHERE doc_id % 7 = 0
    ), bsize AS (
      SELECT b_doc, COUNT(*) AS b_grams FROM bench GROUP BY b_doc
    ), train AS (
      SELECT doc_id AS t_doc, ng FROM gd WHERE doc_id % 7 <> 0
    ), inter AS (
      SELECT t.t_doc, b.b_doc, COUNT(*) AS shared
      FROM train t JOIN bench b USING (ng)
      GROUP BY t.t_doc, b.b_doc
    )
    SELECT i.t_doc, i.b_doc, i.shared, s.b_grams,
           ROUND(i.shared / CAST(s.b_grams AS DOUBLE), 6) AS containment
    FROM inter i JOIN bsize s USING (b_doc)
    ORDER BY containment DESC, t_doc, b_doc LIMIT 50
    """,
)
def decontaminate_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-LEVEL contamination audit — the asymmetric complement of
    decontaminate_ngrams' gram-level hits: for each (train doc,
    benchmark doc) pair sharing any 8-gram, score what FRACTION of
    the benchmark doc's distinct 8-grams the train doc contains.
    Containment (not Jaccard) is the right measure here: a long train
    doc that swallowed a short benchmark doc whole has Jaccard ≈ 0
    but containment = 1.

    Scale shape: the benchmark side (doc, gram) pairs are MBs even at
    corpus-TBs, so they broadcast; the train side never shuffles for
    the probe — candidates then aggregate per pair, bounded by actual
    overlaps, and sizes join broadcast again. Top-50 with full
    tie-break keeps the report deterministic."""
    g = _word_grams(spark, sf_dir).distinct()
    bench = g.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("b_doc"), "ng"
    )
    bsize = bench.groupBy("b_doc").agg(F.count(F.lit(1)).alias("b_grams"))
    train = g.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("t_doc"), "ng"
    )
    inter = (
        train.join(F.broadcast(bench), "ng")
        .groupBy("t_doc", "b_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        inter.join(F.broadcast(bsize), "b_doc")
        .select(
            "t_doc",
            "b_doc",
            "shared",
            "b_grams",
            F.round(
                F.col("shared") / F.col("b_grams").cast("double"), 6
            ).alias("containment"),
        )
        .orderBy(F.col("containment").desc(), "t_doc", "b_doc")
        .limit(50)
    )


# --------------------------------- sampling / mixture planning


@query(
    "sample_neyman_allocation",
    oracle="""
    WITH s AS (
      -- sigma from the SAME decimal-exact moment sums the Spark side
      -- uses (not Welford stddev_pop — different accumulation, bits
      -- could differ beyond the rounding guard)
      SELECT o_orderpriority AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             ROUND(sqrt(
               CAST(CAST(SUM(CAST(o_totalprice * o_totalprice
                    AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(*)
               - pow(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                     AS VARCHAR) AS DOUBLE) / COUNT(*), 2)
             ), 6) AS sigma
      FROM orders GROUP BY 1
    ), t AS (
      SELECT SUM(n_rows * sigma) AS denom FROM s
    )
    SELECT stratum, n_rows, sigma,
           CAST(round(1000.0 * n_rows * sigma / (SELECT denom FROM t))
                AS BIGINT) AS alloc_k,
           ROUND(1000.0 * sigma / (SELECT denom FROM t), 6) AS rate
    FROM s ORDER BY stratum
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation for a budget of
    1000 rows: each stratum's share ∝ N_h·σ_h — the variance-minimal
    design for estimating the mean, and the allocation step every
    serious stratified sampler runs before drawing (the draw itself
    is sample_stratified's portable hash filter at these rates).

    Scale shape: per-stratum (count, stddev) is ONE map-side-combined
    aggregate; the denominator is a 1-row broadcast. stddev_pop is
    computed from decimal-exact moment sums so both engines see the
    same doubles."""
    o = _t(spark, sf_dir, "orders")
    s = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        # decimal-exact moments -> identical doubles in both engines
        F.round(
            F.sqrt(
                F.sum(
                    (F.col("o_totalprice") * F.col("o_totalprice")).cast(
                        "decimal(38,6)"
                    )
                ).cast("double")
                / F.count(F.lit(1))
                - F.pow(
                    F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    2,
                )
            ),
            6,
        ).alias("sigma"),
    )
    t = s.agg(F.sum(F.col("n_rows") * F.col("sigma")).alias("denom"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "stratum",
            "n_rows",
            "sigma",
            F.round(1000.0 * F.col("n_rows") * F.col("sigma") / F.col("denom"))
            .cast("bigint")
            .alias("alloc_k"),
            F.round(1000.0 * F.col("sigma") / F.col("denom"), 6).alias("rate"),
        )
        .orderBy("stratum")
    )


@query(
    "corpus_mixture_temperature",
    oracle="""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), t AS (
      SELECT SUM(n_docs) AS total,
             SUM(pow(n_docs / CAST((SELECT SUM(n_docs) FROM s) AS DOUBLE),
                     0.7)) AS z
      FROM s
    )
    SELECT source, n_docs,
           ROUND(n_docs / CAST((SELECT total FROM t) AS DOUBLE), 6)
             AS p_natural,
           ROUND(pow(n_docs / CAST((SELECT total FROM t) AS DOUBLE), 0.7)
                 / (SELECT z FROM t), 6) AS p_sample,
           ROUND(pow(n_docs / CAST((SELECT total FROM t) AS DOUBLE), 0.7)
                 / (SELECT z FROM t)
                 / (n_docs / CAST((SELECT total FROM t) AS DOUBLE)), 6)
             AS upsample_factor
    FROM s ORDER BY source
    """,
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture rates (α = 0.7): sampling probability
    ∝ p_natural^α — the multilingual/multi-source rebalancing rule
    (upweights small sources without flattening the mixture, the
    standard alternative to corpus_mixture_plan's equal-share
    budget). Reports natural share, α-sampled share, and the implied
    up/downsample factor per source.

    Scale shape: a source-keyed count aggregate plus a 1-row
    normalizer broadcast — the 100 TB corpus is touched once."""
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    total = s.agg(F.sum("n_docs").alias("total"))
    z = (
        s.crossJoin(F.broadcast(total))
        .agg(
            F.sum(
                F.pow(F.col("n_docs") / F.col("total").cast("double"), 0.7)
            ).alias("z"),
            F.first("total").alias("total"),
        )
    )
    t = z  # (z, total) — one normalizer row
    p_nat = F.col("n_docs") / F.col("total").cast("double")
    p_smp = F.pow(p_nat, 0.7) / F.col("z")
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            F.round(p_nat, 6).alias("p_natural"),
            F.round(p_smp, 6).alias("p_sample"),
            F.round(p_smp / p_nat, 6).alias("upsample_factor"),
        )
        .orderBy("source")
    )


# --------------------------------------------- curriculum ordering


@query(
    "train_curriculum_order",
    oracle="""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), q AS (
      SELECT quantile_cont(n_tokens, 0.25) AS q1,
             quantile_cont(n_tokens, 0.50) AS q2,
             quantile_cont(n_tokens, 0.75) AS q3
      FROM d
    )
    SELECT (1 + CAST(d.n_tokens > q.q1 AS INT)
              + CAST(d.n_tokens > q.q2 AS INT)
              + CAST(d.n_tokens > q.q3 AS INT)) AS phase,
           d.doc_id,
           CAST(d.n_tokens AS BIGINT) AS n_tokens,
           substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
             AS shuffle_key
    FROM d, q
    ORDER BY phase, shuffle_key, doc_id
    LIMIT 100
    """,
)
def train_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training schedule: docs bucketed into four
    difficulty phases by token-count quartile (short → long), shuffled
    WITHIN each phase by an md5 key — the easy-first ordering
    curriculum-learning recipes prescribe, with the intra-phase
    shuffle that keeps each phase i.i.d. First 100 schedule rows.

    Scale shape: phase boundaries are ONE exact-percentile aggregate
    (map-side combinable, 1 row) broadcast back onto the scan — no
    global sort assigns phases. The realized schedule at 100 TB is a
    WRITE ordered by (phase, shuffle_key) — sortWithinPartitions
    after repartitioning by phase — not a driver-side rank; the
    LIMIT here is a TakeOrdered audit sample of the schedule head,
    shuffling only per-partition top rows."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens"))
    )
    q = d.agg(
        F.percentile("n_tokens", F.lit(0.25)).alias("q1"),
        F.percentile("n_tokens", F.lit(0.50)).alias("q2"),
        F.percentile("n_tokens", F.lit(0.75)).alias("q3"),
    )
    return (
        d.crossJoin(F.broadcast(q))  # one row — the quartile bounds
        .select(
            (
                F.lit(1)
                + (F.col("n_tokens") > F.col("q1")).cast("int")
                + (F.col("n_tokens") > F.col("q2")).cast("int")
                + (F.col("n_tokens") > F.col("q3")).cast("int")
            ).alias("phase"),
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8).alias(
                "shuffle_key"
            ),
        )
        .orderBy("phase", "shuffle_key", "doc_id")
        .limit(100)
    )


# ------------------------------------------------ two-sample KS drift


@query(
    "quality_ks_drift",
    oracle=f"""
    WITH q AS ({DOC_QUALITY_SQL}),
    s AS (
      SELECT q.quality,
             CAST(CAST(substr(d.source, 4) AS INT) < 10 AS INT) AS is_ref
      FROM q JOIN documents d ON d.doc_id = q.doc_id
    ), tot AS (
      SELECT CAST(SUM(is_ref) AS DECIMAL(19,0)) AS n_a,
             CAST(SUM(1 - is_ref) AS DECIMAL(19,0)) AS n_b
      FROM s
    ), g AS (
      SELECT quality,
             CAST(SUM(is_ref) AS DECIMAL(19,0)) AS a_cnt,
             CAST(SUM(1 - is_ref) AS DECIMAL(19,0)) AS b_cnt
      FROM s GROUP BY quality
    ), c AS (
      SELECT quality,
             SUM(a_cnt) OVER (ORDER BY quality
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             SUM(b_cnt) OVER (ORDER BY quality
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
      FROM g
    ), gap AS (
      SELECT c.quality,
             abs(CAST(c.cum_a AS DECIMAL(38,0)) * t.n_b
                 - CAST(c.cum_b AS DECIMAL(38,0)) * t.n_a) AS num,
             CAST(t.n_a AS DECIMAL(38,0)) * t.n_b AS den,
             t.n_a, t.n_b
      FROM c, tot t
    )
    SELECT CAST(n_a AS BIGINT) AS n_ref,
           CAST(n_b AS BIGINT) AS n_new,
           ROUND(CAST(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                 AS DECIMAL(38,12)), 6) AS ks_stat,
           quality AS ks_at
    FROM gap
    ORDER BY num DESC, quality ASC
    LIMIT 1
    """,
)
def quality_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    quality-score distributions of the reference source cohort
    (src0–src9) and the candidate cohort (src10–src19) — the
    distribution-level drift test a curation pipeline runs before
    admitting a new crawl batch: PSI (q_population_stability) bins
    first and can hide within-bin shifts; KS is the sup-norm over the
    FULL empirical CDFs, sensitive to any shift anywhere. One row:
    cohort sizes, the KS statistic, and the score at which the CDF
    gap peaks (ties broken toward the smallest score).

    Scale shape: scoring is one JVM projection; the ECDF sweep runs
    over the DISTINCT rounded scores (≤ 10⁴ rows by construction —
    quality is rounded to 4 decimals), so the global-order window is
    calendar-bounded-style tiny, never corpus-sized. The CDF gap is
    compared as an exact integer cross-product (cum_a·n_b −
    cum_b·n_a in DECIMAL(38,0)) — the max and tie-break never touch
    a double; one ROUND(DECIMAL(38,12), 6) division at the end."""
    from dasladen_spark.functions.text import quality_score
    from dasladen_spark.functions.vectors import bounded_window_key

    d = _t(spark, sf_dir, "documents")
    s = d.select(
        quality_score(F.col("text")).alias("quality"),
        (F.expr("cast(substr(source, 4) as int)") < 10)
        .cast("int")
        .alias("is_ref"),
    )
    tot = s.agg(
        F.sum("is_ref").cast("decimal(19,0)").alias("n_a"),
        F.sum(F.lit(1) - F.col("is_ref")).cast("decimal(19,0)").alias("n_b"),
    )
    g = s.groupBy("quality").agg(
        F.sum("is_ref").cast("decimal(19,0)").alias("a_cnt"),
        F.sum(F.lit(1) - F.col("is_ref")).cast("decimal(19,0)").alias("b_cnt"),
    )
    w = (
        Window.partitionBy(bounded_window_key(F.col("quality")))
        .orderBy("quality")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.select(
        "quality",
        F.sum("a_cnt").over(w).alias("cum_a"),
        F.sum("b_cnt").over(w).alias("cum_b"),
    )
    gap = c.crossJoin(F.broadcast(tot)).select(
        "quality",
        F.abs(
            F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
            - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
        ).alias("num"),
        (F.col("n_a").cast("decimal(38,0)") * F.col("n_b")).alias("den"),
        "n_a",
        "n_b",
    )
    return (
        gap.orderBy(F.col("num").desc(), F.col("quality").asc())
        .limit(1)
        .select(
            F.col("n_a").cast("bigint").alias("n_ref"),
            F.col("n_b").cast("bigint").alias("n_new"),
            F.round(
                (F.col("num").cast("double") / F.col("den").cast("double"))
                .cast("decimal(38,12)"),
                6,
            ).alias("ks_stat"),
            F.col("quality").alias("ks_at"),
        )
    )


# ------------------------------------- DSIR importance weighting


@query(
    "corpus_dsir_weights",
    oracle="""
    WITH tk AS (
      -- portable_sample_filter's predicate: 0.125 × 16^8 = 0x20000000
      SELECT doc_id,
             substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8)
               < '20000000' AS is_target,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ), ex AS (
      SELECT doc_id, is_target, unnest(toks) AS tok FROM tk
    ), occ AS (
      SELECT doc_id, is_target, tok, COUNT(*) AS n
      FROM ex GROUP BY 1, 2, 3
    ), model AS (
      SELECT tok,
             SUM(CASE WHEN is_target THEN n ELSE 0 END) AS ct,
             SUM(CASE WHEN is_target THEN 0 ELSE n END) AS cr
      FROM occ GROUP BY tok
    ), tot AS (
      SELECT SUM(ct) AS big_t, SUM(cr) AS big_r, COUNT(*) AS v
      FROM model
    ), lam AS (
      SELECT m.tok,
             ROUND(ln((m.ct + 1) / CAST(t.big_t + t.v AS DOUBLE))
                   - ln((m.cr + 1) / CAST(t.big_r + t.v AS DOUBLE)),
                   12) AS lam
      FROM model m, tot t
    ), w AS (
      SELECT o.doc_id,
             CAST(SUM(o.n) AS BIGINT) AS n_tokens,
             SUM(CAST(o.n * l.lam AS DECIMAL(38,18))) AS wsum
      FROM occ o JOIN lam l ON l.tok = o.tok
      WHERE NOT o.is_target
      GROUP BY o.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(CAST(CAST(wsum AS VARCHAR) AS DOUBLE)
                 / CAST(n_tokens AS DOUBLE), 6) AS weight_per_token
    FROM w
    ORDER BY weight_per_token DESC, doc_id
    LIMIT 100
    """,
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every RAW-pool document by
    how much more likely its tokens are under the TARGET sample's
    unigram model than under the raw pool's — the log-likelihood
    ratio Σ n_w·(ln p̂_t(w) − ln p̂_r(w)), add-one smoothed, reported
    per token so long docs don't win by length. The head of this
    ranking is what importance RESAMPLING would draw first: the raw
    docs that look most like the curated target. Target membership is
    the portable md5 split (~12.5%), so the slice is identical in
    both engines and uncorrelated with the fixture's source column.

    Scale shape: ONE corpus tokenization feeds everything — the
    (doc, token) occurrence rollup is the only corpus-sized shuffle,
    the unigram model folds FROM it (token-keyed, map-side
    combinable), totals are a 1-row broadcast, and scoring joins the
    occurrence rows against the vocabulary-sized λ table
    shuffle-side (a corpus-scale vocabulary never broadcasts — the
    text_lm_perplexity discipline). λ rounds to 12 decimals before
    DECIMAL(38,18) accumulation; one rounded division at the end."""
    from dasladen_spark.operators.sampling import (
        dsir_weights,
        portable_sample_filter,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        portable_sample_filter(F.col("doc_id"), 0.125, salt="dsir").alias(
            "is_target"
        ),
    )
    return (
        dsir_weights(d, "is_target")
        .orderBy(F.col("weight_per_token").desc(), "doc_id")
        .limit(100)
    )


# ------------------------------------- bloom-prefiltered decontamination

_BLOOM_BITS = 1 << 20  # m: position space (a 128 KiB bitmap at scale)
_BLOOM_SALTS = ("b0:", "b1:")  # k = 2 independent md5-derived probes


def _bloom_pos(col: F.Column, salt: str) -> F.Column:
    """Engine-portable bloom probe position: the first 8 hex chars of
    md5(salt || gram) as an integer, mod the bitmap size. Identical
    SQL exists on any engine with md5 (DuckDB: ('0x' || substr(...))
    cast), so the candidate set — not just the verified set — is
    oracle-checkable."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 8), 16, 10)
        .cast("bigint")
        % _BLOOM_BITS
    )


@query(
    "decontaminate_bloom_prefilter",
    oracle=f"""
    WITH {_BENCH_TRAIN_SQL}, pos AS (
      SELECT DISTINCT p FROM (
        SELECT CAST(('0x' || substr(md5('{_BLOOM_SALTS[0]}' || ng), 1, 8))
                    AS BIGINT) % {_BLOOM_BITS} AS p FROM bench
        UNION ALL
        SELECT CAST(('0x' || substr(md5('{_BLOOM_SALTS[1]}' || ng), 1, 8))
                    AS BIGINT) % {_BLOOM_BITS} FROM bench
      )
    ), cand AS (
      SELECT t.doc_id, t.ng FROM train t
      WHERE CAST(('0x' || substr(md5('{_BLOOM_SALTS[0]}' || t.ng), 1, 8))
                 AS BIGINT) % {_BLOOM_BITS} IN (SELECT p FROM pos)
        AND CAST(('0x' || substr(md5('{_BLOOM_SALTS[1]}' || t.ng), 1, 8))
                 AS BIGINT) % {_BLOOM_BITS} IN (SELECT p FROM pos)
    ), hit AS (
      SELECT c.doc_id,
             CASE WHEN b.ng IS NULL THEN 0 ELSE 1 END AS h
      FROM cand c LEFT JOIN bench b USING (ng)
    )
    SELECT doc_id,
           COUNT(*) AS n_candidates,
           CAST(SUM(h) AS BIGINT) AS n_hits,
           CAST(COUNT(*) - SUM(h) AS BIGINT) AS n_false_pos
    FROM hit GROUP BY doc_id
    """,
)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage benchmark decontamination: a bloom-style membership
    prefilter on 8-gram (_NGRAM) md5 positions admits candidate grams,
    then an exact gram join verifies them — per training doc, the
    candidate count, the verified hit count, and the bloom
    false-positive count (the audit that sizes the bitmap before a
    full-corpus run). The verified hits equal the exact
    decontaminate_ngrams join by construction, so the whole pipeline
    — including the probabilistic stage — is oracle-exact.

    Scale shape (the reason this exists next to the exact join): the
    broadcast object is the distinct POSITION SET — k·|bench| ints,
    a bitmap's worth of data, ~1000× smaller than the bench gram
    strings — so the train side is filtered by two broadcast
    semi-joins on 8-byte keys before any string ever shuffles; only
    surviving candidates (benchmarks are MBs, so a vanishing
    fraction at 100 TB) reach the string-keyed verify join. Grams
    are distinct-per-doc before hashing, bounding md5 work at
    |distinct grams|, not |occurrences|."""
    # the fixture carves the benchmark slice out of the corpus, so the
    # three bench consumers (two probe-position projections, the exact
    # verify) re-tokenize that slice — at deployment the benchmark is a
    # SEPARATE MBs-sized table and those are three scans of a tiny
    # input (same accepted shape as decontaminate_ngrams/containment).
    # Persisting bench was A/B-measured SLOWER (1.529 s → 2.288 s,
    # sf0.1 interleaved medians of 7, identical rows): the cache
    # materialization barrier serializes three branches that otherwise
    # tokenize the slice in parallel.
    bench, train = _bench_train_grams(spark, sf_dir)
    pos = (
        bench.select(_bloom_pos(F.col("ng"), _BLOOM_SALTS[0]).alias("p"))
        .unionAll(
            bench.select(_bloom_pos(F.col("ng"), _BLOOM_SALTS[1]).alias("p"))
        )
        .distinct()
    )
    cand = (
        train.join(
            F.broadcast(pos.withColumnRenamed("p", "p0")),
            _bloom_pos(F.col("ng"), _BLOOM_SALTS[0]) == F.col("p0"),
            "leftsemi",
        )
        .join(
            F.broadcast(pos.withColumnRenamed("p", "p1")),
            _bloom_pos(F.col("ng"), _BLOOM_SALTS[1]) == F.col("p1"),
            "leftsemi",
        )
    )
    hit = cand.join(
        F.broadcast(bench.withColumn("h", F.lit(1))), "ng", "left"
    ).select("doc_id", F.coalesce(F.col("h"), F.lit(0)).alias("h"))
    return hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum("h").cast("bigint").alias("n_hits"),
        (F.count(F.lit(1)) - F.sum("h")).cast("bigint").alias("n_false_pos"),
    )


# ------------------------------ cross-source quantile normalization


@query(
    "quality_quantile_normalize",
    oracle=f"""
    WITH q AS ({DOC_QUALITY_SQL}),
    dq AS (
      SELECT q.doc_id, d.source, q.quality
      FROM q JOIN documents d USING (doc_id)
    ), s AS (
      SELECT source, quality, COUNT(*) AS c FROM dq GROUP BY source, quality
    ), g AS (
      SELECT quality, SUM(c) AS c FROM s GROUP BY quality
    ), gc AS (
      SELECT quality,
             SUM(c) OVER (ORDER BY quality ROWS UNBOUNDED PRECEDING) AS cum,
             (SELECT SUM(c) FROM s) AS n
      FROM g
    ), sc AS (
      SELECT source, quality, c,
             SUM(c) OVER (PARTITION BY source ORDER BY quality
               ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER (PARTITION BY source) AS ns
      FROM s
    ), u AS (
      SELECT CAST(cum AS DOUBLE) / CAST(n AS DOUBLE) AS f,
             1 AS kind, quality AS gq,
             CAST(NULL AS VARCHAR) AS source, CAST(NULL AS DOUBLE) AS q,
             CAST(NULL AS BIGINT) AS c
      FROM gc
      UNION ALL
      SELECT CAST(cum AS DOUBLE) / CAST(ns AS DOUBLE), 0, NULL,
             source, quality, c
      FROM sc
    ), m AS (
      SELECT source, q, c,
             MIN(CASE WHEN kind = 1 THEN gq END) OVER (
               ORDER BY f, kind
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nq
      FROM u
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           ROUND(CAST(CAST(SUM(CAST(c AS DECIMAL(19,0))
                   * CAST(q AS DECIMAL(6,4))) AS DOUBLE)
                 / CAST(SUM(c) AS DOUBLE) AS DECIMAL(38,12)), 6)
             AS mean_raw,
           ROUND(CAST(CAST(SUM(CAST(c AS DECIMAL(19,0))
                   * CAST(nq AS DECIMAL(6,4))) AS DOUBLE)
                 / CAST(SUM(c) AS DOUBLE) AS DECIMAL(38,12)), 6)
             AS mean_normalized,
           ROUND(CAST(CAST(SUM(CAST(c AS DECIMAL(19,0))
                   * CAST(abs(q - nq) AS DECIMAL(6,4))) AS DOUBLE)
                 / CAST(SUM(c) AS DOUBLE) AS DECIMAL(38,12)), 6)
             AS mean_abs_shift
    FROM m WHERE source IS NOT NULL GROUP BY source
    """,
)
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of quality scores (the
    CCNet-style fix for "source A's 0.6 means something different
    than source B's 0.6"): each document's score maps to the GLOBAL
    score at the same within-source CDF position (exact inverse-CDF,
    >= convention), and the per-source report shows raw vs
    normalized means and the mean absolute shift — how much each
    source's scale disagreed with the corpus.

    Scale shape: ONE corpus scan builds the distinct (source,
    quality) rollup — quality is rounded to 4 decimals, so that frame
    is bounded at ~10⁴ rows per source REGARDLESS of corpus size —
    and every later step (both ECDFs, the inverse-CDF merge window,
    and the count-weighted per-source means) runs on it; no per-doc
    join back to the corpus exists at all. The inverse-CDF is a
    single merge-sorted window (query points and global points
    interleaved by CDF fraction; the first following global point IS
    the >=-quantile because both axes are monotone). Equal rationals
    divide to equal doubles (IEEE round-to-nearest of the true
    quotient), so the f ordering and the >= boundary are
    engine-exact; scores enter the exact accumulation as DECIMAL(6,4)
    — their native rounded scale — weighted by exact counts, with
    one ROUND(DECIMAL(38,12), 6) division per output column."""
    from dasladen_spark.functions.text import quality_score
    from dasladen_spark.operators.scoring import quantile_normalize_map

    d = _t(spark, sf_dir, "documents")
    dq = d.select("source", quality_score(F.col("text")).alias("quality"))
    m = quantile_normalize_map(dq, "source", "quality").withColumnRenamed(
        "quality", "q"
    )
    cd = F.col("c").cast("decimal(19,0)")
    return m.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.round(
            (
                F.sum(cd * F.col("q").cast("decimal(6,4)")).cast("double")
                / F.sum("c").cast("double")
            ).cast("decimal(38,12)"),
            6,
        ).alias("mean_raw"),
        F.round(
            (
                F.sum(cd * F.col("nq").cast("decimal(6,4)")).cast("double")
                / F.sum("c").cast("double")
            ).cast("decimal(38,12)"),
            6,
        ).alias("mean_normalized"),
        F.round(
            (
                F.sum(
                    cd
                    * F.abs(F.col("q") - F.col("nq")).cast("decimal(6,4)")
                ).cast("double")
                / F.sum("c").cast("double")
            ).cast("decimal(38,12)"),
            6,
        ).alias("mean_abs_shift"),
    )


# ------------------------------------ Bradley–Terry preference ratings


@query(
    "pref_bradley_terry",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, ts, event_type, value,
             lag(event_type) OVER w AS p_type,
             lag(value) OVER w AS p_val
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
      SELECT CASE WHEN event_type < p_type THEN event_type ELSE p_type END
               AS a,
             CASE WHEN event_type < p_type THEN p_type ELSE event_type END
               AS b,
             CASE
               WHEN value > p_val THEN event_type
               WHEN value < p_val THEN p_type
               WHEN event_type < p_type THEN event_type
               ELSE p_type
             END AS winner
      FROM e WHERE p_type IS NOT NULL AND p_type <> event_type
    ), pair AS (
      SELECT a, b, COUNT(*) AS n,
             SUM(CASE WHEN winner = a THEN 1 ELSE 0 END) AS wa
      FROM m GROUP BY a, b
    ), item AS (
      SELECT t, CAST(SUM(n) AS BIGINT) AS games,
             CAST(SUM(w) AS BIGINT) AS wins
      FROM (
        SELECT a AS t, n, wa AS w FROM pair
        UNION ALL
        SELECT b, n, n - wa FROM pair
      ) GROUP BY t
    ), p1 AS (
      SELECT t, games, wins,
             CAST(ROUND(CAST(2 * wins AS DOUBLE) / CAST(games AS DOUBLE),
                        12) AS DECIMAL(18,12)) AS p
      FROM item
    ), opp AS (
      SELECT x.t, x.n, p1.p AS p_opp
      FROM (
        SELECT a AS t, b AS o, n FROM pair
        UNION ALL
        SELECT b, a, n FROM pair
      ) x JOIN p1 ON p1.t = x.o
    ), den AS (
      SELECT o.t,
             SUM(CAST(ROUND(CAST(o.n AS DOUBLE)
                   / CAST(me.p + o.p_opp AS DOUBLE), 12)
                 AS DECIMAL(38,18))) AS d
      FROM opp o JOIN p1 me ON me.t = o.t
      GROUP BY o.t
    )
    SELECT p1.t AS event_type, p1.games AS n_games, p1.wins AS n_wins,
           ROUND(CAST(p1.p AS DOUBLE), 6) AS rating_iter1,
           ROUND(CAST(CAST(p1.wins AS DOUBLE) / CAST(den.d AS DOUBLE)
                 AS DECIMAL(38,12)), 6) AS rating_iter2
    FROM p1 JOIN den ON den.t = p1.t
    """,
)
def pref_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strength ratings over pairwise preferences — the
    estimator behind RLHF preference-data quality checks (are the
    comparisons consistent? which option dominates?). Matches are
    deterministic: each user's consecutive event pairs (by ts,
    event_id) with differing types form one comparison, higher value
    wins, exact ties go to the lexicographically smaller type. Two
    fixed-point iterations from the uniform start: iteration 1
    reduces to 2·wins/games in closed form; iteration 2 is
    w_i / Σ_j n_ij/(p_i+p_j) over the pair table.

    Scale shape: the only corpus-sized work is one per-user lag
    window (partitioned by user, the sessionize shape) and one
    pair-key aggregate; everything after runs on the |types|² pair
    table (tiny — broadcast-sized at any corpus scale). The
    fixed-point terms are per-pair doubles rounded to 12 then summed
    in exact DECIMAL, so the iteration is partition-order-proof."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("p_type"),
        F.lag("value").over(w).alias("p_val"),
    ).filter(
        F.col("p_type").isNotNull() & (F.col("p_type") != F.col("event_type"))
    )
    m = e.select(
        F.least("event_type", "p_type").alias("a"),
        F.greatest("event_type", "p_type").alias("b"),
        F.when(F.col("value") > F.col("p_val"), F.col("event_type"))
        .when(F.col("value") < F.col("p_val"), F.col("p_type"))
        .otherwise(F.least("event_type", "p_type"))
        .alias("winner"),
    )
    pair_agg = m.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("winner") == F.col("a")).cast("int")).alias("wa"),
    )
    # |types|² rows by construction (the kmeans-centroid pattern):
    # fetch the tiny pair table once so the four downstream consumers
    # (both union orientations, the opponent join, the final join)
    # never re-execute the corpus lag-window — a diamond DAG re-scans
    # its shared subtree per path unless materialized, and caching the
    # window subtree pins its shuffles to fixed partitioning (no AQE).
    # Rebuild through pandas+Arrow: that lands as a LocalRelation
    # (pure JVM downstream), where createDataFrame(rows) would be a
    # Python-RDD-backed frame paying a Python worker round-trip per
    # task per consumer. Values are exact integers; nothing is lost.
    pair = spark.createDataFrame(pair_agg.toPandas(), pair_agg.schema)
    sides = pair.select(
        F.col("a").alias("t"), F.col("b").alias("o"), "n", F.col("wa").alias("w")
    ).unionAll(
        pair.select(
            F.col("b").alias("t"),
            F.col("a").alias("o"),
            "n",
            (F.col("n") - F.col("wa")).alias("w"),
        )
    )
    item = sides.groupBy("t").agg(
        F.sum("n").cast("bigint").alias("games"),
        F.sum("w").cast("bigint").alias("wins"),
    )
    p1 = item.select(
        "t",
        "games",
        "wins",
        F.round(
            (2 * F.col("wins")).cast("double") / F.col("games").cast("double"),
            12,
        )
        .cast("decimal(18,12)")
        .alias("p"),
    )
    opp = sides.select("t", "o", "n").join(
        F.broadcast(p1.select(F.col("t").alias("o"), F.col("p").alias("p_opp"))),
        "o",
    )
    den = (
        opp.join(F.broadcast(p1.select("t", "p")), "t")
        .select(
            "t",
            F.round(
                F.col("n").cast("double")
                / (F.col("p") + F.col("p_opp")).cast("double"),
                12,
            )
            .cast("decimal(38,18)")
            .alias("term"),
        )
        .groupBy("t")
        .agg(F.sum("term").alias("d"))
    )
    return (
        p1.join(F.broadcast(den), "t")
        .select(
            F.col("t").alias("event_type"),
            F.col("games").alias("n_games"),
            F.col("wins").alias("n_wins"),
            F.round(F.col("p").cast("double"), 6).alias("rating_iter1"),
            F.round(
                (F.col("wins").cast("double") / F.col("d").cast("double")).cast(
                    "decimal(38,12)"
                ),
                6,
            ).alias("rating_iter2"),
        )
    )


_SEM_TAU = 0.35  # inside the fixture's max-cosine range (p90 ≈ 0.347)


@query(
    "decontaminate_semantic",
    oracle=f"""
    WITH b AS (
      SELECT vec_id AS bid, embedding::DOUBLE[] AS bv,
             sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                          x -> x * x))) AS bn
      FROM embeddings WHERE vec_id % 11 = 0 AND vec_id < 500
    ), t AS (
      SELECT vec_id, embedding::DOUBLE[] AS tv,
             sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                          x -> x * x))) AS tn
      FROM embeddings WHERE NOT (vec_id % 11 = 0 AND vec_id < 500)
    ), s AS (
      -- denom guard mirrors the Spark operator (a zero vector scores
      -- 0.0, never NULL/NaN) so degenerate embeddings in a future
      -- fixture cannot diverge the engines
      SELECT t.vec_id, b.bid,
             CASE WHEN t.tn * b.bn = 0 THEN 0.0
                  ELSE list_sum(list_transform(list_zip(t.tv, b.bv),
                                               p -> p[1] * p[2]))
                       / (t.tn * b.bn)
             END AS c
      FROM t CROSS JOIN b
    ), r AS (
      SELECT vec_id, bid, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY c DESC, bid) AS rn
      FROM s
    )
    SELECT vec_id, bid AS nearest_bench_id, c AS max_cosine
    FROM r WHERE rn = 1 AND c >= CAST({_SEM_TAU} AS DOUBLE)
    """,
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every training
    vector whose cosine to SOME held-out benchmark vector reaches
    {_SEM_TAU} — catches the paraphrased eval question that
    decontaminate_ngrams' exact 8-gram match misses.

    The benchmark slice is FIXED-SIZE (vec_id % 11 = 0 AND vec_id <
    500 — the same 46 vectors at every sf): real eval suites don't
    grow with the training corpus, and a bench side proportional to
    the corpus would make the pair stream quadratic at scale. With it
    fixed, cost is a single linear corpus scan per probe batch.

    Scale shape: benchmark side broadcast, corpus scanned once, the
    only corpus-keyed exchange is the partially-aggregated per-vector
    max (operators/decontaminate.semantic_contamination)."""
    from dasladen_spark.operators.decontaminate import (
        semantic_contamination,
    )

    e = _t(spark, sf_dir, "embeddings")
    is_bench = (F.col("vec_id") % 11 == 0) & (F.col("vec_id") < 500)
    return semantic_contamination(
        e.filter(~is_bench),
        e.filter(is_bench),
        threshold=_SEM_TAU,
    )


# ---------------------------------------- ANN-prefiltered decontamination

_SEM_ANN_TABLES = 48  #: 48 tables: candidate parity with the exact
#: path on the fixture at τ=0.35 (verified at sf0.001/0.01;
#: production τ ≥ 0.8 needs far fewer — low thresholds are the hard
#: LSH regime)
#: bucket width is DATA-ADAPTIVE (least b in [4, 8] with n/2^b ≤ 500,
#: operators/dedup.auto_lsh_bits): 4 bits through sf0.1 (geometry
#: identical to round 11 at every sf the driver grades), wider as the
#: corpus grows so the bucket-collision candidate stream stays
#: LINEAR in n — the fixed 4-bit geometry measured 30× cost for 10×
#: rows at sf1. Both engines derive b from the same COUNT(*).
_SEM_ANN_BITS = 4  # lo clamp
_SEM_ANN_BITS_MAX = 8  # hi clamp (bounds the seeded plane prefix)
_SEM_ANN_TARGET = 500  # target bucket occupancy


def _semantic_ann_oracle() -> str:
    """The LSH candidate set replayed EXACTLY in SQL — possible
    because bucket membership is quantized-integer (operators/dedup
    hyperplane_table_buckets: sign of Σ floor(x·c·1e6 + 0.5), integer
    sums commute): the oracle derives the same COUNT(*)-stepped
    bucket width b, computes the same 48·b plane dots (a prefix of
    the fixed seeded stream), packs the same b-bit buckets, joins
    candidates on (table, bucket), and exact-rescores the survivors
    with the same guarded cosine — the MinHash playbook applied to
    the hyperplane family, now with data-adaptive geometry."""
    from dasladen_spark.operators.dedup import (
        auto_lsh_bits_sql,
        hyperplane_buckets_oracle_cte,
    )

    norm = "sqrt(list_sum(list_transform({v}, x -> x * x)))"
    tn, bn = norm.format(v="te.v"), norm.format(v="be.v")
    cte = hyperplane_buckets_oracle_cte(
        _SEM_ANN_TABLES,
        _SEM_ANN_BITS_MAX,
        64,
        bits_sql=auto_lsh_bits_sql(
            "SELECT COUNT(*) FROM embeddings",
            target_bucket=_SEM_ANN_TARGET,
            lo=_SEM_ANN_BITS,
            hi=_SEM_ANN_BITS_MAX,
        ),
    )
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             (vec_id % 11 = 0 AND vec_id < 500) AS is_b
      FROM embeddings
    ), {cte},
    cand AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS tid, b.vec_id AS bid
      FROM buckets a
      JOIN buckets b ON a.t = b.t AND a.bkt = b.bkt
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE NOT ea.is_b AND eb.is_b
    ), s AS (
      SELECT c.tid AS vec_id, c.bid,
             CASE WHEN {tn} * {bn} = 0 THEN 0.0
                  ELSE list_sum(list_transform(list_zip(te.v, be.v),
                                               q -> q[1] * q[2]))
                       / ({tn} * {bn})
             END AS c
      FROM cand c
      JOIN e te ON te.vec_id = c.tid
      JOIN e be ON be.vec_id = c.bid
    ), r AS (
      SELECT vec_id, bid, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY c DESC, bid) AS rn
      FROM s
    )
    SELECT vec_id, bid AS nearest_bench_id, c AS max_cosine
    FROM r WHERE rn = 1 AND c >= CAST({_SEM_TAU} AS DOUBLE)
    """


@query("decontaminate_semantic_ann", oracle=_semantic_ann_oracle())
def decontaminate_semantic_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontaminate_semantic's at-scale shape: the same flags, but
    the |train|·|bench| pair stream is prefiltered through the shared
    random-hyperplane kernel — only pairs sharing a (table, bucket)
    are exact-rescored. With a realistic 100k-question eval suite the
    exact BroadcastNestedLoopJoin multiplies the corpus scan 2000×;
    this path bounds the rescore to bucket collisions. EXACT oracle:
    the quantized-integer bucket hash replays bit-for-bit in DuckDB
    (see _semantic_ann_oracle), so even the approximate candidate set
    is verified, not just spot-checked — at the fixture geometry the
    output additionally EQUALS the exact path's
    (tests/test_operators parity test)."""
    from dasladen_spark.operators.decontaminate import (
        semantic_contamination,
    )
    from dasladen_spark.operators.dedup import auto_lsh_bits

    e = _t(spark, sf_dir, "embeddings")
    is_bench = (F.col("vec_id") % 11 == 0) & (F.col("vec_id") < 500)
    return semantic_contamination(
        e.filter(~is_bench),
        e.filter(is_bench),
        threshold=_SEM_TAU,
        method="ann",
        num_tables=_SEM_ANN_TABLES,
        # same COUNT(*)-stepped width the oracle derives in SQL
        bits_per_table=auto_lsh_bits(
            e.count(),
            target_bucket=_SEM_ANN_TARGET,
            lo=_SEM_ANN_BITS,
            hi=_SEM_ANN_BITS_MAX,
        ),
    )


_CORESET_K = 8


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy k-center: round i's distance table is round
    i-1's with a least() against the newest pick. Every round is AS
    MATERIALIZED — without it DuckDB re-inlines each round into the
    next and the plan goes exponential (the kcore/pagerank lesson)."""
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " q -> (q[1] - q[2]) * (q[1] - q[2])))"
    )
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v"
        " FROM embeddings)",
        "c0 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id"
        " LIMIT 1)",
        "d1 AS MATERIALIZED (SELECT e.vec_id, e.v, "
        + d2.format(a="e.v", b="c.v")
        + " AS d2 FROM e, c0 c)",
    ]
    for i in range(1, k):
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT vec_id, v, d2 FROM d{i}"
            f" ORDER BY d2 DESC, vec_id LIMIT 1)"
        )
        if i < k - 1:
            parts.append(
                f"d{i + 1} AS MATERIALIZED (SELECT d.vec_id, d.v,"
                f" least(d.d2, " + d2.format(a="d.v", b="p.v") + ") AS d2"
                f" FROM d{i} d, p{i} p)"
            )
    selects = [
        "SELECT CAST(0 AS INTEGER) AS pick_order, vec_id,"
        " CAST(NULL AS DOUBLE) AS d2 FROM c0"
    ] + [
        f"SELECT CAST({i} AS INTEGER), vec_id, d2 FROM p{i}"
        for i in range(1, k)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@query("sample_coreset_kcenter", oracle=_kcenter_oracle(_CORESET_K))
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus: 8 picks
    that COVER the space (maximize the minimum pairwise distance)
    rather than sample it — the standard seed for data pruning and
    diverse eval-set selection. Exact-oracle despite being iterative:
    the squared-distance fold is deterministic, so the full greedy
    trajectory replays in the unrolled SQL (operators/sampling
    kcenter_coreset; k bounded driver collects of ONE row each)."""
    from dasladen_spark.operators.sampling import kcenter_coreset

    return kcenter_coreset(
        _t(spark, sf_dir, "embeddings"), k=_CORESET_K
    )
