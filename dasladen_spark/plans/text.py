"""Text analysis and quality signals: tokenisation, language id,
heuristic and classifier quality scores, n-gram statistics,
readability and entropy, bigram language-model perplexity, BPE, and
the multimodal payload queries.

Determinism discipline: every cross-engine double is one expression
rounded to 12 decimals, accumulated in DECIMAL, rounded once at the
end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.functions.text import (
    LANG_MARKERS,
    _TOK_RE,
    bpe_token_count,
    lang_id,
    normalize_text,
    quality_score,
    token_count,
    tokens_col,
)
from dasladen_spark.functions.vectors import bounded_window_key
from dasladen_spark.operators.multimodal import extract_image_features, with_payload
from dasladen_spark.plans.registry import query
from dasladen_spark.plans.shared import DOC_QUALITY_SQL, FP_SQL, QUALITY_SQL
from dasladen_spark.session import load_table as _t


# ------------------------------------------------------ text analysis


@query(
    "text_token_count",
    oracle=r"""
    SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS n_tokens,
           length(text) AS n_chars_actual
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization counts (JVM split, no Python)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


@query("text_quality", oracle=DOC_QUALITY_SQL)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (alpha density, token-length sanity,
    repetition)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


def _lang_oracle() -> str:
    counts = {
        lang: f"len(regexp_extract_all(lower(text), '{pat}'))"
        for lang, pat in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(counts.values()) + ")"
    whens = " ".join(
        f"WHEN {c} = __best THEN '{lang}'" for lang, c in counts.items()
    )
    return rf"""
    SELECT doc_id, lang,
           CASE WHEN __best = 0 THEN 'und' ELSE (CASE {whens} END) END AS lang_pred
    FROM (SELECT doc_id, lang, {best} AS __best, text FROM documents) t
    """


@query("text_lang_id", oracle=_lang_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon language ID (argmax of per-language marker
    hits, fixed tie order)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


@query(
    "text_lang_quality_summary",
    oracle=r"""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(length(text) AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
             AS avg_len
    FROM documents GROUP BY lang, source
    """,
)
def text_lang_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup — the filter-and-mix report every
    training-data pipeline runs."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.length("text").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_len"),
    )


# ---------------------------------------------------------- multimodal


@query(
    "multimodal_payload_meta",
    oracle="""
    SELECT doc_id, strlen(text) AS n_bytes FROM documents
    """,
)
def multimodal_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload plumbing: text → binary payload → Arrow-batched
    mapInPandas metadata extraction. The byte count is checkable in
    SQL; decode features are covered by unit tests (decoder stubbed —
    no codecs in this container)."""
    d = with_payload(_t(spark, sf_dir, "documents"))
    feats = extract_image_features(d, id_col="doc_id", payload_col="payload")
    return feats.select("doc_id", "n_bytes")


@query(
    "text_bpe_tokens",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+| ?[0-9]+|[^A-Za-z0-9\s'']+')) AS n_bpe_tokens
    FROM documents
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counts over the corpus (token budgeting
    for training mixes). Same RE2/Java-portable pattern on both
    engines — see BPE_PATTERN."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_token_count(F.col("text")).alias("n_bpe_tokens"))


@query(
    "text_corpus_cleanup",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, lang, text,
             {QUALITY_SQL.format(t='text')} AS quality
      FROM documents
    ), kept AS (
      SELECT * FROM scored WHERE quality >= 0.5 AND lang IN ('en', 'de', 'fr')
    ), deduped AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY {FP_SQL.format(t='text')}
        ORDER BY doc_id) AS rn
      FROM kept
    )
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(length(text) AS DECIMAL(18,4))) AS DECIMAL(38,4))
             AS total_chars
    FROM deduped WHERE rn = 1
    GROUP BY lang, source
    """,
)
def text_corpus_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data cleanup every corpus goes through:
    quality-filter → language-filter → normalized-fingerprint dedup
    (survivor = lowest id) → per-(lang, source) mix report.

    One pipeline, two shuffles (fingerprint dedup, final rollup);
    the quality/lang filters run in the scan projection, so at 100 TB
    the expensive dedup shuffle only carries surviving rows (and the
    many-file scan parallelizes the regex work for free — forcing a
    repartition here costs a full-text shuffle that outweighs the
    parallelism below ~100 MB inputs)."""
    d = _t(spark, sf_dir, "documents")
    kept = d.select(
        "doc_id", "source", "lang", "text",
        quality_score(F.col("text")).alias("quality"),
    ).filter((F.col("quality") >= 0.5) & F.col("lang").isin("en", "de", "fr"))

    w = Window.partitionBy(F.md5(normalize_text(F.col("text")))).orderBy("doc_id")
    surv = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return surv.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text").cast("decimal(18,4)"))
        .cast("decimal(38,4)")
        .alias("total_chars"),
    )


@query(
    "text_vocab_topk",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    )
    SELECT tok, COUNT(*) AS n
    FROM toks GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 100
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 most frequent lowercased tokens
    (tiebreak by token). Explode → partial-agg'd count (map-side
    combine absorbs the Zipf head) → TakeOrdered top-k; the full
    vocab never sorts globally."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(100)
    )


@query(
    "text_tfidf_topk",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM toks WHERE doc_id < 100 GROUP BY doc_id, tok
    ),
    dfreq AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             CAST(tf.tf AS DOUBLE)
               * (CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE))
               AS tfidf
      FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, rnk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, tok
             ) AS INTEGER) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (probe docs doc_id<100 scored
    against WHOLE-corpus document frequencies) — the relevance /
    keyword-extraction primitive of a text pipeline.

    IDF is the raw ratio n_docs/df, not log(n_docs/df): ranking is
    unchanged (log is monotone) and the score stays a product of two
    IEEE-exact operations, so the doubles hash-match any engine —
    libm's log is NOT guaranteed identically rounded across engines.

    Scale shape: DF is one token-shuffle over the corpus with
    map-side partial aggregation; the probe-side term counts (tiny:
    pushed-down doc filter × vocab) broadcast to the DF table, so the
    big side never reshuffles for the join; the final top-k window
    shuffles only probe rows."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("tok"),
    )
    tf = (
        toks.filter(F.col("doc_id") < 100)
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        toks.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = float(d.count())
    scored = F.broadcast(tf).join(dfreq, "tok").select(
        "doc_id",
        "tok",
        (
            F.col("tf").cast("double")
            * (F.lit(n_docs) / F.col("df").cast("double"))
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tfidf", "rnk")
    )


@query(
    "text_collocations_pmi",
    oracle=r"""
    WITH docs AS (
      SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    ),
    uni AS (
      SELECT unnest(w) AS tok FROM docs
    ),
    ucnt AS (SELECT tok, COUNT(*) AS n FROM uni GROUP BY tok),
    un AS (SELECT COUNT(*) AS nt FROM uni),
    bi AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM docs, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
    ),
    bcnt AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bi GROUP BY w1, w2),
    bn AS (SELECT COUNT(*) AS nb FROM bi),
    scored AS (
      SELECT b.w1, b.w2, b.n_ab,
             (CAST(b.n_ab AS DOUBLE) / CAST(bn.nb AS DOUBLE))
             / ((CAST(a1.n AS DOUBLE) / CAST(un.nt AS DOUBLE))
                * (CAST(a2.n AS DOUBLE) / CAST(un.nt AS DOUBLE)))
               AS pmi_ratio
      FROM bcnt b
      JOIN ucnt a1 ON b.w1 = a1.tok
      JOIN ucnt a2 ON b.w2 = a2.tok
      CROSS JOIN un CROSS JOIN bn
      WHERE b.n_ab >= 5
    )
    SELECT w1, w2, n_ab, pmi_ratio
    FROM scored
    ORDER BY pmi_ratio DESC, w1, w2
    LIMIT 20
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations: adjacent-token pairs ranked by the PMI
    ratio P(ab)/(P(a)P(b)) with a min-count floor — the phrase-mining
    primitive (new-york, machine-learning) of corpus analysis. The
    ratio form, not log-PMI: ranking is identical (log is monotone)
    and the score stays pure IEEE divisions/multiplications, exact on
    any engine.

    Scale shape: one token shuffle for unigram counts, one pair
    shuffle for bigram counts; the unigram count table joins the
    bigram table twice — vocabulary-sized, so both joins stay
    hash-shuffles on the token key (broadcast if the vocab fits);
    totals are two scalar aggs folded in as literals. TakeOrdered
    top-k — the full collocation table never globally sorts."""
    d = _t(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
    docs = d.select(words.alias("w"))

    uni = docs.select(F.explode("w").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    n_tokens = float(uni.count())

    # F.sequence(1, n) DESCENDS when n < 1 — guard short docs with an
    # empty sequence (DuckDB generate_series(1, 0) is empty).
    idx = F.when(
        F.size("w") >= 2, F.sequence(F.lit(1), F.size("w") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bi = docs.select(F.explode(idx).alias("i"), "w").select(
        F.element_at("w", F.col("i")).alias("w1"),
        F.element_at("w", F.col("i") + 1).alias("w2"),
    )
    bcnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    n_bigrams = float(bi.count())

    a1 = ucnt.select(F.col("tok").alias("w1"), F.col("n").alias("n_a"))
    a2 = ucnt.select(F.col("tok").alias("w2"), F.col("n").alias("n_b"))
    scored = (
        bcnt.filter(F.col("n_ab") >= 5)
        .join(a1, "w1")
        .join(a2, "w2")
        .select(
            "w1",
            "w2",
            "n_ab",
            (
                (F.col("n_ab").cast("double") / F.lit(n_bigrams))
                / (
                    (F.col("n_a").cast("double") / F.lit(n_tokens))
                    * (F.col("n_b").cast("double") / F.lit(n_tokens))
                )
            ).alias("pmi_ratio"),
        )
    )
    return scored.orderBy(F.col("pmi_ratio").desc(), "w1", "w2").limit(20)


@query(
    "text_oov_rate",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
        ORDER BY n DESC, tok LIMIT 1000
      )
    )
    SELECT t.source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.source
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage audit: per-source out-of-vocabulary token
    rate against the corpus top-1000 vocabulary (count-desc, token
    tiebreak so the boundary is deterministic) — the metric that
    tells you which corpus slice a fixed tokenizer vocabulary serves
    worst.

    Scale shape: one token shuffle builds the vocab via TakeOrdered
    (the full vocabulary never globally sorts); the vocab is
    top-k-bounded so it BROADCASTS to the token stream — the corpus
    side never shuffles for membership; one final rollup on source.
    The rate is a single long→double division, engine-exact."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(1000)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    oov = F.sum(
        F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
    ).alias("n_oov")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        oov,
        (
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("oov_rate"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id, strlen(text) AS n FROM documents
    ), f AS (
      SELECT doc_id, n,
             UNNEST(generate_series(0,
               LEAST(8, GREATEST(n // 256, 1)) - 1)) AS frame_idx
      FROM b
    )
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(LEAST(256, n - frame_idx * 256) AS INTEGER) AS frame_bytes
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary payloads: one payload
    row fans out to ≤8 frame rows inside a single mapInPandas stage
    (operators/multimodal.sample_frames) — no driver involvement, no
    giant collected arrays, scan-parallel at any corpus size. The
    stub codec slices at fixed strides, so the fanout count andeach
    frame's byte length are deterministic and SQL-checkable; a real
    deployment swaps in ffmpeg keyframes behind the same contract."""
    from dasladen_spark.operators.multimodal import sample_frames

    d = with_payload(_t(spark, sf_dir, "documents"))
    frames = sample_frames(d, every_n_bytes=256, max_frames=8)
    return frames.select(
        "doc_id", "frame_idx", F.length("frame").alias("frame_bytes")
    )


@query(
    "multimodal_audio_meta",
    oracle="""
    WITH b AS (
      SELECT doc_id, strlen(text) AS n,
             CASE WHEN strlen(text) = 0 THEN 0
                  ELSE ascii(substr(text, 1, 1)) END AS lead
      FROM documents
    )
    SELECT doc_id,
           CAST(8000 * (1 + lead % 3) AS INTEGER) AS sample_rate,
           CAST(1 + lead % 2 AS INTEGER) AS n_channels,
           CAST(n // 2 AS BIGINT) AS duration_ms
    FROM b
    """,
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata probe over binary payloads — one mapInPandas
    stage, payload dropped on output (ship metadata, not bytes). The
    stub codec derives rate/channels/duration deterministically from
    the bytes, so the whole distributed path is oracle-checkable;
    production swaps in ffprobe/soundfile behind the same schema."""
    from dasladen_spark.operators.multimodal import audio_metadata

    d = with_payload(_t(spark, sf_dir, "documents"))
    return audio_metadata(d)


@query(
    "multimodal_audio_segments",
    oracle="""
    WITH b AS (
      SELECT doc_id, strlen(text) // 2 AS duration FROM documents
    ), segs AS (
      SELECT doc_id, duration,
             UNNEST(generate_series(0,
               CASE WHEN duration <= 1000 THEN 0
                    ELSE CAST(ceil((duration - 1000) / 800.0) AS BIGINT)
               END)) AS i
      FROM b
    )
    SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
           CAST(i * 800 AS BIGINT) AS start_ms,
           CAST(LEAST(i * 800 + 1000, duration) AS BIGINT) AS end_ms
    FROM segs
    """,
)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-windowed audio segmentation (1000 ms windows, 200 ms
    overlap): each clip fans out to overlapping segments with
    start/end timestamps inside ONE mapInPandas stage — scan
    parallelism, per-task memory bounded by the input partition, no
    driver collection. The stub byte-rate slicing makes segment
    boundaries exactly predictable, so fan-out and timestamps are
    oracle-checked end to end."""
    from dasladen_spark.operators.multimodal import segment_audio

    d = with_payload(_t(spark, sf_dir, "documents"))
    segs = segment_audio(d, segment_ms=1000, overlap_ms=200)
    return segs.select("doc_id", "seg_idx", "start_ms", "end_ms")


@query(
    "multimodal_image_features",
    oracle="""
    WITH c AS (
      SELECT doc_id, strlen(text) AS n,
             CASE WHEN strlen(text) = 0 THEN 0 ELSE
               list_sum(list_transform(
                 generate_series(1, LEAST(strlen(text), 64)),
                 i -> ascii(substr(text, i, 1))))
             END AS checksum
      FROM documents
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
           CAST(16 + checksum % 1024 AS INTEGER) AS width,
           CAST(16 + (checksum * 7) % 1024 AS INTEGER) AS height,
           CAST(checksum % 256 AS BIGINT) AS mean_luma
    FROM c
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode + feature extraction over binary payloads — the
    full mapInPandas feature path (operators/multimodal.
    extract_image_features), not just the byte count: the stub
    decoder derives dimensions and luma from a prefix checksum, so
    every emitted feature is oracle-checked; production swaps
    PIL/torchvision into decode_image behind the same schema."""
    d = with_payload(_t(spark, sf_dir, "documents"))
    return extract_image_features(d, id_col="doc_id", payload_col="payload")


@query(
    "text_source_overlap",
    oracle=r"""
    WITH t AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ), v AS (
      SELECT DISTINCT source, tok FROM t
    ), sz AS (
      SELECT source, COUNT(*) AS n FROM v GROUP BY source
    ), pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS common
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, common,
           CAST(common AS DOUBLE)
             / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sz sa ON pairs.src_a = sa.source
    JOIN sz sb ON pairs.src_b = sb.source
    """,
)
def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources — the
    dataset-mixing diagnostic (two near-identical feeds waste budget;
    two disjoint ones argue for both). Inverted-index self-join on
    token: fanout per token is bounded by the SOURCE count (≤20²
    pairs), not document count, so the pair expansion never goes
    quadratic in corpus size; vocab sizes broadcast to the tiny pair
    table. One exact long→double division per pair."""
    d = _t(spark, sf_dir, "documents")
    v = d.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("tok"),
    ).distinct()
    sz = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("src_a"), "tok")
    b = v.select(F.col("source").alias("src_b"), "tok")
    pairs = (
        a.join(b, on=[a.tok == b.tok, F.col("src_a") < F.col("src_b")])
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a")))
    sb = F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b")))
    return (
        pairs.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )


@query(
    "text_repetition",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(text, ' ') AS words
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(words) AS n_words,
             len(list_distinct(words)) AS n_distinct,
             len(list_distinct(list_transform(
               generate_series(1, greatest(len(words) - 1, 0)),
               i -> array_to_string(words[i:i + 1], ' ')))) AS n_distinct_bi,
             greatest(len(words) - 1, 0) AS n_bi
      FROM w
    )
    SELECT doc_id, n_words, n_distinct,
           1.0 - (CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE))
             AS dup_word_ratio,
           1.0 - (CAST(n_distinct_bi AS DOUBLE) / CAST(n_bi AS DOUBLE))
             AS dup_bigram_ratio,
           CAST((1.0 - (CAST(n_distinct AS DOUBLE)
                        / CAST(n_words AS DOUBLE))) > 0.5 AS INTEGER)
             AS flag_repetitive
    FROM m
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition flags: duplicate-word and duplicate-
    bigram ratios per document, plus a binary repetitive-document
    flag — the boilerplate / low-information filter of a pretraining
    quality pipeline.

    All columns are narrow per-row array expressions (no UDF, no
    shuffle); at 100 TB this is a pure map stage pipelined into
    whatever consumes the flags."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("words"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("words") - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(F.col("words"), i, 2), " "),
    )
    m = w.select(
        "doc_id",
        F.size("words").alias("n_words"),
        F.size(F.array_distinct("words")).alias("n_distinct"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bi"),
        F.greatest(F.size("words") - 1, F.lit(0)).alias("n_bi"),
    )
    dup_w = F.lit(1.0) - (
        F.col("n_distinct").cast("double") / F.col("n_words").cast("double")
    )
    dup_b = F.lit(1.0) - (
        F.col("n_distinct_bi").cast("double") / F.col("n_bi").cast("double")
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_distinct",
        dup_w.alias("dup_word_ratio"),
        dup_b.alias("dup_bigram_ratio"),
        (dup_w > 0.5).cast("int").alias("flag_repetitive"),
    )


@query(
    "pii_redact",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS redacted_name,
           CAST(length(c_name)
                - length(regexp_replace(c_name, '[0-9]', '', 'g'))
             AS INTEGER) AS n_masked
    FROM customer
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction primitive: mask every digit in a free-text
    identifier column and report how many characters were masked —
    the shape of email/phone/ID scrubbing in a compliance pass
    (swap the character class for the production patterns).

    Narrow regexp transforms, JVM-side, zero shuffle — a pure map
    stage at any scale."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]", "#").alias("redacted_name"),
        (
            F.length("c_name")
            - F.length(F.regexp_replace("c_name", "[0-9]", ""))
        ).cast("int").alias("n_masked"),
    )


@query(
    "token_length_histogram",
    oracle=r"""
    SELECT source,
           CAST(floor(log2(greatest(
             len(regexp_extract_all(text, '\S+')), 1))) AS INTEGER)
             AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
             AS total_tokens
    FROM documents
    GROUP BY source, bucket
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per source in power-of-2 token
    buckets (bucket k = [2^k, 2^(k+1)) tokens) — the length-mix
    report that drives packing efficiency and truncation-loss
    estimates for a training run.

    Pure map + one (source, bucket) rollup: tokenization stays in the
    scan projection (codegen), the shuffle carries only the tiny
    histogram key space. log2 on exact power-of-2 integers is IEEE-
    exact, so bucket boundaries are engine-identical."""
    d = _t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    bucket = F.floor(F.log2(F.greatest(n_tok, F.lit(1)))).cast("int")
    return d.select(
        "source", bucket.alias("bucket"), n_tok.alias("n_tok")
    ).groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


_ZIPF_K = 500


@query(
    "text_zipf_slope",
    oracle=rf"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
      ORDER BY n DESC, tok LIMIT {_ZIPF_K}
    ), ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank
      FROM vocab
    ), pts AS (
      SELECT round(ln(CAST(rank AS DOUBLE)), 12) AS x,
             round(ln(CAST(n AS DOUBLE)), 12) AS y
      FROM ranked
    ), sums AS (
      SELECT COUNT(*) AS k,
             SUM(CAST(x AS DECIMAL(38,18))) AS sx,
             SUM(CAST(y AS DECIMAL(38,18))) AS sy,
             SUM(CAST(x * y AS DECIMAL(38,18))) AS sxy,
             SUM(CAST(x * x AS DECIMAL(38,18))) AS sxx
      FROM pts
    )
    SELECT k AS n_points,
           ROUND(
             (k * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
             / (k * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sx AS VARCHAR) AS DOUBLE)),
           6) AS zipf_slope
    FROM sums
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over the
    top-500 vocabulary — the one-number corpus-health check (natural
    text ≈ −1; scraped boilerplate or synthetic spam bends it).

    Scale shape: one token shuffle builds counts (map-side combined
    Zipf head), TakeOrdered bounds the vocab at 500 rows, so the rank
    window and the OLS fold run on a constant-size frame (whitelisted
    single-partition — bounded by K, not corpus size). Determinism:
    per-point logs round to 12 decimals (absorbs any 1-ulp libm
    difference), the OLS sums accumulate in DECIMAL (order-free), one
    final double division, ROUND 6."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_ZIPF_K)
    )

    # the window input is the ≤ _ZIPF_K-row vocab head — explicit
    # single partition by construction
    w = Window.partitionBy(bounded_window_key(F.col("n"))).orderBy(
        F.col("n").desc(), "tok"
    )
    pts = vocab.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 12).alias("x"),
        F.round(F.log(F.col("n").cast("double")), 12).alias("y"),
    )
    dec = "decimal(38,18)"
    sums = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
    )
    k = F.col("k").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    return sums.select(
        F.col("k").alias("n_points"),
        F.round(
            (k * sxy - sx * sy) / (k * sxx - sx * sx), 6
        ).alias("zipf_slope"),
    )


_NOV_N = 8


@query(
    "text_ngram_novelty",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(text, ' ') AS words
      FROM documents
    ), g AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(words) - {_NOV_N - 1}, 0)),
               i -> array_to_string(words[i:i + {_NOV_N - 1}], ' '))) AS ng
      FROM w
    ), first AS (
      SELECT ng, MIN(doc_id) AS first_doc FROM g GROUP BY ng
    )
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM g JOIN first f USING (ng)
    GROUP BY g.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct 8-grams
    whose FIRST corpus occurrence (lowest doc_id) is this document —
    the content-freshness signal that separates original text from
    boilerplate chains and quote-heavy near-copies (novelty ~1 =
    fresh, ~0 = everything seen before).

    Scale shape: n-grams stay distinct-per-doc before any shuffle
    (bounds fan-in at |distinct grams|); the first-occurrence map and
    the gram stream co-shuffle on the gram key (one exchange each,
    co-located join — the map is corpus-sized, so broadcasting it
    would be the mistake); final rollup keys on doc_id. Exact
    long→double division at the end."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split("text", " ").alias("words"))
    grams = F.when(
        F.size("words") >= _NOV_N,
        F.transform(
            F.sequence(F.lit(1), F.size("words") - (_NOV_N - 1)),
            lambda i: F.array_join(F.slice(F.col("words"), i, _NOV_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = w.select("doc_id", F.explode(grams).alias("ng")).distinct()
    first = g.groupBy("ng").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        g.join(first, "ng")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.cast("bigint").alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "novelty"
            ),
        )
    )


# ------------------------------------------------- unigram surprisal


@query(
    "text_unigram_surprisal",
    oracle=rf"""
    WITH st AS (
      SELECT source, tok, COUNT(*) AS c FROM (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '{_TOK_RE}')) AS tok
        FROM documents
      ) GROUP BY source, tok
    ), vocab AS (
      SELECT tok, SUM(c) AS n FROM st GROUP BY tok
    ), tot AS (
      SELECT SUM(n) AS total FROM vocab
    ), scored AS (
      SELECT st.source, st.c,
             round(-log2(CAST(vocab.n AS DOUBLE)
                         / (SELECT total FROM tot)), 12) AS s
      FROM st JOIN vocab USING (tok)
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           ROUND(
             CAST(CAST(SUM(CAST(c * s AS DECIMAL(38,18))) AS VARCHAR)
                  AS DOUBLE) / SUM(c), 6) AS mean_surprisal_bits
    FROM scored GROUP BY source ORDER BY source
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean token surprisal under the corpus unigram LM —
    the cheapest perplexity proxy used as a quality / mixture
    diagnostic: boilerplate-heavy or repetitive sources score low,
    diverse natural text scores near the corpus entropy.

    Scale shape: one (source, token) shuffle with map-side combine
    builds the per-source counts; the global vocabulary is a re-agg
    of that (token-keyed, already tiny relative to the corpus); the
    surprisal join runs on DISTINCT (source, token) pairs — the
    corpus token stream itself is never joined or re-shuffled. The
    corpus-total token count is a single-row fold. Determinism:
    surprisal rounds to 12 decimals before the DECIMAL-accumulated
    weighted sum; one final double division, ROUND 6."""
    d = _t(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens_col()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = st.groupBy("tok").agg(F.sum("c").alias("n"))
    total = vocab.agg(F.sum("n")).collect()[0][0]
    scored = st.join(vocab, "tok").select(
        "source",
        "c",
        F.round(-F.log2(F.col("n").cast("double") / F.lit(total)), 12).alias(
            "s"
        ),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(
                    (F.col("c") * F.col("s")).cast("decimal(38,18)")
                ).cast("double")
                / F.sum("c"),
                6,
            ).alias("mean_surprisal_bits"),
        )
        .orderBy("source")
    )


# ------------------------------------ source-vs-corpus KL divergence


@query(
    "text_source_kl",
    oracle=rf"""
    WITH st AS (
      SELECT source, tok, COUNT(*) AS c FROM (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '{_TOK_RE}')) AS tok
        FROM documents
      ) GROUP BY source, tok
    ), ts AS (
      SELECT source, SUM(c) AS t FROM st GROUP BY source
    ), vocab AS (
      SELECT tok, SUM(c) AS n FROM st GROUP BY tok
    ), tot AS (
      SELECT SUM(n) AS total FROM vocab
    ), terms AS (
      SELECT st.source,
             round((CAST(st.c AS DOUBLE) / ts.t)
                   * log2((CAST(st.c AS DOUBLE) * (SELECT total FROM tot))
                          / (CAST(ts.t AS DOUBLE) * vocab.n)), 12) AS kl
      FROM st JOIN ts USING (source) JOIN vocab USING (tok)
    )
    SELECT source,
           ROUND(
             CAST(CAST(SUM(CAST(kl AS DECIMAL(38,18))) AS VARCHAR)
                  AS DOUBLE), 6) AS kl_bits
    FROM terms GROUP BY source ORDER BY source
    """,
)
def text_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence (bits) of each source's unigram distribution from
    the corpus distribution — the mixture-health number: a source
    whose language drifts from the blend shows a high KL, boilerplate
    clones of the blend sit near zero. Only tokens the source actually
    emits contribute (p_s > 0 implies p_corpus > 0), so no smoothing
    is needed.

    Scale shape: identical to text_unigram_surprisal — everything
    reduces to DISTINCT (source, token) pairs before any join; the
    source-totals table is source-count rows and broadcasts.
    Determinism: one identically-ordered IEEE expression per pair,
    rounded 12, DECIMAL-accumulated."""
    d = _t(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens_col()).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ts = st.groupBy("source").agg(F.sum("c").alias("t"))
    vocab = st.groupBy("tok").agg(F.sum("c").alias("n"))
    total = vocab.agg(F.sum("n")).collect()[0][0]
    terms = (
        st.join(F.broadcast(ts), "source")
        .join(vocab, "tok")
        .select(
            "source",
            F.round(
                (F.col("c").cast("double") / F.col("t"))
                * F.log2(
                    (F.col("c").cast("double") * F.lit(float(total)))
                    / (F.col("t").cast("double") * F.col("n"))
                ),
                12,
            ).alias("kl"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.round(
                F.sum(F.col("kl").cast("decimal(38,18)")).cast("double"), 6
            ).alias("kl_bits")
        )
        .orderBy("source")
    )


# ------------------------------------ Naive Bayes quality classifier

#: pseudo-label threshold (chars) — stands in for human quality labels
_NB_LONG = 300


#: shared oracle CTE: per-(test doc, label) NB log-scores — the
#: quality-score query and the eval report read the SAME frame
_NB_SCORED_CTE = f"""
    WITH lab AS (
      SELECT doc_id, text,
             CASE WHEN n_chars >= {_NB_LONG} THEN 'long' ELSE 'short' END
               AS label,
             doc_id % 5 = 0 AS is_test
      FROM documents
    ), toks AS (
      SELECT doc_id, label, is_test,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM lab
    ), cnt AS (
      SELECT tok, label, COUNT(*) AS cnt FROM toks
      WHERE NOT is_test GROUP BY tok, label
    ), stats AS (
      SELECT t.label, COUNT(*) AS tot_occ, ANY_VALUE(d.n_docs) AS n_docs
      FROM toks t
      JOIN (SELECT label, COUNT(*) AS n_docs FROM lab
            WHERE NOT is_test GROUP BY label) d ON d.label = t.label
      WHERE NOT t.is_test GROUP BY t.label
    ), vocab AS (
      SELECT COUNT(DISTINCT tok) AS v FROM toks WHERE NOT is_test
    ), tot AS (
      SELECT SUM(n_docs) AS all_docs FROM stats
    ), pri AS (
      SELECT label, tot_occ,
             ROUND(ln(CAST(n_docs AS DOUBLE) / (SELECT all_docs FROM tot)),
                   12) AS prior
      FROM stats
    ), occ AS (
      SELECT doc_id, tok, COUNT(*) AS n_occ FROM toks
      WHERE is_test GROUP BY doc_id, tok
    ), tsum AS (
      SELECT o.doc_id, s.label,
             SUM(CAST(o.n_occ * ROUND(ln(
               (COALESCE(c.cnt, 0) + 1)
               / CAST(s.tot_occ + (SELECT v FROM vocab) AS DOUBLE)
             ), 12) AS DECIMAL(38,18))) AS t
      FROM occ o
      CROSS JOIN pri s
      LEFT JOIN cnt c ON c.tok = o.tok AND c.label = s.label
      GROUP BY o.doc_id, s.label
    ), scored AS (
      -- every test doc scores every label; token-less docs score
      -- their priors alone (mirrors classify.nb_score's base frame)
      SELECT d.doc_id, s.label,
             ROUND(CAST(CAST(
               COALESCE(t.t, CAST(0 AS DECIMAL(38,18)))
               + CAST(s.prior AS DECIMAL(38,18))
             AS VARCHAR) AS DOUBLE), 6) AS log_score
      FROM (SELECT doc_id FROM lab WHERE is_test) d
      CROSS JOIN pri s
      LEFT JOIN tsum t ON t.doc_id = d.doc_id AND t.label = s.label
    )
"""


@query(
    "text_nb_quality_score",
    oracle=_NB_SCORED_CTE + """
    SELECT l.doc_id, l.log_score AS score_long, s.log_score AS score_short,
           CASE WHEN l.log_score >= s.log_score THEN 'long' ELSE 'short' END
             AS pred
    FROM scored l JOIN scored s USING (doc_id)
    WHERE l.label = 'long' AND s.label = 'short'
    ORDER BY doc_id
    """,
)
def text_nb_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based corpus curation (the fastText-quality-filter
    stage): train multinomial Naive Bayes on a labeled slice
    (doc_id %% 5 != 0; labels are a deterministic length proxy),
    score the held-out slice, emit per-doc class log-scores and the
    argmax prediction.

    Scale shape (operators/classify): training is two map-side-
    combined aggregations; the model stays a token-keyed DataFrame
    (broadcast here; co-keyed join when the vocabulary outgrows a
    broadcast); scoring joins distinct (doc, token) pairs only.
    DECIMAL accumulation makes every score bit-reproducible — the
    DuckDB oracle replays the whole computation."""
    from dasladen_spark.operators.classify import ensure_nb_model, nb_score

    d = _t(spark, sf_dir, "documents").withColumn(
        "label",
        F.when(F.col("n_chars") >= _NB_LONG, F.lit("long")).otherwise(
            F.lit("short")
        ),
    )
    train = d.filter(F.col("doc_id") % 5 != 0)
    test = d.filter(F.col("doc_id") % 5 == 0)
    # train-once via the materialized model tables: without this the
    # lazy model re-derives per plan branch (round-5 verdict: 24
    # scans / 16 shuffles in ONE action — several redundant corpus
    # passes at 100 TB). First call per corpus pays the two training
    # aggregations; every later scoring plan just reads two small
    # model tables (same amortization story as ann_indexed_topk).
    model = ensure_nb_model(train, "nb_quality_model", tag=sf_dir)
    scores = nb_score(
        test,
        spark.table(f"{model}_tok"),
        spark.table(f"{model}_lab"),
    )
    # pivot, not a self-join: the scoring plan executes ONCE and the
    # per-label scores land as columns in the same aggregation
    return (
        scores.groupBy("doc_id")
        .pivot("label", ["long", "short"])
        .agg(F.first("log_score"))
        .select(
            "doc_id",
            F.col("long").alias("score_long"),
            F.col("short").alias("score_short"),
            F.when(F.col("long") >= F.col("short"), F.lit("long"))
            .otherwise(F.lit("short"))
            .alias("pred"),
        )
        .orderBy("doc_id")
    )


#: CTE ``piv(doc_id, margin)`` after _NB_SCORED_CTE: the DuckDB side
#: of _nb_margin
_NB_MARGIN_CTE = _NB_SCORED_CTE + """
    , piv AS (
      SELECT l.doc_id, ROUND(l.log_score - s.log_score, 6) AS margin
      FROM scored l JOIN scored s USING (doc_id)
      WHERE l.label = 'long' AND s.label = 'short'
    )"""


def _nb_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, margin): the classifier's long-minus-short log score
    per held-out document, rounded to 6 decimals."""
    return text_nb_quality_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("score_long") - F.col("score_short"), 6).alias("margin"),
    )


# ------------------------------------------- BPE vocabulary induction


# BPE oracle: merge learning is INTEGER-only (pair-frequency sums,
# lexicographic tie-breaks), so the 12 rounds unroll into a generated
# CTE chain — pair count → argmax winner → fold-based rewrite per
# round (MATERIALIZED against DuckDB's exponential CTE inlining).
# The rewrite fold is provably equivalent to the operator's
# left-to-right non-overlapping walk: a freshly-merged symbol equals
# left||right and right is non-empty, so it can never re-match as
# `left` within the same round — exactly the i+=2 skip.
_BPE_N = 12


def _bpe_oracle() -> str:
    parts = [
        """
    WITH tok AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      FROM documents
    ), wf AS MATERIALIZED (
      SELECT word, COUNT(*) AS freq FROM tok GROUP BY word
    ), w0 AS MATERIALIZED (
      SELECT list_transform(generate_series(1, length(word)),
                            i -> word[i:i]) AS s, freq
      FROM wf
    )"""
    ]
    for r in range(1, _BPE_N + 1):
        parts.append(f""", p{r} AS MATERIALIZED (
      SELECT s[i] AS l, s[i+1] AS r2, SUM(freq) AS n
      FROM (SELECT s, freq, unnest(generate_series(1, len(s) - 1)) AS i
            FROM w{r - 1} WHERE len(s) >= 2)
      GROUP BY 1, 2
    ), win{r} AS MATERIALIZED (
      SELECT l, r2, n FROM p{r} ORDER BY n DESC, l, r2 LIMIT 1
    ), w{r} AS MATERIALIZED (
      SELECT freq, list_reduce(
        list_prepend(CAST([] AS VARCHAR[]), list_transform(s, x -> [x])),
        (acc, b) -> CASE WHEN len(acc) > 0 AND acc[-1] = win.l
                              AND b[1] = win.r2
                    THEN list_append(acc[1:len(acc)-1], win.l || win.r2)
                    ELSE list_concat(acc, b) END) AS s
      FROM w{r - 1}, win{r} win
    )""")
    parts.append(
        "\n    "
        + " UNION ALL ".join(
            f'SELECT {r} AS merge_rank, l AS "left", r2 AS "right",'
            f" CAST(n AS BIGINT) AS pair_freq FROM win{r}"
            for r in range(1, _BPE_N + 1)
        )
        + " ORDER BY merge_rank"
    )
    return "".join(parts)


@query("text_bpe_learn_merges", oracle=_bpe_oracle())
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: learn the top-12 BPE merges from corpus
    word frequencies (operators/bpe). The corpus collapses to the
    distinct-word table first, so each merge round costs a
    vocabulary-sized pair count — independent of corpus bytes."""
    from dasladen_spark.operators.bpe import learn_bpe_merges, word_freq_table

    words = word_freq_table(_t(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(words, n_merges=_BPE_N)
    return spark.createDataFrame(
        [(i + 1, l, r, n) for i, (l, r, n) in enumerate(merges)],
        "merge_rank INT, left STRING, right STRING, pair_freq BIGINT",
    ).orderBy("merge_rank")


# ------------------------------------------------ evaluation matrices


def _lang_confusion_oracle() -> str:

    return f"""
    WITH pred AS ({_lang_oracle()})
    SELECT lang AS actual, lang_pred AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2 ORDER BY actual, predicted
    """


@query("text_lang_confusion", oracle=_lang_confusion_oracle())
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language identifier against
    the labeled ``lang`` column — the eval artifact that turns "we
    have a lang-id" into "we know its error modes" (which pairs
    confuse, how much lands in 'und'). One map-side-combined
    aggregate over (actual, predicted)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("actual"),
            lang_id(F.col("text")).alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("actual", "predicted")
    )


@query(
    "nb_eval_report",
    oracle=_NB_SCORED_CTE + """
    , pred AS (
      SELECT l.doc_id,
             CASE WHEN l.log_score >= s.log_score THEN 'long'
                  ELSE 'short' END AS pred
      FROM scored l JOIN scored s USING (doc_id)
      WHERE l.label = 'long' AND s.label = 'short'
    ), j AS (
      SELECT p.pred, t.label
      FROM pred p JOIN (SELECT doc_id, label FROM lab WHERE is_test) t
        USING (doc_id)
    ), m AS (
      SELECT 'long' AS label,
             SUM(CASE WHEN pred='long' AND label='long' THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN pred='long' AND label<>'long' THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN pred<>'long' AND label='long' THEN 1 ELSE 0 END) AS fn
      FROM j
      UNION ALL
      SELECT 'short',
             SUM(CASE WHEN pred='short' AND label='short' THEN 1 ELSE 0 END),
             SUM(CASE WHEN pred='short' AND label<>'short' THEN 1 ELSE 0 END),
             SUM(CASE WHEN pred<>'short' AND label='short' THEN 1 ELSE 0 END)
      FROM j
    )
    SELECT label, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           ROUND(tp / CAST(greatest(tp + fp, 1) AS DOUBLE), 6) AS precision,
           ROUND(tp / CAST(greatest(tp + fn, 1) AS DOUBLE), 6) AS recall,
           ROUND(2.0 * tp / CAST(greatest(2 * tp + fp + fn, 1) AS DOUBLE), 6)
             AS f1
    FROM m ORDER BY label
    """,
)
def nb_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the NB quality classifier
    on its holdout — the eval card that must accompany any learned
    curation filter before its predictions gate data. Reads the SAME
    scored frame as text_nb_quality_score (shared oracle CTE); the
    metrics reduce from one confusion aggregate, guarded against
    empty classes with a max(·,1) denominator.

    Scale shape: scoring is the classifier's token-keyed pass; the
    confusion summary is one map-side-combined aggregate; the report
    is |classes| rows."""
    preds = text_nb_quality_score(spark, sf_dir).select("doc_id", "pred")
    truth = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.when(F.col("n_chars") >= _NB_LONG, F.lit("long"))
            .otherwise(F.lit("short"))
            .alias("label"),
        )
    )
    # ONE scoring pass: the (pred, label) confusion cells (≤ 4 rows)
    # collect to the driver; a per-class union of aggregates would
    # re-execute the whole NB train/score pipeline once per branch
    cm = {
        (r["pred"], r["label"]): r["n"]
        for r in preds.join(truth, "doc_id")
        .groupBy("pred", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    import math

    def r6(x: float) -> float:
        # SQL ROUND is half-away-from-zero; Python round is banker's
        return math.floor(x * 1e6 + 0.5) / 1e6

    def metrics(k: str):
        tp = cm.get((k, k), 0)
        fp = sum(n for (p_, l_), n in cm.items() if p_ == k and l_ != k)
        fn = sum(n for (p_, l_), n in cm.items() if p_ != k and l_ == k)
        return (
            k,
            tp,
            fp,
            fn,
            r6(tp / float(max(tp + fp, 1))),
            r6(tp / float(max(tp + fn, 1))),
            r6(2.0 * tp / float(max(2 * tp + fp + fn, 1))),
        )

    return spark.createDataFrame(
        [metrics("long"), metrics("short")],
        "label STRING, tp BIGINT, fp BIGINT, fn BIGINT,"
        " precision DOUBLE, recall DOUBLE, f1 DOUBLE",
    ).orderBy("label")


# ------------------------------------- bigram LM perplexity filtering

#: a plain space — can't appear inside [a-z0-9]+ tokens, so a
#: "prev cur" bigram string splits back unambiguously (if the token
#: regex ever admits spaces, change this to an out-of-alphabet byte
#: IN BOTH the Spark and oracle sides — the oracle interpolates it)
_BG_SEP = " "


#: THE one DuckDB spelling of the bigram-LM scorer (train on the
#: ~80% md5-hash slice, add-one smoothing, per-doc cross-entropy) —
#: every LM-scoring oracle composes from this so the separator and
#: rounding can never drift apart between them. The ``ce`` CTE ends
#: with (doc_id, n_bigrams, cross_entropy).
_LM_CE_CTE = f"""
    WITH tk AS (
      -- md5 hash split (portable_sample_filter's predicate, ~20%):
      -- a doc_id % 5 split correlates with the fixture's source
      -- assignment and starves 16/20 sources of held-out docs
      SELECT doc_id,
             substr(md5('lm' || CAST(doc_id AS VARCHAR)), 1, 8)
               < '33333333' AS is_test,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ), bg AS (
      SELECT doc_id, is_test,
             unnest(list_transform(
               generate_series(2, len(toks)),
               i -> toks[i-1] || '{_BG_SEP}' || toks[i])) AS bg
      FROM tk
    ), cnt2 AS (
      SELECT bg, COUNT(*) AS c2 FROM bg WHERE NOT is_test GROUP BY bg
    ), cnt1 AS (
      SELECT split_part(bg, '{_BG_SEP}', 1) AS prev, COUNT(*) AS c1
      FROM bg WHERE NOT is_test GROUP BY 1
    ), voc AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(toks) AS tok FROM tk WHERE NOT is_test)
    ), occ AS (
      SELECT doc_id, bg, COUNT(*) AS n_occ
      FROM bg WHERE is_test GROUP BY 1, 2
    ), terms AS (
      SELECT o.doc_id, o.n_occ,
             CAST(o.n_occ * ROUND(ln(
               (COALESCE(c2.c2, 0) + 1)
               / CAST(COALESCE(c1.c1, 0) + (SELECT v FROM voc) AS DOUBLE)
             ), 12) AS DECIMAL(38,18)) AS term
      FROM occ o
      LEFT JOIN cnt2 c2 ON c2.bg = o.bg
      LEFT JOIN cnt1 c1 ON c1.prev = split_part(o.bg, '{_BG_SEP}', 1)
    ), ce AS (
      SELECT doc_id,
             CAST(SUM(n_occ) AS BIGINT) AS n_bigrams,
             ROUND(-CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE)
                   / CAST(SUM(n_occ) AS DOUBLE), 6) AS cross_entropy
      FROM terms GROUP BY doc_id
    )
"""


def _lm_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_test, toks): each document's word tokens and its
    side of the md5 hash split (see the oracle comment: doc_id %% 5
    correlates with the fixture's source assignment)."""
    from dasladen_spark.operators.sampling import portable_sample_filter

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        portable_sample_filter(F.col("doc_id"), 0.2, salt="lm").alias(
            "is_test"
        ),
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
        ).alias("toks"),
    )


def _lm_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_test, bg) bigram stream — the shared front end of
    the LM model build and the scoring side."""
    return _lm_tokens(spark, sf_dir).select(
        "doc_id",
        "is_test",
        "toks",
        # guard: Spark's sequence(2, n) DESCENDS for n < 2 (yielding
        # out-of-range element_at indexes), so short docs must
        # short-circuit to the empty array — the same semantics the
        # oracle's generate_series gives for free
        F.explode_outer(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN"
                " transform(sequence(2, size(toks)),"
                f" i -> concat(element_at(toks, i-1), '{_BG_SEP}',"
                " element_at(toks, i)))"
                " ELSE array() END"
            )
        ).alias("bg"),
    ).filter(F.col("bg").isNotNull()).drop("toks")


def _build_lm_model(spark: SparkSession, sf_dir: str, phys: str) -> None:
    """Train the bigram LM into the ``phys`` family: ``{phys}_bg``
    (bg, c2), ``{phys}_prev`` (prev, c1 — DERIVED from the bigram
    table, no second corpus pass), ``{phys}_voc`` (1-row train vocab
    size), then ``{phys}_meta`` last (its one row names the corpus;
    nothing reads it)."""
    train_bg = _lm_bigrams(spark, sf_dir).filter(~F.col("is_test"))
    cnt2 = train_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    cnt2.write.mode("overwrite").saveAsTable(f"{phys}_bg")
    # prefix totals fold FROM the materialized bigram table: the
    # prefix count is by construction the sum of its bigram counts
    spark.table(f"{phys}_bg").select(
        F.split_part(F.col("bg"), F.lit(_BG_SEP), F.lit(1)).alias("prev"),
        "c2",
    ).groupBy("prev").agg(F.sum("c2").alias("c1")).write.mode(
        "overwrite"
    ).saveAsTable(f"{phys}_prev")
    _lm_tokens(spark, sf_dir).filter(~F.col("is_test")).select(
        F.explode("toks").alias("tok")
    ).agg(F.count_distinct("tok").alias("v")).write.mode(
        "overwrite"
    ).saveAsTable(f"{phys}_voc")
    spark.createDataFrame([(sf_dir,)], "source STRING").write.mode(
        "overwrite"
    ).saveAsTable(f"{phys}_meta")


@query(
    "text_lm_perplexity",
    oracle=_LM_CE_CTE + """
    SELECT doc_id, n_bigrams, cross_entropy
    FROM ce ORDER BY doc_id
    """,
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality filter — the CCNet-style perplexity stage:
    fit an add-one-smoothed bigram language model on the training
    slice (~80%, by the portable md5 hash split), score each held-out doc's per-token
    cross-entropy H = −Σ n·ln P(cur|prev) / N. Low-H docs read like
    the training distribution; high-H docs are the boilerplate/noise
    a perplexity threshold would drop.

    Scale shape: bigrams are built JVM-side from the token array
    (one transform, no position self-join); the model is TRAIN-ONCE
    — ``_build_lm_model`` materializes the bigram counts, the
    prefix counts (derived from the bigram table, not a second
    corpus pass), and the vocab size as one build-once family per
    corpus (operators/snapshot.ensure), so each scoring action reads
    the test slice once plus two model tables instead of re-tokenizing
    the corpus per plan branch. The model joins shuffle-side — a
    corpus-scale vocabulary never broadcasts; scoring joins distinct
    (doc, bigram) occurrence rows only. DECIMAL accumulation + the
    VARCHAR widening keeps every score bit-identical to the DuckDB
    replay."""
    from dasladen_spark.operators.snapshot import ensure

    model = ensure(
        spark,
        "lm_model",
        (sf_dir,),
        ("_bg", "_prev", "_voc", "_meta"),
        lambda phys: _build_lm_model(spark, sf_dir, phys),
    )
    cnt2 = spark.table(f"{model}_bg")
    cnt1 = spark.table(f"{model}_prev")
    voc = spark.table(f"{model}_voc")
    occ = (
        _lm_bigrams(spark, sf_dir)
        .filter(F.col("is_test"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    terms = (
        occ.join(cnt2, "bg", "left")
        .withColumn(
            "prev", F.split_part(F.col("bg"), F.lit(_BG_SEP), F.lit(1))
        )
        .join(cnt1, "prev", "left")
        .crossJoin(F.broadcast(voc))  # one row — the vocabulary size
        .select(
            "doc_id",
            "n_occ",
            (
                F.col("n_occ")
                * F.round(
                    F.log(
                        (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                        / (
                            F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")
                        ).cast("double")
                    ),
                    12,
                )
            )
            .cast("decimal(38,18)")
            .alias("term"),
        )
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum("term").cast("double")
                / F.sum("n_occ").cast("double"),
                6,
            ).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------- classifier AUC (eval)


@query(
    "nb_quality_auc",
    oracle=_NB_MARGIN_CTE + """, truth AS (
      SELECT doc_id, label = 'long' AS is_pos FROM lab WHERE is_test
    ), g AS (
      SELECT margin,
             SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS np,
             SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS nn
      FROM piv JOIN truth USING (doc_id) GROUP BY margin
    ), c AS (
      SELECT np, nn,
             COALESCE(SUM(nn) OVER (ORDER BY margin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below
      FROM g
    )
    SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(nn) AS BIGINT) AS n_neg,
           ROUND(SUM(np * (2 * below + nn))
                 / CAST(2 * SUM(np) * SUM(nn) AS DOUBLE), 6) AS auc
    FROM c
    """,
)
def nb_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the NB quality classifier's margin against the true
    labels on the held-out slice — the threshold-free eval number
    next to nb_eval_report's confusion cells. Computed by the
    Mann-Whitney identity AUC = U/(n₊·n₋) with midrank tie handling,
    kept in INTEGER arithmetic (2U = Σ n₊·(2·below + n₋ ties)) until
    the single final division — no rank sort of the raw rows, no
    floating accumulation.

    Scale shape: scores group by DISTINCT margin value first, so the
    ordering window runs over the (much smaller) margin-level frame
    — an eval-audit bound, partitioned explicitly."""
    d = _t(spark, sf_dir, "documents")
    truth = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", (F.col("n_chars") >= _NB_LONG).alias("is_pos")
    )
    m = _nb_margin(spark, sf_dir).join(truth, "doc_id")
    g = m.groupBy("margin").agg(
        F.sum(F.col("is_pos").cast("int")).alias("np"),
        F.sum((~F.col("is_pos")).cast("int")).alias("nn"),
    )
    w = (
        Window.partitionBy(bounded_window_key(F.col("np")))
        .orderBy("margin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = g.withColumn("below", F.coalesce(F.sum("nn").over(w), F.lit(0)))
    return c.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
        F.round(
            F.sum(F.col("np") * (2 * F.col("below") + F.col("nn")))
            / (2 * F.sum("np") * F.sum("nn")).cast("double"),
            6,
        ).alias("auc"),
    )


# ------------------------------------------------- feature hashing


@query(
    "text_hashed_features",
    oracle="""
    WITH tk AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    )
    SELECT doc_id,
           CAST(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1
                AS INTEGER) AS bucket,
           COUNT(*) AS n
    FROM tk GROUP BY 1, 2 ORDER BY doc_id, bucket
    """,
)
def text_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): every token maps to one
    of 16 buckets by the first hex digit of its md5, yielding a
    fixed-width sparse count representation no vocabulary table can
    bloat — the classic collision-tolerant featurizer for linear
    models over unbounded token spaces. Long format (doc, bucket,
    count); densify with a 16-slot pivot when a model wants arrays.

    Scale shape: hash + count is one map-side-combined aggregation;
    md5 (not the faster xxhash64) keeps the bucketing engine-portable
    so the oracle replays it exactly — the same trade
    sampling.portable_sample_filter documents."""
    tk = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
            )
        ).alias("tok"),
    )
    return (
        tk.select(
            "doc_id",
            F.conv(F.substring(F.md5(F.col("tok")), 1, 1), 16, 10)
            .cast("int")
            .alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("doc_id", "bucket")
    )


# --------------------------------------------------- readability


@query(
    "text_readability",
    oracle="""
    WITH d AS (
      SELECT source,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
             greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS s,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
      FROM documents
    ), scored AS (
      SELECT source,
             CAST(ROUND(206.835
               - 1.015 * (w / CAST(s AS DOUBLE))
               - 84.6 * (y / CAST(w AS DOUBLE)), 6)
               AS DECIMAL(38,6)) AS fre,
             CAST(ROUND(w / CAST(s AS DOUBLE), 6) AS DECIMAL(38,6)) AS wps
      FROM d WHERE w > 0
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(CAST(SUM(fre) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS avg_reading_ease,
           ROUND(CAST(CAST(SUM(wps) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS avg_words_per_sentence
    FROM scored GROUP BY source ORDER BY source
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source: 206.835 − 1.015·(words/
    sentences) − 84.6·(syllables/words), with syllables approximated
    by vowel-group runs and sentences by terminal-punctuation count —
    the grade-level lens a curation pipeline puts next to
    text_quality's mechanical ratios (both engines share the exact
    regex heuristics, so the score is reproducible, not
    library-dependent).

    Scale shape: three regexp counts per doc in one scan-side
    projection, one map-side-combined per-source rollup; per-doc
    scores round before DECIMAL accumulation."""
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
            )
        ).alias("w"),
        F.greatest(
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit("[.!?]"), F.lit(0))
            ),
            F.lit(1),
        ).alias("s"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0)
            )
        ).alias("y"),
    ).filter(F.col("w") > 0)
    scored = d.select(
        "source",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("w") / F.col("s").cast("double"))
            - 84.6 * (F.col("y") / F.col("w").cast("double")),
            6,
        )
        .cast("decimal(38,6)")
        .alias("fre"),
        F.round(F.col("w") / F.col("s").cast("double"), 6)
        .cast("decimal(38,6)")
        .alias("wps"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum("fre").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_reading_ease"),
            F.round(
                F.sum("wps").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_words_per_sentence"),
        )
        .orderBy("source")
    )


# ------------------------------------------ Gopher-style rule filters


@query(
    "text_gopher_rules",
    oracle="""
    WITH d AS (
      SELECT source,
        len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS words,
        len(regexp_extract_all(lower(text), '[a-z]')) AS alpha,
        length(text) AS chars,
        len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
          AS dwords
      FROM documents
    ), flags AS (
      SELECT source,
        words >= 30 AS ok_words,
        (alpha / CAST(greatest(words, 1) AS DOUBLE)) BETWEEN 4.0 AND 10.0
          AS ok_wordlen,
        (alpha / CAST(greatest(chars, 1) AS DOUBLE)) >= 0.80 AS ok_alpha,
        (dwords / CAST(greatest(words, 1) AS DOUBLE)) >= 0.55 AS ok_distinct
      FROM d
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN ok_words AND ok_wordlen AND ok_alpha
                     AND ok_distinct THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
      ROUND(SUM(CASE WHEN ok_words AND ok_wordlen AND ok_alpha
                      AND ok_distinct THEN 1 ELSE 0 END)
            / CAST(COUNT(*) AS DOUBLE), 6) AS pass_rate,
      CAST(SUM(CASE WHEN ok_words THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_words,
      CAST(SUM(CASE WHEN ok_wordlen THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_wordlen,
      CAST(SUM(CASE WHEN ok_alpha THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_alpha,
      CAST(SUM(CASE WHEN ok_distinct THEN 0 ELSE 1 END) AS BIGINT)
        AS n_fail_distinct
    FROM flags GROUP BY source ORDER BY source
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard rule filters as individual flags — the
    complement of text_quality's blended score: a doc passes only if
    it clears EVERY rule (word count ≥ 30, mean word length in
    [4, 10], alphabetic char ratio ≥ 0.80, distinct-word ratio ≥
    0.55 — the repetition rule), and the per-source report breaks
    out WHICH rule kills what (the number a curation run actually
    debugs with).

    Scale shape: four regexp counts per doc in one scan projection,
    one map-side-combined per-source rollup; every ratio is an exact
    int/int division compared once — no accumulation to diverge."""
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
            )
        ).alias("words"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[a-z]")).alias(
            "alpha"
        ),
        F.length("text").alias("chars"),
        F.size(
            F.array_distinct(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
                )
            )
        ).alias("dwords"),
    )
    ok_words = F.col("words") >= 30
    wordlen = F.col("alpha") / F.greatest(F.col("words"), F.lit(1)).cast(
        "double"
    )
    ok_wordlen = (wordlen >= 4.0) & (wordlen <= 10.0)
    ok_alpha = (
        F.col("alpha") / F.greatest(F.col("chars"), F.lit(1)).cast("double")
    ) >= 0.80
    ok_distinct = (
        F.col("dwords") / F.greatest(F.col("words"), F.lit(1)).cast("double")
    ) >= 0.55
    all_ok = ok_words & ok_wordlen & ok_alpha & ok_distinct
    cnt = lambda c: F.sum(c.cast("int")).cast("bigint")  # noqa: E731
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            cnt(all_ok).alias("n_pass"),
            F.round(
                F.sum(all_ok.cast("int")) / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("pass_rate"),
            cnt(~ok_words).alias("n_fail_words"),
            cnt(~ok_wordlen).alias("n_fail_wordlen"),
            cnt(~ok_alpha).alias("n_fail_alpha"),
            cnt(~ok_distinct).alias("n_fail_distinct"),
        )
        .orderBy("source")
    )


# --------------------------------------------- char-level entropy


@query(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, source,
             unnest(string_split_regex(lower(text), '')) AS c
      FROM documents
    ), filt AS (
      SELECT doc_id, source, c FROM ch WHERE c <> ''
    ), cnt AS (
      SELECT doc_id, source, c, COUNT(*) AS n
      FROM filt GROUP BY 1, 2, 3
    ), tot AS (
      SELECT doc_id, SUM(n) AS t FROM cnt GROUP BY doc_id
    ), ent AS (
      SELECT c.doc_id, c.source,
             CAST(SUM(CAST(ROUND(
               -(c.n / CAST(t.t AS DOUBLE))
                 * log2(c.n / CAST(t.t AS DOUBLE)), 12)
               AS DECIMAL(38,18))) AS DECIMAL(38,18)) AS h
      FROM cnt c JOIN tot t USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(CAST(SUM(CAST(ROUND(CAST(CAST(h AS VARCHAR)
                 AS DOUBLE), 6) AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS mean_char_entropy_bits
    FROM ent GROUP BY source ORDER BY source
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean character-level Shannon entropy (bits) — the
    compressibility proxy in most curation stacks: machine-generated
    or repetitive text sits well below natural prose's ~4.1 bits,
    random noise above it; pairs with text_unigram_surprisal's
    token-level lens.

    Scale shape: one explode to (doc, char) with map-side-combined
    counts (alphabet ≤ a few hundred symbols per doc, so the
    per-doc frame is tiny), per-doc entropy in rounded-DECIMAL
    terms, then a per-source mean of per-doc entropies rounded to 6
    before the final DECIMAL accumulation."""
    ch = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.col("text")), "")).alias("c"),
    ).filter(F.col("c") != "")
    cnt = ch.groupBy("doc_id", "source", "c").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t").cast("double")
    ent = (
        cnt.join(tot, "doc_id")
        .select(
            "doc_id",
            "source",
            F.round(-p * F.log2(p), 12).cast("decimal(38,18)").alias("term"),
        )
        .groupBy("doc_id", "source")
        .agg(F.sum("term").alias("h"))
    )
    return (
        ent.select(
            "source",
            F.round(F.col("h").cast("double"), 6)
            .cast("decimal(38,6)")
            .alias("h6"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum("h6").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_char_entropy_bits"),
        )
        .orderBy("source")
    )


# ----------------------------------- excess-loss mixture reweighting


@query(
    "corpus_mixture_excess_loss",
    oracle=_LM_CE_CTE + """
    , src AS (
      SELECT d.source, COUNT(*) AS n,
             ROUND(CAST(CAST(SUM(CAST(c.cross_entropy AS DECIMAL(38,6)))
                   AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS mean_ce
      FROM ce c JOIN documents d USING (doc_id)
      GROUP BY d.source
    ), ov AS (
      SELECT SUM(n) AS total,
             ROUND(CAST(CAST(SUM(CAST(mean_ce * n AS DECIMAL(38,6)))
                   AS VARCHAR) AS DOUBLE) / SUM(n), 6) AS overall_ce
      FROM src
    ), raw AS (
      SELECT s.source, s.n, s.mean_ce,
             ROUND(greatest(s.mean_ce - o.overall_ce, 0), 6) AS excess,
             CAST(ROUND((s.n / CAST(o.total AS DOUBLE))
                  * (1.0 + greatest(s.mean_ce - o.overall_ce, 0)), 12)
               AS DECIMAL(38,12)) AS w_raw
      FROM src s CROSS JOIN ov o
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs, mean_ce, excess,
           ROUND(CAST(CAST(w_raw AS VARCHAR) AS DOUBLE)
                 / CAST(CAST((SELECT SUM(w_raw) FROM raw) AS VARCHAR)
                        AS DOUBLE), 6) AS mixture_weight
    FROM raw ORDER BY source
    """,
)
def corpus_mixture_excess_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored mixture reweighting: sources whose held-out
    bigram-LM cross-entropy EXCEEDS the corpus average get upweighted
    proportionally (weight ∝ natural share × (1 + excess)) — the
    one-step, determinism-first form of excess-loss domain
    reweighting (the multiplicative 1+x update stands in for exp(x),
    which is not bit-reproducible across math libraries; for the
    small excesses a mixture step sees they agree to first order).
    Complements corpus_mixture_temperature's popularity-based
    rebalance with a LOSS-based one.

    Scale shape: rides text_lm_perplexity's per-doc scores (two
    shuffle-joined model count tables), then everything is
    per-source arithmetic on an S-row table with a 1-row total
    broadcast."""
    ce = text_lm_perplexity(spark, sf_dir).select("doc_id", "cross_entropy")
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    src_lazy = (
        ce.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(
                    F.col("cross_entropy").cast("decimal(38,6)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_ce"),
        )
    )
    # materialize the S-row per-source table ONCE: the expensive LM
    # scoring subtree would otherwise re-derive per plan branch (the
    # review probe measured 20 scans / 51 exchanges — the same
    # pathology ensure_nb_model fixed for NB). S is the number of
    # SOURCES (dozens), so a driver round-trip is the scale-correct
    # cut point, not a shortcut.
    src = spark.createDataFrame(
        src_lazy.collect(), "source STRING, n BIGINT, mean_ce DOUBLE"
    )
    overall = src.agg(
        F.sum("n").alias("total"),
        F.round(
            F.sum(
                (F.col("mean_ce") * F.col("n")).cast("decimal(38,6)")
            ).cast("double")
            / F.sum("n"),
            6,
        ).alias("overall_ce"),
    )
    excess = F.round(
        F.greatest(F.col("mean_ce") - F.col("overall_ce"), F.lit(0.0)), 6
    )
    raw = (
        src.crossJoin(F.broadcast(overall))  # one row — corpus totals
        .select(
            "source",
            "n",
            "mean_ce",
            excess.alias("excess"),
            F.round(
                (F.col("n") / F.col("total").cast("double"))
                * (
                    1.0
                    + F.greatest(
                        F.col("mean_ce") - F.col("overall_ce"), F.lit(0.0)
                    )
                ),
                12,
            )
            .cast("decimal(38,12)")
            .alias("w_raw"),
        )
    )
    wsum = raw.agg(F.sum("w_raw").alias("w_sum"))
    return (
        raw.crossJoin(F.broadcast(wsum))  # one row — the normalizer
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            "mean_ce",
            "excess",
            F.round(
                F.col("w_raw").cast("double") / F.col("w_sum").cast("double"),
                6,
            ).alias("mixture_weight"),
        )
        .orderBy("source")
    )


# --------------------------------------------- tokenizer fertility


@query(
    "text_tokenizer_fertility",
    oracle=r"""
    WITH d AS (
      SELECT source,
             len(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+| ?[0-9]+|[^A-Za-z0-9\s'']+'))
               AS n_tok,
             len(regexp_extract_all(text, '\S+')) AS n_words,
             length(text) AS n_chars
      FROM documents
    ), per AS (
      SELECT source,
             CAST(ROUND(n_tok / CAST(greatest(n_words, 1) AS DOUBLE), 6)
               AS DECIMAL(38,6)) AS fert,
             CAST(ROUND(n_chars / CAST(greatest(n_tok, 1) AS DOUBLE), 6)
               AS DECIMAL(38,6)) AS cpt
      FROM d
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(CAST(SUM(fert) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS mean_fertility,
           ROUND(CAST(CAST(SUM(cpt) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS mean_chars_per_token
    FROM per GROUP BY source ORDER BY source
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: BPE-ish pre-tokens per
    whitespace word, plus chars per token — the tokenizer-fit audit
    (fertility ≫ 1 on a source means the tokenizer fragments it
    heavily, inflating its effective training cost and sequence
    lengths; chars/token is the compression lens). Uses the same
    RE2/Java-portable pre-tokenizer pattern as text_bpe_tokens, so
    the budget numbers line up.

    Scale shape: two regexp counts per doc in the scan projection,
    per-doc ratios rounded before DECIMAL accumulation, one
    map-side-combined per-source rollup."""
    d = _t(spark, sf_dir, "documents").select(
        "source",
        bpe_token_count(F.col("text")).alias("n_tok"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
        ).alias("n_words"),
        F.length("text").alias("n_chars"),
    )
    per = d.select(
        "source",
        F.round(
            F.col("n_tok") / F.greatest(F.col("n_words"), F.lit(1)).cast(
                "double"
            ),
            6,
        )
        .cast("decimal(38,6)")
        .alias("fert"),
        F.round(
            F.col("n_chars") / F.greatest(F.col("n_tok"), F.lit(1)).cast(
                "double"
            ),
            6,
        )
        .cast("decimal(38,6)")
        .alias("cpt"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum("fert").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_fertility"),
            F.round(
                F.sum("cpt").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_chars_per_token"),
        )
        .orderBy("source")
    )


# ------------------------------------- filter threshold calibration


@query(
    "nb_threshold_calibration",
    oracle=_NB_MARGIN_CTE + """, truth AS (
      SELECT doc_id, label = 'long' AS is_pos FROM lab WHERE is_test
    ), m AS (
      SELECT margin, CASE WHEN is_pos THEN 1 ELSE 0 END AS pos
      FROM piv JOIN truth USING (doc_id)
    ), cum AS (
      -- accepting everything with margin >= t: cumulative from the top
      SELECT margin,
             SUM(SUM(pos)) OVER (ORDER BY margin DESC
               ROWS UNBOUNDED PRECEDING) AS tp,
             SUM(COUNT(*)) OVER (ORDER BY margin DESC
               ROWS UNBOUNDED PRECEDING) AS accepted,
             SUM(SUM(pos)) OVER () AS all_pos,
             SUM(COUNT(*)) OVER () AS all_docs
      FROM m GROUP BY margin
    )
    -- pick the loosest threshold meeting the bar; when NO level
    -- reaches 0.9 (small eval slices), fall back to the best
    -- achievable precision so the report is never silently empty —
    -- precision_at_t < 0.9 in the output IS the signal
    SELECT CAST(margin AS DOUBLE) AS threshold,
           CAST(accepted AS BIGINT) AS n_accepted,
           CAST(tp AS BIGINT) AS n_true_pos,
           ROUND(tp / CAST(accepted AS DOUBLE), 6) AS precision_at_t,
           ROUND(tp / CAST(all_pos AS DOUBLE), 6) AS recall_at_t,
           ROUND(accepted / CAST(all_docs AS DOUBLE), 6) AS keep_rate
    FROM cum
    ORDER BY (tp * 10 >= accepted * 9) DESC,
             CASE WHEN tp * 10 >= accepted * 9 THEN accepted ELSE 0 END
               DESC,
             tp / CAST(accepted AS DOUBLE) DESC, margin
    LIMIT 1
    """,
)
def nb_threshold_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deploy-the-filter calibration: the LOOSEST NB-margin threshold
    whose acceptance set still holds ≥ 0.9 precision on the eval
    slice, with its recall and corpus keep-rate — the number that
    turns a scored classifier into a production quality gate
    (complements nb_quality_auc's threshold-free view). The
    precision test is exact integer arithmetic (tp·10 ≥ accepted·9),
    so no floating comparison picks the winner.

    Scale shape: margins group to distinct values first; the
    cumulative sweep windows over the margin-level frame only
    (eval-audit bound, explicit single partition)."""
    d = _t(spark, sf_dir, "documents")
    truth = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", (F.col("n_chars") >= _NB_LONG).cast("int").alias("pos")
    )
    m = _nb_margin(spark, sf_dir).join(truth, "doc_id")
    g = m.groupBy("margin").agg(
        F.sum("pos").alias("np"), F.count(F.lit(1)).alias("nd")
    )
    w = (
        Window.partitionBy(bounded_window_key(F.col("nd")))
        .orderBy(F.col("margin").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(bounded_window_key(F.col("nd")))
    cum = g.select(
        "margin",
        F.sum("np").over(w).alias("tp"),
        F.sum("nd").over(w).alias("accepted"),
        F.sum("np").over(wall).alias("all_pos"),
        F.sum("nd").over(wall).alias("all_docs"),
    )
    meets = F.col("tp") * 10 >= F.col("accepted") * 9
    return (
        cum.select(
            F.col("margin").cast("double").alias("threshold"),
            F.col("accepted").cast("bigint").alias("n_accepted"),
            F.col("tp").cast("bigint").alias("n_true_pos"),
            F.round(
                F.col("tp") / F.col("accepted").cast("double"), 6
            ).alias("precision_at_t"),
            F.round(F.col("tp") / F.col("all_pos").cast("double"), 6).alias(
                "recall_at_t"
            ),
            F.round(
                F.col("accepted") / F.col("all_docs").cast("double"), 6
            ).alias("keep_rate"),
            meets.alias("_meets"),
            (F.col("tp") / F.col("accepted").cast("double")).alias("_prec"),
        )
        # same fallback rule as the oracle: loosest qualifying level,
        # else the best-precision level — never an empty report
        .orderBy(
            F.col("_meets").desc(),
            F.when(F.col("_meets"), F.col("n_accepted"))
            .otherwise(F.lit(0))
            .desc(),
            F.col("_prec").desc(),
            "threshold",
        )
        .limit(1)
        .drop("_meets", "_prec")
    )


# --------------------------------------- quality-signal correlation


@query(
    "quality_signal_correlation",
    oracle=_LM_CE_CTE + f"""
    , q AS (
      SELECT d.doc_id,
             {QUALITY_SQL.format(t='d.text')} AS quality
      FROM documents d
      WHERE substr(md5('lm' || CAST(d.doc_id AS VARCHAR)), 1, 8)
              < '33333333'
    ), pair AS (
      SELECT q.quality AS x, c.cross_entropy AS y
      FROM q JOIN ce c USING (doc_id)
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,18)))
                  AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(ROUND(y * y, 12) AS DECIMAL(38,18)))
                  AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,18)))
                  AS VARCHAR) AS DOUBLE) AS sxy
      FROM pair
    )
    SELECT n,
           ROUND((sxy / n - (sx / n) * (sy / n))
                 / greatest(sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0))
                            * sqrt(greatest(syy / n - (sy / n) * (sy / n), 0)),
                            0.000000000001), 6) AS corr_quality_ce
    FROM s
    """,
)
def quality_signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the quality signals agree? Pearson correlation between the
    heuristic quality score and the LM cross-entropy on the held-out
    slice — strongly negative means the cheap score and the learned
    score rank documents the same way (run the cheap one at scale);
    near zero means they measure different things and the curation
    gate needs both.

    Scale shape: per-doc signals join on doc_id once; the correlation
    is five DECIMAL-accumulated sufficient statistics and one final
    expression — no per-pair work beyond the join."""
    from dasladen_spark.operators.sampling import portable_sample_filter

    d = _t(spark, sf_dir, "documents").filter(
        portable_sample_filter(F.col("doc_id"), 0.2, salt="lm")
    )
    q = d.select("doc_id", quality_score(F.col("text")).alias("x"))
    ce = text_lm_perplexity(spark, sf_dir).select(
        "doc_id", F.col("cross_entropy").alias("y")
    )
    pair = q.join(ce, "doc_id")
    dec6, dec18 = "decimal(38,6)", "decimal(38,18)"
    s = pair.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec6)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec6)).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast(dec18))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("y") * F.col("y"), 12).cast(dec18))
        .cast("double")
        .alias("syy"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast(dec18))
        .cast("double")
        .alias("sxy"),
    )
    mean = lambda c: F.col(c) / F.col("n")  # noqa: E731
    cov = F.col("sxy") / F.col("n") - mean("sx") * mean("sy")
    vx = F.greatest(
        F.col("sxx") / F.col("n") - mean("sx") * mean("sx"), F.lit(0.0)
    )
    vy = F.greatest(
        F.col("syy") / F.col("n") - mean("sy") * mean("sy"), F.lit(0.0)
    )
    return s.select(
        "n",
        F.round(
            cov / F.greatest(F.sqrt(vx) * F.sqrt(vy), F.lit(1e-12)), 6
        ).alias("corr_quality_ce"),
    )


# --------------------------------------- classifier reliability bins


@query(
    "nb_reliability_bins",
    oracle=_NB_MARGIN_CTE + """, truth AS (
      SELECT doc_id, CASE WHEN label = 'long' THEN 1 ELSE 0 END AS pos
      FROM lab WHERE is_test
    ), m AS (
      SELECT p.doc_id, p.margin, t.pos,
             NTILE(10) OVER (ORDER BY p.margin DESC, p.doc_id) AS bin
      FROM piv p JOIN truth t USING (doc_id)
    )
    SELECT bin,
           COUNT(*) AS n_docs,
           ROUND(CAST(CAST(SUM(CAST(margin AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(38,12)), 6)
             AS mean_margin,
           ROUND(CAST(CAST(SUM(pos) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS DECIMAL(38,12)), 6)
             AS pos_rate
    FROM m GROUP BY bin
    """,
)
def nb_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table for the NB quality filter:
    eval docs bucketed into 10 confidence deciles by NB margin, each
    bin reporting its size, mean margin, and OBSERVED positive rate —
    the curve that says whether "high margin" actually means "more
    likely long-form". A monotone pos_rate over bins is the
    calibration evidence nb_threshold_calibration's single cut-point
    assumes; a flat or inverted stretch localizes where the
    classifier's confidence lies.

    Scale shape: scoring reuses the materialized NB model
    (classify.ensure_nb_model — no retrain); the NTILE ranking
    windows over the EVAL SLICE only (a fixed doc_id % 5 sample,
    audit-bound by construction), then a 10-group aggregate. Margins
    sum in exact DECIMAL, one rounded division per output column."""
    d = _t(spark, sf_dir, "documents")
    truth = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", (F.col("n_chars") >= _NB_LONG).cast("int").alias("pos")
    )
    m = _nb_margin(spark, sf_dir).join(truth, "doc_id")
    w = Window.partitionBy(bounded_window_key(F.col("pos"))).orderBy(
        F.col("margin").desc(), F.col("doc_id")
    )
    binned = m.withColumn("bin", F.ntile(10).over(w))
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            (
                F.sum(F.col("margin").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).cast("decimal(38,12)"),
            6,
        ).alias("mean_margin"),
        F.round(
            (
                F.sum("pos").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).cast("decimal(38,12)"),
            6,
        ).alias("pos_rate"),
    )
