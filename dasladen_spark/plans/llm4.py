"""Training-data pipeline queries, part 4: information-theoretic
quality scoring and exact substring-level duplication metrics.

North-star extensions absent from the reference (its query power is
delegated SQL, /root/reference/dasladen/task.py:94-107). Same
determinism discipline as llm3: per-row doubles are rounded to 12
decimals, accumulated in DECIMAL (order-independent under any
partitioning), one final double division + ROUND.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.operators.intervals import merge_intervals
from dasladen_spark.plans.llm3 import _FP_SQL
from dasladen_spark.plans.registry import query
from dasladen_spark.session import load_table as _t

_TOK_RE = "[a-z0-9]+"


def tokens_col(text_col: str = "text"):
    """Lower-cased word tokens as an array column (JVM regex, no UDF)."""
    return F.regexp_extract_all(F.lower(text_col), F.lit(_TOK_RE), F.lit(0))


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


# ------------------------------------- exact duplicated-span coverage

_SPAN_N = 8  # tokens per shingle


def duplicated_span_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = _SPAN_N,
    min_count: int = 2,
) -> DataFrame:
    """Per-document fraction of token positions covered by a token
    ``span``-gram occurring ≥ ``min_count`` times corpus-wide — the
    exact substring-duplication metric behind span-level dedup
    (near-dup detectors miss partial template reuse; this measures
    it position-exactly).

    Scale shape: shingles are built inside the row with
    ``transform(sequence(...))`` over the token array (no shuffle,
    no UDF) and reduced to (doc, pos, hash) before anything wide
    runs; ONE hash-keyed shuffle both counts global occurrences and
    keeps the duplicated positions — a window count over ``h``
    (spill-safe for arbitrarily hot boilerplate shingles) replaces
    the previous groupBy + self-equi-join, which ran the whole
    tokenize+md5 shingling projection TWICE (r12 job profile: the
    two ~1 s single-stage jobs of the funnel's s4 stage were the two
    scans feeding the count exchange and the join exchange). The
    interval union (operators/intervals.merge_intervals) stays a
    single doc-keyed exchange. Returns (id, n_tokens,
    covered_tokens, dup_coverage) for every input doc (0.0 where
    nothing repeats)."""
    base = docs.select(
        F.col(id_col).alias("__id"), tokens_col(text_col).alias("__a")
    ).withColumn("__n", F.size("__a"))
    sh = (
        base.filter(F.col("__n") >= span)
        .select(
            "__id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(__a) - {span - 1}),"
                    f" i -> struct(i AS pos,"
                    f" md5(concat_ws(' ', slice(__a, i, {span}))) AS h))"
                )
            ).alias("sg"),
        )
        .select("__id", F.col("sg.pos").alias("pos"), F.col("sg.h").alias("h"))
    )
    w = Window.partitionBy("h")
    ints = (
        sh.withColumn("__cnt", F.count(F.lit(1)).over(w))
        .filter(F.col("__cnt") >= min_count)
        .select(
            "__id",
            F.col("pos").alias("start"),
            (F.col("pos") + span).alias("end"),
        )
    )
    cov = (
        merge_intervals(ints, "__id", "start", "end")
        .groupBy("__id")
        .agg(F.sum(F.col("end") - F.col("start")).alias("covered"))
    )
    return (
        base.join(cov, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__n").cast("bigint").alias("n_tokens"),
            F.coalesce("covered", F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
            F.round(
                F.coalesce("covered", F.lit(0))
                / F.greatest(F.col("__n"), F.lit(1)),
                12,
            ).alias("dup_coverage"),
        )
    )


@query(
    "dedup_span_coverage",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id, source,
             regexp_extract_all(lower(text), '{_TOK_RE}') AS a
      FROM documents
    ), sh AS (
      SELECT doc_id, (u).pos AS pos, md5((u).s) AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a) - {_SPAN_N - 2}),
                 i -> {{'pos': i,
                        's': array_to_string(a[i:i+{_SPAN_N - 1}], ' ')}}))
                 AS u
        FROM base WHERE len(a) >= {_SPAN_N}
      )
    ), dup AS (
      SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2
    ), ints AS (
      SELECT doc_id, pos AS s_start, pos + {_SPAN_N} AS s_end
      FROM sh JOIN dup USING (h)
    ), marked AS (
      SELECT doc_id, s_start, s_end,
             MAX(s_end) OVER (PARTITION BY doc_id ORDER BY s_start, s_end
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM ints
    ), isl AS (
      SELECT doc_id, s_start, s_end,
             SUM(CASE WHEN pm IS NULL OR s_start > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s_start, s_end
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      FROM marked
    ), per_isl AS (
      SELECT doc_id, gid, MAX(s_end) - MIN(s_start) AS covered
      FROM isl GROUP BY doc_id, gid
    ), cov AS (
      SELECT doc_id, SUM(covered) AS covered FROM per_isl GROUP BY doc_id
    ), per_doc AS (
      SELECT b.doc_id, b.source, len(b.a) AS n_tok,
             COALESCE(cov.covered, 0) AS covered,
             round(COALESCE(cov.covered, 0)
                   / greatest(len(b.a), 1), 12) AS coverage
      FROM base b LEFT JOIN cov USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN coverage > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_dups,
           CAST(SUM(covered) AS BIGINT) AS covered_tokens,
           ROUND(
             CAST(CAST(SUM(CAST(coverage AS DECIMAL(38,12))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 6) AS avg_dup_coverage
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-span audit: share of each document's
    token stream covered by an exact {span}-gram that recurs anywhere
    in the corpus (position-exact interval union, touching spans
    coalesced), rolled up to the per-source report a dedup budget is
    planned from. See duplicated_span_coverage for the scale shape;
    the rollup adds one tiny source-keyed exchange."""
    d = _t(spark, sf_dir, "documents")
    per_doc = duplicated_span_coverage(d, "doc_id", "text", span=_SPAN_N)
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("dup_coverage") > 0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("docs_with_dups"),
            F.sum("covered_tokens").cast("bigint").alias("covered_tokens"),
            F.round(
                F.sum(F.col("dup_coverage").cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_dup_coverage"),
        )
        .orderBy("source")
    )


# ----------------------------------- maximal duplicated spans (cut)

from dasladen_spark.operators.dedup import (  # noqa: E402  (re-exports:
    SPAN_MAX_DF as _CUT_MAX_DF,  # task code and tests import these)
    SPAN_MIN_TOKENS as _CUT_MIN,
    SPAN_SEED_N as _CUT_N,
    duplicated_spans,
)


@query(
    "dedup_duplicate_spans",
    # same seed-chain algorithm in DuckDB: md5 seed k-grams, hub-capped
    # seed join, islands along each (pa - pb) diagonal, maximal runs.
    # Integer positions + md5 strings only — exact by construction.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), h AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i : i + {_CUT_N - 1}], ' ')) AS h
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {_CUT_N - 1})) AS i
        FROM t WHERE len(toks) >= {_CUT_N}
      )
    ), good AS (
      SELECT h FROM h GROUP BY h
      HAVING COUNT(*) >= 2 AND COUNT(*) <= {_CUT_MAX_DF}
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM h a JOIN h b ON a.h = b.h AND a.doc_id < b.doc_id
      WHERE a.h IN (SELECT h FROM good)
    ), r AS (
      SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
             pa - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
      FROM m
    ), runs AS (
      SELECT doc_a, doc_b,
             MIN(pa) AS a_start, MIN(pb) AS b_start,
             COUNT(*) + {_CUT_N - 1} AS span_tokens
      FROM r GROUP BY doc_a, doc_b, diag, isl
    )
    SELECT runs.doc_a, runs.doc_b, runs.a_start, runs.b_start,
           runs.span_tokens,
           md5(array_to_string(
             t.toks[a_start : a_start + span_tokens - 1], ' ')) AS span_md5
    FROM runs JOIN t ON t.doc_id = runs.doc_a
    WHERE span_tokens >= {_CUT_MIN}
    ORDER BY span_tokens DESC, doc_a, doc_b, a_start, b_start
    LIMIT 100
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans per doc pair — the suffix-array
    exact-substring dedup of Lee et al. (ACL 2022), re-expressed as
    seed-hash joins chained along diagonals (operators/dedup
    duplicated_spans). Unlike dedup_span_coverage (a coverage
    FRACTION), this emits the spans themselves — start positions in
    both docs, token length, content hash — so a curation pipeline
    can CUT the later occurrence and keep each doc's unique remainder
    (the `dedup` task's ``method: "spans"`` does exactly that). Top
    100 spans by length.

    Scale shape: one md5 per token position (staged winnowing
    projection), a hub-capped (max_df={_CUT_MAX_DF}) seed-hash join,
    and pair-keyed windows — no global sort until the final top-k
    (TakeOrdered). Integer-only output → oracle-exact."""
    return (
        duplicated_spans(_t(spark, sf_dir, "documents"))
        .orderBy(
            F.col("span_tokens").desc(), "doc_a", "doc_b", "a_start", "b_start"
        )
        .limit(100)
    )


# ---------------------------------------------- robust outlier audit


@query(
    "q_event_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT user_id, round(quantile_cont(value, 0.5), 9) AS med
      FROM events GROUP BY user_id
    ), dev AS (
      SELECT e.event_id, e.user_id, e.value, m.med,
             round(abs(e.value - m.med), 9) AS ad
      FROM events e JOIN med m USING (user_id)
    ), mad AS (
      SELECT user_id, round(quantile_cont(ad, 0.5), 9) AS mad
      FROM dev GROUP BY user_id
    )
    SELECT d.event_id, d.user_id, d.value, d.med, m.mad,
           round(0.6745 * d.ad / greatest(m.mad, 1e-9), 9) AS robust_z
    FROM dev d JOIN mad m USING (user_id)
    WHERE round(0.6745 * d.ad / greatest(m.mad, 1e-9), 9) > 3.5
    """,
)
def q_event_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier detection: events whose value sits more
    than 3.5 robust z-scores (0.6745·|x−median|/MAD) from that user's
    median — the outlier gate that, unlike mean/stddev, is not dragged
    by the outliers it hunts.

    Scale shape: both medians are exact sort-based percentiles keyed
    on user_id, so the whole query is user-keyed — the two aggregates
    and two joins share one hash partitioning (AQE reuses the
    exchange); no global sort, no window over the full stream.
    Determinism: medians round to 9 before deviations are taken, so
    the interpolated midpoint's last-ulp never propagates."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("user_id").agg(
        F.round(F.percentile("value", F.lit(0.5)), 9).alias("med")
    )
    dev = e.join(med, "user_id").select(
        "event_id",
        "user_id",
        "value",
        "med",
        F.round(F.abs(F.col("value") - F.col("med")), 9).alias("ad"),
    )
    mad = dev.groupBy("user_id").agg(
        F.round(F.percentile("ad", F.lit(0.5)), 9).alias("mad")
    )
    z = F.round(
        0.6745 * F.col("ad") / F.greatest(F.col("mad"), F.lit(1e-9)), 9
    )
    return (
        dev.join(mad, "user_id")
        .withColumn("robust_z", z)
        .filter(F.col("robust_z") > 3.5)
        .select("event_id", "user_id", "value", "med", "mad", "robust_z")
    )


# ------------------------------------------- int8 quantization audit


@query(
    "embedding_int8_quantize",
    oracle="""
    WITH ex AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), sc AS (
      SELECT dim, MAX(ABS(v)) AS scale FROM ex GROUP BY dim
    ), er AS (
      SELECT e.dim, s.scale,
             round(v - least(greatest(round(v * 127.0 / s.scale), -127),
                             127) * s.scale / 127.0, 12) AS err
      FROM ex e JOIN sc s USING (dim)
    )
    SELECT dim,
           ROUND(MAX(scale), 9) AS scale,
           COUNT(*) AS n,
           ROUND(MAX(ABS(err)), 9) AS max_abs_err,
           ROUND(
             CAST(CAST(SUM(CAST(err * err AS DECIMAL(38,18))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 12) AS mse
    FROM er GROUP BY dim ORDER BY dim
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization audit: the absmax
    scale each dimension would ship with, plus the reconstruction
    error it costs (max |err| and MSE) — the go/no-go table for
    shrinking an ANN index 4x.

    Scale shape: the exploded (dim, value) stream is map-side-combined
    into 64 absmax rows; those broadcast back onto the stream (no
    re-shuffle of the corpus), and the error rollup is one more
    64-group map-side-combined exchange. Everything is JVM expression
    code — quantize/clip/error never leave codegen. Determinism:
    identical IEEE expression on both engines, per-row error rounded
    to 12 before the DECIMAL-accumulated MSE."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        F.posexplode("embedding").alias("dim0", "vf")
    ).select(
        (F.col("dim0") + 1).alias("dim"), F.col("vf").cast("double").alias("v")
    )
    sc = ex.groupBy("dim").agg(F.max(F.abs("v")).alias("scale"))
    q = F.least(
        F.greatest(F.round(F.col("v") * 127.0 / F.col("scale"), 0), F.lit(-127.0)),
        F.lit(127.0),
    )
    er = ex.join(F.broadcast(sc), "dim").select(
        "dim",
        "scale",
        F.round(F.col("v") - q * F.col("scale") / 127.0, 12).alias("err"),
    )
    return (
        er.groupBy("dim")
        .agg(
            F.round(F.max("scale"), 9).alias("scale"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.max(F.abs("err")), 9).alias("max_abs_err"),
            F.round(
                F.sum((F.col("err") * F.col("err")).cast("decimal(38,18)"))
                .cast("double")
                / F.count(F.lit(1)),
                12,
            ).alias("mse"),
        )
        .orderBy("dim")
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


# --------------------------------------- semantic near-pair audit

# fingerprint SQL is imported from llm3 (top of file) so the two
# modules' oracle regexes can't drift — an earlier redefinition here
# doubled the backslashes, turning '\s' into literal backslash-s and
# making the oracle's whitespace collapse a no-op

#: audit threshold — tuned to the fixture's cosine range (max pair
#: ~0.5); a production corpus with planted paraphrases would sit at
#: the conventional 0.8
_SEM_T = 0.35

from dasladen_spark.plans.llm import (  # noqa: E402  (proven cross-engine cosine spelling + shared brute slice)
    _BRUTE_GATE_CAP,
    _cosine_sql,
)


@query(
    "dedup_semantic_pairs_audit",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, {_FP_SQL.format(t='text')} AS f FROM documents
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_cosine_sql('a.embedding', 'b.embedding')} AS c
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < {_BRUTE_GATE_CAP} AND b.vec_id < {_BRUTE_GATE_CAP}
    )
    SELECT p.id_a, p.id_b, ROUND(p.c, 6) AS cosine,
           (fa.f = fb.f) AS same_text
    FROM pairs p
    JOIN fp fa ON fa.doc_id = p.id_a
    JOIN fp fb ON fb.doc_id = p.id_b
    WHERE p.c >= {_SEM_T}
    ORDER BY p.id_a, p.id_b
    """,
)
def dedup_semantic_pairs_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-pair audit: document pairs above an embedding
    cosine threshold, each flagged with whether their normalized TEXT
    fingerprints also match — splitting textual duplicates (caught by
    cheap exact dedup) from paraphrase-like pairs (only semantic
    dedup catches them). The same_text=false share is what sizes a
    semantic-dedup budget.

    Scale shape: pair generation reuses embedding_near_dup_pairs
    (brute over the BLOCKED vec_id < {_BRUTE_GATE_CAP} slice — the
    full corpus at every sf the driver grades; brute raises loudly
    above its row cap, and method='lsh' is the 100 TB path —
    hyperplane buckets, equi-join, no O(n^2)); fingerprints join by
    doc id onto the tiny surviving pair set, never the cross
    product. An at-scale audit should also prefer cluster/survivor
    (linear) outputs: the TRUE pair count itself grows ~quadratically
    in dup density, so an all-pairs report is output-bound no matter
    how it is computed (503,976 rows at sf1)."""
    from dasladen_spark.functions.text import normalize_text
    from dasladen_spark.operators.dedup import embedding_near_dup_pairs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("f")
    )
    pairs = embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < _BRUTE_GATE_CAP
        ),
        "embedding",
        "vec_id",
        threshold=_SEM_T,
        method="brute",
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    fa = d.select(F.col("doc_id").alias("id_a"), F.col("f").alias("fa"))
    fb = d.select(F.col("doc_id").alias("id_b"), F.col("f").alias("fb"))
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            "cosine",
            (F.col("fa") == F.col("fb")).alias("same_text"),
        )
        .orderBy("id_a", "id_b")
    )


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


# --------------------------------------------- event rate spike flags


@query(
    "q_event_rate_spikes",
    oracle="""
    WITH per_min AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             COUNT(*) AS n
      FROM events GROUP BY user_id, date_trunc('hour', ts)
    ), per_user AS (
      SELECT user_id,
             round(CAST(SUM(n) AS DOUBLE) / COUNT(*), 9) AS user_avg
      FROM per_min GROUP BY user_id
    )
    SELECT m.user_id, m.hour, m.n, u.user_avg,
           round(m.n / u.user_avg, 9) AS ratio
    FROM per_min m JOIN per_user u USING (user_id)
    WHERE m.n > 1.5 * u.user_avg
    ORDER BY m.user_id, m.hour
    """,
)
def q_event_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: (user, hour) cells whose event count exceeds
    1.5x that user's average active-hour rate — the abuse/bot screen a
    pipeline runs before events feed any model.

    Scale shape: both aggregates and the join stay keyed on user_id
    (the hour rollup keys on (user, hour), a superset), so one
    hash partitioning serves the whole query; no global window.
    Determinism: integer counts, one rounded division per side."""
    e = _t(spark, sf_dir, "events")
    per_min = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    per_user = per_min.groupBy("user_id").agg(
        F.round(F.sum("n").cast("double") / F.count(F.lit(1)), 9).alias(
            "user_avg"
        )
    )
    return (
        per_min.join(per_user, "user_id")
        .filter(F.col("n") > 1.5 * F.col("user_avg"))
        .select(
            "user_id",
            "hour",
            "n",
            "user_avg",
            F.round(F.col("n") / F.col("user_avg"), 9).alias("ratio"),
        )
        .orderBy("user_id", "hour")
    )


# --------------------------------------------- label centroid audit


@query(
    "embedding_label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             round(CAST(unnest(embedding) AS DOUBLE), 12) AS v
      FROM embeddings
    )
    SELECT label, dim,
           COUNT(*) AS n,
           ROUND(
             CAST(CAST(SUM(CAST(v AS DECIMAL(38,18))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 9) AS centroid
    FROM ex GROUP BY label, dim ORDER BY label, dim
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the class prototypes): the mean
    vector each label's members sit around — the starting point for
    centroid-seeded clustering, label-noise screening (points far
    from their own centroid), and drift monitoring between corpus
    versions.

    Scale shape: one exploded (label, dim)-keyed rollup with map-side
    combine — (labels x dim) output rows regardless of corpus size;
    no joins, no windows, no Python. Determinism: per-component
    doubles round to 12 then accumulate in DECIMAL (order-free under
    any partitioning), one final division, ROUND 9."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("dim0", "vf")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("vf").cast("double"), 12).alias("v"),
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("v").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


# ------------------------------------------------ dedup/clean funnel

#: DuckDB spelling of functions/text.quality_score (same pair proven
#: by the text_quality query; kept in lockstep with llm3._QUALITY_SQL)
_QUALITY_SQL = r"""
    ROUND(
      0.5 * (len(regexp_extract_all({t}, '[A-Za-z]'))
             / greatest(length({t}), 1))
    + 0.25 * greatest(0.0,
        1.0 - (len(regexp_extract_all({t}, '[A-Za-z]'))
                 / greatest(len(regexp_extract_all({t}, '\S+')), 1) - 5.0)
             * (len(regexp_extract_all({t}, '[A-Za-z]'))
                 / greatest(len(regexp_extract_all({t}, '\S+')), 1) - 5.0)
             / 25.0)
    + 0.25 * (len(list_distinct(regexp_extract_all({t}, '\S+')))
              / greatest(len(regexp_extract_all({t}, '\S+')), 1)),
    4)
"""

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
             {_FP_SQL.format(t='text')} AS fp,
             {_QUALITY_SQL.format(t='text')} AS q
      FROM documents
    ), s2 AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) rn
        FROM d0) WHERE rn = 1
    ), s3 AS (
      SELECT * FROM s2 WHERE nt >= {_FUNNEL_MIN_TOK}
    ), sh AS (
      SELECT doc_id, (u).pos AS pos, md5((u).s) AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a) - {_SPAN_N - 2}),
                 i -> {{'pos': i,
                        's': array_to_string(a[i:i+{_SPAN_N - 1}], ' ')}}))
                 AS u
        FROM s3 WHERE len(a) >= {_SPAN_N}
      )
    ), dup AS (
      SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2
    ), ints AS (
      SELECT doc_id, pos AS s_start, pos + {_SPAN_N} AS s_end
      FROM sh JOIN dup USING (h)
    ), marked AS (
      SELECT doc_id, s_start, s_end,
             MAX(s_end) OVER (PARTITION BY doc_id ORDER BY s_start, s_end
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM ints
    ), isl AS (
      SELECT doc_id, s_start, s_end,
             SUM(CASE WHEN pm IS NULL OR s_start > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s_start, s_end
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      FROM marked
    ), per_isl AS (
      SELECT doc_id, gid, MAX(s_end) - MIN(s_start) AS covered
      FROM isl GROUP BY doc_id, gid
    ), cov AS (
      SELECT doc_id, SUM(covered) AS covered FROM per_isl GROUP BY doc_id
    ), s4 AS (
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


# ----------------------------------------------- ANN recall report


def _recall_report_oracle() -> str:
    """ann_recall_report replayed exactly (exact since round 10 — the
    audit of the approximate methods is itself bit-replayable because
    every audited method is): ONE statement composes

    - the IVF replay (llm._ivf_ctes, 16 cells / probe 4),
    - ONE hyperplane bucket replay (data-independent plane family),
      whose candidate join serves THREE rows — the lsh search, the
      pq_indexed ADC, and the post-append drift ADC (an append-grown
      index probes the same buckets as a full build),
    - THREE independently-fit PQ chains (llm6._pq_ctes prefixes
      ``pq_``/``pi_``/``dr_``): flat, indexed, and the drift chain
      whose codebooks fit on ``vec_id % 10 < 7`` only (the 70%
      build) while codes stay corpus-wide — exactly
      append_to_ann_index's stored-codebook encode,
    - the exact top-5 baseline; each method's n_hit is the
      (query_id, neighbor_id) intersection, and with n_exact =
      |probes| × 5 the recalls are exact multiples of 1/n_exact, so
      ROUND(…, 4) agrees bit-for-bit across engines."""
    from dasladen_spark.operators.dedup import hyperplane_buckets_oracle_cte
    from dasladen_spark.plans.llm import _IVF_ITERS, _ivf_ctes
    from dasladen_spark.plans.llm6 import _pq_ctes

    k = 5
    ivf_iters = _IVF_ITERS
    # _ivf_ctes carries its own leading WITH
    parts = [_ivf_ctes(16, 4, ivf_iters, 64)]
    parts.append(
        ", "
        + hyperplane_buckets_oracle_cte(
            16, 4, 64, relation="raw", id_col="vec_id", vec_col="v"
        )
    )
    parts.append(f""", cand AS MATERIALIZED (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c USING (t, bkt)
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ), r_exact AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_cosine_sql('q.v', 'c.v')} DESC,
                          c.vec_id) AS rk
        FROM raw q JOIN raw c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 10)
      WHERE rk <= {k}
    ), r_nex AS (SELECT COUNT(*) AS n FROM r_exact
    ), r_lsh AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT cand.query_id, cand.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY cand.query_id
                 ORDER BY {_cosine_sql('qr.v', 'nr.v')} DESC,
                          cand.neighbor_id) AS rk
        FROM cand JOIN raw qr ON qr.vec_id = cand.query_id
                  JOIN raw nr ON nr.vec_id = cand.neighbor_id)
      WHERE rk <= {k}
    ), r_ivf AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, l.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {_cosine_sql('qr.v', 'nr.v')} DESC,
                          l.vec_id) AS rk
        FROM qprobe p JOIN a{ivf_iters + 1} l USING (cell)
             JOIN raw qr ON qr.vec_id = p.query_id
             JOIN raw nr ON nr.vec_id = l.vec_id
        WHERE l.vec_id <> p.query_id)
      WHERE rk <= {k}
    ), """)
    parts.append(_pq_ctes(prefix="pq_"))
    parts.append(", ")
    parts.append(_pq_ctes(prefix="pi_", cand_rel="cand"))
    parts.append(", ")
    parts.append(
        _pq_ctes(prefix="dr_", cand_rel="cand", fit_where="vec_id % 10 < 7")
    )
    rows = []
    for method, rel in (
        ("ivf", "r_ivf"),
        ("lsh", "r_lsh"),
        ("pq", "pq_top"),
        ("pq_indexed", "pi_top"),
        ("pq_indexed_post_append", "dr_top"),
    ):
        rows.append(f"""SELECT '{method}' AS method,
             (SELECT n FROM r_nex) AS n_exact,
             (SELECT COUNT(*) FROM {rel}
              JOIN r_exact USING (query_id, neighbor_id)) AS n_hit,
             ROUND((SELECT COUNT(*) FROM {rel}
                    JOIN r_exact USING (query_id, neighbor_id))
                   / CAST((SELECT n FROM r_nex) AS DOUBLE), 4)
               AS recall_at_5""")
    parts.append(
        "SELECT * FROM ("
        + " UNION ALL ".join(rows)
        + ") ORDER BY method"
    )
    return "".join(parts)


@query("ann_recall_report", oracle=_recall_report_oracle())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of each approximate ANN path — LSH buckets, IVF
    cells, flat PQ with exact re-rank (m=16, ksub=32, rerank 8×), the
    materialized PQ-compressed index (ann_idx_pq), and that same
    index grown via the append path (70% built + 30% appended with
    the stored codebooks — the pq_indexed_post_append row, the drift
    audit for long-lived indexes) — against the exact brute-force
    top-5 on the same 10 query vectors: the accept/reject evidence
    for shipping an approximate index. Every row uses the same
    parameters its registered query runs with, so this report audits
    exactly what the engine exposes.

    IVF recall note: centroids are seeded from a hash-ordered sample
    (fit_ivf_centroids). The earlier lowest-id seeding reported 0.90
    recall here, but only because seeds (ids 0-15) contained the
    report's own probe set (ids 0-9) — centroids sat ON the query
    vectors, a train/test leak. On probe sets disjoint from the old
    seed ids, hash seeding wins (0.60 vs 0.46 at sf0.01); the lower
    number now reported is the honest one for this weakly-clustered
    fixture.

    Scale shape: the exact baseline is |Q| x |corpus| with broadcast
    queries (fine for an audit's small probe set); the approximate
    sides are their own bucket/cell equi-joins. Intersections join on
    (query_id, neighbor_id) — top-k-sized sets — and each method
    reduces to one summary row."""
    from dasladen_spark.operators.pq import (
        fit_pq_codebooks,
        pq_encode,
        pq_topk_reranked,
    )
    from dasladen_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        lsh_cosine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # persist: the |Q|×|corpus| exact scan is consumed several times
    # (count + one hash join per approximate method); without the
    # cache it would re-execute for each
    exact = (
        cosine_topk(q, emb, k=5).select("query_id", "neighbor_id").persist()
    )
    n_exact = exact.count()
    books = fit_pq_codebooks(emb, m=16, ksub=32, iters=2)
    from dasladen_spark.operators.ann_index import (
        ensure_ann_index,
        search_ann_index,
    )

    # same table+params as the registered ann_pq_indexed_topk query
    # (all at _GEOMETRY_DEFAULTS, so the snapshot hash matches) — the
    # report audits exactly the physical index the searches would hit
    pq_idx = ensure_ann_index(
        emb, "ann_idx_pq", tag=sf_dir, dim=64, compress="pq"
    )

    # append-drift audit: the SAME pq index built from 70% of the
    # corpus, the other 30% APPENDED with the stored codebooks — the
    # real-world growth path (append_to_ann_index encodes new rows
    # with codebooks fit before they existed). Searched against the
    # full-corpus exact baseline, so the pq_indexed_post_append row
    # exposes how much recall the append path gives up vs the
    # full-build pq_indexed row; a widening gap after many appends is
    # the signal to recompact/refit. Rebuilt whenever the state
    # marker doesn't match the corpus, so replays never stack
    # duplicate appends.
    from dasladen_spark.operators.ann_index import (
        _drop_orphan_location,
        append_to_ann_index,
        build_ann_index,
    )

    from dasladen_spark.operators.pq import PQ_VERSION
    from dasladen_spark.operators.snapshot import snapshot_name

    # the kernel version joins the identity so a PQ-encode upgrade
    # rebuilds the drift index instead of serving stale codes;
    # the snapshot hash in the NAME keeps concurrent runs over
    # different corpora from destroying each other's drift index
    # (same scheme as ensure_ann_index)
    want = f"{sf_dir}:70+30:v{PQ_VERSION}"
    drift_tbl = snapshot_name("ann_idx_pq_drift", want)
    marker = drift_tbl + "_state"
    fresh = (
        spark.catalog.tableExists(marker)
        # the marker alone isn't enough: a warehouse cleanup can drop
        # the index tables while the marker survives (the orphan-
        # location class ensure_ann_index also defends against)
        and spark.catalog.tableExists(drift_tbl)
        and spark.catalog.tableExists(f"{drift_tbl}_meta")
        and spark.table(marker).collect()[0]["tag"] == want
    )
    if not fresh:
        _drop_orphan_location(spark, marker)
        build_ann_index(
            emb.filter(F.col("vec_id") % 10 < 7),
            drift_tbl,
            tag=sf_dir + ":70",
            dim=64,
            compress="pq",
        )
        append_to_ann_index(
            spark, drift_tbl, emb.filter(F.col("vec_id") % 10 >= 7)
        )
        spark.createDataFrame([(want,)], "tag STRING").write.mode(
            "overwrite"
        ).saveAsTable(marker)
    approx = {
        "lsh": lsh_cosine_topk(q, emb, k=5, dim=64),
        "ivf": ivf_cosine_topk(q, emb, k=5, n_centroids=16, n_probe=4),
        "pq": pq_topk_reranked(
            q, emb, pq_encode(emb, books), books, k=5, rerank_mult=8
        ),
        "pq_indexed": search_ann_index(
            spark, pq_idx, q, k=5, corpus=emb
        ),
        "pq_indexed_post_append": search_ann_index(
            spark, drift_tbl, q, k=5, corpus=emb
        ),
    }
    # the report is a handful of tiny rows: materialize them now so the cached
    # |Q|×|corpus| baseline can be RELEASED before returning (a lazy
    # result would pin the cache for the rest of the session)
    try:
        rows = []
        for name, res in approx.items():
            n_hit = (
                res.select("query_id", "neighbor_id")
                .join(exact, ["query_id", "neighbor_id"])
                .count()
            )
            rows.append(
                (name, n_exact, n_hit, round(n_hit / float(n_exact), 4))
            )
    finally:
        exact.unpersist()
    return spark.createDataFrame(
        rows,
        "method STRING, n_exact BIGINT, n_hit BIGINT, recall_at_5 DOUBLE",
    ).orderBy("method")
