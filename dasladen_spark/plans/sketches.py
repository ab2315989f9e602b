"""Mergeable sketches and distinct-count rollups: bitmap, HLL, KMV
and quantile sketches built per partition key and merged, plus
approximate and exact heavy hitters.

Each sketch is replayed in DuckDB from the same md5-derived hashes, so
the merged estimates are compared exactly, not within a tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dasladen_spark.plans.registry import query
from dasladen_spark.session import load_table as _t


@query("q_approx_sketches")  # sketch values are impl-specific — rows-only
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable sketch aggregates — the 100 TB substitutes for their
    exact cousins: HLL++ approx_count_distinct (vs COUNT DISTINCT's
    two-level shuffle) and KLL-style approx_percentile (vs full-sort
    percentiles). Values are algorithm-specific, so the driver runs
    the rows-only check; tests/test_operators.py asserts the error
    bound against the exact answers."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        )
        .orderBy("l_returnflag")
    )


# ----------------------------------- mergeable exact percentiles


@query(
    "q_quantile_mergeable_rollup",
    oracle="""
    WITH c AS (
      SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT week,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(cents, 0.5) / 100.0, 6) AS p50,
           ROUND(quantile_cont(cents, 0.95) / 100.0, 6) AS p95
    FROM c GROUP BY week ORDER BY week
    """,
)
def q_quantile_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weekly p50/p95 of event values from MERGEABLE per-day
    value histograms — the quantile sibling of the bitmap distinct
    rollup: per-day (value → count) partials are what you persist at
    100 TB; coarser grains merge by adding counts, never by
    re-scanning events; and the percentile itself is computed
    DISTRIBUTED — a week-keyed cumulative window over the histogram
    plus conditional aggregates pick and interpolate the bracketing
    values, so no task ever sees a week's raw values, only its
    distinct-value histogram. (Values are canonicalized to cents so
    the histogram is exact; quantile_cont over the same cents is the
    oracle.)"""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.date_trunc("week", "ts").alias("week"),
            F.date_trunc("day", "ts").alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("week", "day", "cents")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the day→week merge: counts ADD (the mergeability property)
    hist = daily.groupBy("week", "cents").agg(F.sum("n").alias("n"))
    w = Window.partitionBy("week").orderBy("cents")
    hist = hist.withColumn("cum", F.sum("n").over(w))
    tot = hist.groupBy("week").agg(F.sum("n").alias("tot"))
    h = hist.join(tot, "week")

    def quantile(q: float):
        pos = (F.col("tot") - 1) * F.lit(q)
        lo = F.floor(pos)
        frac = pos - lo
        v_lo = F.min(F.when(F.col("cum") > lo, F.col("cents")))
        v_hi = F.min(F.when(F.col("cum") > lo + 1, F.col("cents")))
        # top rank: lo+1 may exceed the last index — fall back to v_lo
        interp = v_lo + (F.coalesce(v_hi, v_lo) - v_lo) * F.first(frac)
        return F.round(interp / 100.0, 6)

    return (
        h.groupBy("week")
        .agg(
            F.first("tot").cast("bigint").alias("n"),
            quantile(0.5).alias("p50"),
            quantile(0.95).alias("p95"),
        )
        .select(F.col("week").cast("timestamp").alias("week"), "n", "p50", "p95")
        .orderBy("week")
    )


# ------------------------------------- mergeable distinct rollups


@query(
    "q_bitmap_distinct_rollup",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
           COUNT(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY 1
    """,
)
def q_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weekly distinct users via mergeable per-day bitmaps —
    the incremental spelling of COUNT(DISTINCT): each day is
    aggregated once into (bucket → bitmap) partials; coarser grains
    (week here; month/all-time identically) are bitmap_or merges of
    the partials, never a rescan of the raw events. At 100 TB the
    daily partials are what you persist; the weekly rollup touches
    |days × buckets| rows. Values are exact, so the DuckDB
    COUNT(DISTINCT) oracle matches bit-for-bit."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.date_trunc("week", "ts").cast("date").alias("week"),
            F.date_trunc("day", "ts").alias("day"),
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("week", "day", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    weekly = daily.groupBy("week", "bucket").agg(
        F.bitmap_or_agg("bm").alias("bm")
    )
    return (
        weekly.groupBy("week")
        .agg(F.sum(F.bitmap_count("bm")).alias("distinct_users"))
        .select(
            # timestamp, not date: the comparator renders DuckDB DATE
            # as a pandas Timestamp
            F.col("week").cast("timestamp").alias("week"),
            "distinct_users",
        )
        .orderBy("week")
    )


@query("q_hll_mergeable_rollup")  # sketch estimates are impl-specific —
# rows-only; tests/test_operators.py::test_hll_rollup_error_bounds
# asserts every weekly estimate within 5% of the exact bitmap answer
def q_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users via Datasketches HLL — the
    APPROXIMATE sibling of q_bitmap_distinct_rollup for when even the
    bitmaps are too big (user space in the billions): per-day sketches
    (hll_sketch_agg) are a few KB each regardless of cardinality, and
    the weekly rollup is hll_union_agg over them. Same
    never-rescan-history shape, bounded error instead of exact."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.date_trunc("week", "ts").cast("date").alias("week"),
            F.date_trunc("day", "ts").alias("day"),
            "user_id",
        )
        .groupBy("week", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return (
        daily.groupBy("week")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_distinct_users"
            )
        )
        .select(
            F.col("week").cast("timestamp").alias("week"),
            "approx_distinct_users",
        )
        .orderBy("week")
    )


# ---------------------------------------------- heavy hitters


@query(
    "text_heavy_hitter_terms",
    oracle="""
    WITH t AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    )
    SELECT tok, COUNT(*) AS freq FROM t
    GROUP BY tok ORDER BY freq DESC, tok LIMIT 20
    """,
)
def text_heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus terms WITHOUT shuffling the vocabulary: per-
    partition Misra-Gries candidate summaries (bounded memory, one
    pass) → broadcast-semi-join exact recount → self-certifying
    exactness check (operators/frequency). The naive groupBy-count
    shuffles one row per distinct term — the full vocabulary at
    100 TB; this plan shuffles O(partitions × k·slack) candidates,
    and the DuckDB oracle proves the certified result IS the exact
    answer."""
    from dasladen_spark.operators.frequency import heavy_hitters_exact

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
            )
        ).alias("tok")
    )
    return heavy_hitters_exact(toks, "tok", k=20, slack=8)


# -------------------------------------------------- portable HLL rollup

_HLL_M = 16  #: buckets (alpha for m=16 is the classic 0.673)
_HLL_MAXRHO = 49  #: rank ceiling: md5-52-bit hash minus 4 bucket bits + 1
_HLL_TOP = 562949953421312  #: 2^49 — the empty-bucket term, exact in double


@query(
    "q_hll_portable_rollup",
    oracle=f"""
    WITH h AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             strftime(ts, '%Y-%m') AS month,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS hv
      FROM events
    ), rb AS (
      SELECT day, month, hv & 15 AS bucket, hv >> 4 AS r FROM h
    ), rho AS (
      SELECT day, month, bucket,
             CASE WHEN r = 0 THEN {_HLL_MAXRHO}
                  ELSE bit_count((r & -r) - 1) + 1 END AS rho
      FROM rb
    ), daily AS (
      SELECT day, month, bucket, MAX(rho) AS m_j
      FROM rho GROUP BY day, month, bucket
    ), monthly AS (
      SELECT month, bucket, MAX(m_j) AS m_j FROM daily
      GROUP BY month, bucket
    ), dsum AS (
      SELECT day AS period,
             SUM(CAST(1 AS BIGINT) << ({_HLL_MAXRHO} - m_j))
               + ({_HLL_M} - COUNT(*)) * {_HLL_TOP} AS s
      FROM daily GROUP BY day
    ), msum AS (
      SELECT month AS period,
             SUM(CAST(1 AS BIGINT) << ({_HLL_MAXRHO} - m_j))
               + ({_HLL_M} - COUNT(*)) * {_HLL_TOP} AS s
      FROM monthly GROUP BY month
    ), dexact AS (
      SELECT strftime(ts, '%Y-%m-%d') AS period,
             COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
    ), mexact AS (
      SELECT strftime(ts, '%Y-%m') AS period,
             COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT 'day' AS level, d.period,
           CAST(0.673 AS DOUBLE) * {_HLL_M} * {_HLL_M} * {_HLL_TOP}
             / CAST(d.s AS DOUBLE) AS est_distinct,
           e.exact_distinct
    FROM dsum d JOIN dexact e USING (period)
    UNION ALL
    SELECT 'month', m.period,
           CAST(0.673 AS DOUBLE) * {_HLL_M} * {_HLL_M} * {_HLL_TOP}
             / CAST(m.s AS DOUBLE),
           e.exact_distinct
    FROM msum m JOIN mexact e USING (period)
    """,
)
def q_hll_portable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketch with an EXACT oracle — the
    engine-portable HyperLogLog: bucket = low 4 md5 bits, rank =
    trailing zeros of the remaining 48 (the same geometric statistic
    as leading zeros, and a pure integer op both engines share:
    bit_count((r & -r) - 1) + 1). Daily sketches roll up to monthly
    by per-bucket MAX — the merge IS the aggregation, so the monthly
    estimate computed FROM the daily sketches equals one computed
    from raw events (max is associative), which the oracle verifies
    by building monthly from daily exactly as the query does.
    The estimator keeps the harmonic sum in EXACT integers
    (Σ 2^(49-M_j) as shifted bigints, empty buckets as 2^49) so the
    only float ops are one multiply chain and one divide —
    bit-identical everywhere, no pow()/ln() (not portable). The
    q_approx_sketches / q_hll_mergeable_rollup siblings use Spark's
    native HLL++ (the production path); this query is the proof that
    the mergeable-rollup SHAPE is right, exact to the last bit.
    """
    from dasladen_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.col("user_id"),
    )
    daily = hll_sketch(base, ["day", "month"], "user_id", m=_HLL_M)
    monthly = hll_merge(daily, ["month"])

    dexact = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("period")
    ).agg(F.count_distinct("user_id").alias("exact_distinct"))
    mexact = ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("period")
    ).agg(F.count_distinct("user_id").alias("exact_distinct"))
    d = (
        hll_estimate(daily, ["day"], m=_HLL_M)
        .withColumnRenamed("day", "period")
        .join(dexact, "period")
        .select(F.lit("day").alias("level"), "period", "est_distinct",
                "exact_distinct")
    )
    m = (
        hll_estimate(monthly, ["month"], m=_HLL_M)
        .withColumnRenamed("month", "period")
        .join(mexact, "period")
        .select(F.lit("month").alias("level"), "period", "est_distinct",
                "exact_distinct")
    )
    return d.unionByName(m)


# ------------------------------------------- KMV distinct-count rollup

_KMV_ROLLUP_K = 64  #: daily users < 64 at sf0.001 (exact fallback)
#: and > 64 at sf0.01+ (the estimator engages) — both regimes gated
_KMV_SCALE = 4503599627370496  #: 2^52 — the md5-52-bit hash space


@query(
    "q_kmv_distinct_rollup",
    oracle=f"""
    WITH e AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             strftime(ts, '%Y-%m') AS month, user_id
      FROM events
    ), h AS (
      -- NULL user_ids are dropped on the Spark side (kmv_sketch's
      -- shared NULL filter); without this mirror a NULL would hash
      -- to a NULL hv that sorts NULLS LAST yet still occupies an
      -- under-filled group's sketch slot, inflating its count
      SELECT day, month,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS hv
      FROM (SELECT DISTINCT day, month, user_id FROM e
            WHERE user_id IS NOT NULL)
    ), rk AS (
      SELECT day, month, hv,
             ROW_NUMBER() OVER (PARTITION BY day, month ORDER BY hv) AS rn
      FROM h
    ), sk AS (
      SELECT day, month, hv FROM rk WHERE rn <= {_KMV_ROLLUP_K}
    ), mrk AS (
      SELECT month, hv,
             ROW_NUMBER() OVER (PARTITION BY month ORDER BY hv) AS rn
      FROM (SELECT DISTINCT month, hv FROM sk)
    ), msk AS (
      SELECT month, hv FROM mrk WHERE rn <= {_KMV_ROLLUP_K}
    ), dagg AS (
      SELECT day AS period, COUNT(*) AS n, MAX(hv) AS theta
      FROM sk GROUP BY day
    ), magg AS (
      SELECT month AS period, COUNT(*) AS n, MAX(hv) AS theta
      FROM msk GROUP BY month
    ), dex AS (
      SELECT strftime(ts, '%Y-%m-%d') AS period,
             COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
    ), mex AS (
      SELECT strftime(ts, '%Y-%m') AS period,
             COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT 'day' AS level, d.period,
           CASE WHEN d.n < {_KMV_ROLLUP_K} THEN CAST(d.n AS DOUBLE)
                ELSE CAST({_KMV_ROLLUP_K - 1} AS DOUBLE)
                     * {_KMV_SCALE} / CAST(d.theta AS DOUBLE)
           END AS est_distinct,
           e.exact_distinct
    FROM dagg d JOIN dex e USING (period)
    UNION ALL
    SELECT 'month', m.period,
           CASE WHEN m.n < {_KMV_ROLLUP_K} THEN CAST(m.n AS DOUBLE)
                ELSE CAST({_KMV_ROLLUP_K - 1} AS DOUBLE)
                     * {_KMV_SCALE} / CAST(m.theta AS DOUBLE)
           END AS est_distinct,
           e.exact_distinct
    FROM magg m JOIN mex e USING (period)
    """,
)
def q_kmv_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sibling of q_hll_portable_rollup on the SHARED sketch
    operators (operators/sketches): k=64 minimum md5 hashes of
    user_id per day, merged to monthly by distinct-re-rank, estimated
    by (k−1)·2⁵²/θ with the not-full exact fallback — the sf0.001
    fixture stays under k (every daily estimate equals the exact
    count) while sf0.01+ engages the estimator, so the gate covers
    BOTH regimes. Exact oracle: pure integer selection + one float
    division (the round-8 sketch recipes). Next to HLL this is the
    sketch you pick when you ALSO need intersections later — the
    same sketch rows feed kmv_overlap_pair."""
    from dasladen_spark.operators.sketches import (
        kmv_estimate_distinct,
        kmv_merge,
        kmv_sketch,
    )

    k = _KMV_ROLLUP_K
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "yyyy-MM").alias("month"),
        "user_id",
    )
    daily = kmv_sketch(base, ["day", "month"], "user_id", k=k)
    monthly = kmv_merge(daily, ["month"], k=k)
    dex = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("period")
    ).agg(F.count_distinct("user_id").alias("exact_distinct"))
    mex = ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("period")
    ).agg(F.count_distinct("user_id").alias("exact_distinct"))
    d = (
        # estimate daily DIRECTLY (like the HLL sibling): day
        # determines month, so the (day, month)-keyed sketch already
        # holds exactly one valid k-min set per day — a merge to
        # ["day"] would only re-rank already-ranked rows (an extra
        # distinct + window shuffle for nothing)
        kmv_estimate_distinct(daily, ["day"], k=k)
        .withColumnRenamed("day", "period")
        .join(dex, "period")
        .select(F.lit("day").alias("level"), "period", "est_distinct",
                "exact_distinct")
    )
    m = (
        kmv_estimate_distinct(monthly, ["month"], k=k)
        .withColumnRenamed("month", "period")
        .join(mex, "period")
        .select(F.lit("month").alias("level"), "period", "est_distinct",
                "exact_distinct")
    )
    return d.unionByName(m)


# ------------------------------------------------ KMV overlap sketch

_KMV_K = 256  #: sketch size; every fixture source has ≥1300 grams


@query(
    "text_kmv_gram_overlap",
    oracle=f"""
    WITH w AS (
      SELECT source, regexp_split_to_array(text, ' ') AS words
      FROM documents WHERE source IN ('src0', 'src1')
    ), g AS (
      SELECT DISTINCT source,
             unnest(list_transform(
               generate_series(1, greatest(len(words) - 2, 0)),
               i -> array_to_string(words[i:i + 2], ' '))) AS ng
      FROM w
    ), h AS (
      SELECT source,
             CAST(('0x' || substr(md5(ng), 1, 13)) AS BIGINT) AS hv
      FROM g
    ), rk AS (
      SELECT source, hv,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
      FROM h
    ), sk AS (SELECT source, hv FROM rk WHERE rn <= {_KMV_K}),
    thetas AS (
      SELECT MAX(CASE WHEN source = 'src0' THEN hv END) AS ta,
             COUNT(CASE WHEN source = 'src0' THEN 1 END) AS n_a,
             MAX(CASE WHEN source = 'src1' THEN hv END) AS tb,
             COUNT(CASE WHEN source = 'src1' THEN 1 END) AS n_b
      FROM sk
    ), te AS (
      SELECT least(
               CASE WHEN n_a < {_KMV_K} THEN {_KMV_SCALE} ELSE ta END,
               CASE WHEN n_b < {_KMV_K} THEN {_KMV_SCALE} ELSE tb END
             ) AS theta
      FROM thetas
    ), uni AS (
      SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
      FROM (SELECT DISTINCT hv FROM sk)
    ), us AS (
      SELECT MAX(rn) AS n_u,
             MAX(CASE WHEN rn = {_KMV_K} THEN hv END) AS theta_u
      FROM uni
    ), d AS (
      SELECT COUNT(*) AS n_common
      FROM (SELECT hv FROM sk WHERE source = 'src0') a
      JOIN (SELECT hv FROM sk WHERE source = 'src1') b USING (hv),
           te
      WHERE hv < te.theta
    ), ex AS (
      SELECT COUNT(DISTINCT ng) AS exact_union,
             COUNT(DISTINCT CASE WHEN in_both THEN ng END)
               AS exact_intersection
      FROM (
        SELECT ng, COUNT(DISTINCT source) = 2 AS in_both FROM g GROUP BY ng
      )
    )
    SELECT 'src0|src1' AS pair,
           CAST(d.n_common AS DOUBLE) * {_KMV_SCALE}
             / CAST(te.theta AS DOUBLE) AS est_intersection,
           ex.exact_intersection,
           CASE WHEN us.n_u < {_KMV_K} THEN CAST(us.n_u AS DOUBLE)
                ELSE CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_SCALE}
                     / CAST(us.theta_u AS DOUBLE) END AS est_union,
           ex.exact_union
    FROM d, te, us, ex
    """,
)
def text_kmv_gram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap from K-MINIMUM-VALUES sketches —
    the set-INTERSECTION estimate HLL cannot give, exact-oracle
    because the sketch is pure integer selection (the k smallest
    md5-52-bit gram hashes per source, ROW_NUMBER-ranked) and the
    estimators are one division each. A sketch truncated at θ
    provably contains EVERY set element hashing below θ, so the
    matched-mins count D is exactly |A∩B ∩ [0,θ)| and est_∩ =
    D·2⁵²/θ (Beyer et al.); the union estimate is the classic
    (k-1)·2⁵²/θ_u over the merged mins. NOT-FULL sketches fall back
    to the exact regime instead of extrapolating: a side with < k
    grams is wholly known, so its effective θ is the full hash space,
    and a merged-mins set under k returns its own size as the union
    (standard KMV; without this, tiny sources would silently
    over-estimate and an under-filled union rank would return ZERO
    rows). At 100 TB this is the crawl-overlap audit that ships k
    longs per source instead of the gram sets; text_source_overlap
    is the exact small-scale sibling the fixture verifies against."""
    k = _KMV_K
    d = _t(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    from dasladen_spark.functions.text import word_ngrams
    from dasladen_spark.operators.sketches import (
        kmv_overlap_pair,
        kmv_sketch,
    )

    # split PROJECTED to a named column before the n-gram HOF —
    # inlining it re-evaluates the split once per gram position
    # (functions/text contract; the round-6 winnowing regression)
    w = d.select("source", F.split(F.col("text"), " ").alias("_w"))
    # the distinct gram frame feeds BOTH the sketch build and the
    # exact ground-truth branch — persist so the corpus is scanned
    # once (production drops the exact branch and with it this
    # persist; the harnesses clearCache() per query)
    g = (
        w.select(
            "source", F.explode(word_ngrams(F.col("_w"), 3)).alias("ng")
        )
        .distinct()
        .persist()
    )
    # ≤ 2·k rows feeding FIVE downstream branches (thetas, union
    # ranks, both join sides, the match count) — without the persist
    # each branch re-derives the sketch from its own scan (the
    # winnowing persisted-fanout lesson)
    sk = kmv_sketch(
        g, ["source"], "ng", k=k, assume_distinct=True
    ).persist()
    est = kmv_overlap_pair(sk, "source", "src0", "src1", k=k)
    ex = (
        g.groupBy("ng")
        .agg((F.count_distinct("source") == 2).alias("in_both"))
        .agg(
            F.count_distinct("ng").alias("exact_union"),
            F.count_distinct(
                F.when(F.col("in_both"), F.col("ng"))
            ).alias("exact_intersection"),
        )
    )
    return est.crossJoin(ex).select(
        "pair",
        "est_intersection",
        "exact_intersection",
        "est_union",
        "exact_union",
    )
