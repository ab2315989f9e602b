"""Deterministic sampling — reproducible training-data mixes.

`df.sample()` is seed-stable only for a fixed partitioning; any
repartition/scale-up changes which rows land where and therefore
which rows survive. These samplers decide per ROW from a hash of the
row's own id, so the sample is a pure function of the data: same
corpus in, same sample out, on 1 core or 1000 executors — and a
document keeps/loses its membership even if the corpus is re-sharded.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dasladen_spark.functions.text import tokens_col

_BUCKETS = 1_000_000


def _hash_frac(id_col: Column, salt: int) -> Column:
    """Uniform [0, 1) value derived from the id (xxhash64 → bucket)."""
    return F.pmod(F.xxhash64(id_col, F.lit(salt)), F.lit(_BUCKETS)) / F.lit(
        float(_BUCKETS)
    )


def portable_sample_filter(
    id_col: Column, fraction: float, salt: str = "", hex_digits: int = 8
) -> Column:
    """Engine-portable deterministic membership test: keep a row iff
    the first ``hex_digits`` of md5(salt || id) compare below the
    fraction's hex threshold. Fixed-length lowercase-hex strings
    compare lexicographically exactly as their numeric values, and
    md5 hex is identical across engines — so the SAME predicate can
    be written in ANSI SQL (``substr(md5(...), 1, 8) < '3fffffff'``)
    and selects the SAME rows, which makes hash sampling
    differential-testable against any SQL oracle. xxhash64
    (:func:`_hash_frac`) stays the fast path when portability isn't
    needed: it's one JVM op vs md5's digest + hex encode.

    fraction >= 1.0 short-circuits to keep-all: the naive threshold
    would format as 9 hex digits ('100000000') and the 8-char prefix
    would lexicographically beat it only when starting with '0' —
    silently dropping ~15/16 of a keep-whole source."""
    if fraction >= 1.0:
        return F.lit(True)
    thr = format(int(fraction * 16**hex_digits), f"0{hex_digits}x")
    digest = F.md5(F.concat(F.lit(salt), id_col.cast("string")))
    return F.substring(digest, 1, hex_digits) < F.lit(thr)


def deterministic_sample(
    df: DataFrame, fraction: float, id_col: str, salt: int = 42
) -> DataFrame:
    """Keep ~fraction of rows, chosen by id hash (repartition-proof)."""
    return df.filter(_hash_frac(F.col(id_col), salt) < fraction)


def validate_fit_fraction(fit_fraction) -> bool:
    """Shared guard for the ``fit_fraction`` knob on the codebook /
    centroid / k-means fitters: True means "run the fit on a
    deterministic id-hash sample". Out-of-range values (a caller
    passing 60 meaning 60%, or a negative) raise instead of silently
    fitting the full corpus — at the 100 TB scale that silent
    fall-through is an expensive misconfiguration. 1.0 is the
    explicit "full corpus" spelling and skips the sample filter."""
    if fit_fraction is None:
        return False
    f = float(fit_fraction)
    if not 0.0 < f <= 1.0:
        raise ValueError(
            f"fit_fraction={fit_fraction!r} out of range: pass a"
            " fraction in (0, 1] — e.g. 0.6, not 60"
        )
    return f < 1.0


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    default_fraction: float = 0.0,
    salt: int = 42,
) -> DataFrame:
    """Per-stratum sampling rates (the 'mix' step of a training-data
    pipeline: 30% of web, 100% of books, ...). Unlisted strata get
    ``default_fraction``. No shuffle at all — the decision is a
    scan-side filter, so at 100 TB this costs one pass."""
    frac = F.lit(float(default_fraction))
    for value, f in fractions.items():
        frac = F.when(F.col(strata_col) == value, F.lit(float(f))).otherwise(frac)
    return df.filter(_hash_frac(F.col(id_col), salt) < frac)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    target_fraction: float,
    id_col: str,
    salt: int = 42,
) -> DataFrame:
    """Importance sampling: keep probability ∝ weight, scaled so the
    expected overall rate is ``target_fraction``. Weights are
    normalized by their mean (one cheap aggregate); rows with
    weight ≥ mean/target keep with probability 1. Same hash-based,
    repartition-proof membership as the uniform samplers."""
    stats = df.agg(F.avg(F.col(weight_col)).alias("__mean")).collect()[0]
    mean_w = float(stats["__mean"]) or 1.0
    p = (
        F.col(weight_col) / F.lit(mean_w) * F.lit(float(target_fraction))
    )
    return df.filter(_hash_frac(F.col(id_col), salt) < p)


def priority_sample_without_replacement(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str,
    seed: str = "ws",
) -> DataFrame:
    """Exactly-k weighted sampling WITHOUT replacement in one
    distributed pass — the exponential race (Efraimidis-Spirakis):
    each row draws priority ``-ln(u)/w`` from a hash-derived uniform
    and the k smallest priorities win, which is distributionally
    identical to drawing k rows successively with probability ∝
    weight. Spark's take-ordered top-k is per-partition heaps + a
    k-row merge — no global sort, no shuffle of non-winners.

    The uniform is PORTABLE (md5 prefix → 32-bit integer via
    hex-digit arithmetic, same on any engine) so the draw is
    reproducible across re-shards, engines, and the DuckDB oracle —
    the same contract as portable_sample_filter. Returns the winning
    rows plus their ``priority``."""
    h = F.md5(
        F.concat(F.lit(f"{seed}-"), F.col(id_col).cast("string"))
    )
    hv_expr = " + ".join(
        f"CAST(instr('0123456789abcdef', substr(__h, {i + 1}, 1)) - 1"
        f" AS BIGINT) * {16 ** (7 - i)}L"
        for i in range(8)
    )
    u = (F.expr(hv_expr) + 0.5) / F.lit(float(1 << 32))
    pri = F.round(-F.log(u) / F.col(weight_col), 12)
    return (
        df.withColumn("__h", h)
        .withColumn("priority", pri)
        .drop("__h")
        .orderBy("priority", id_col)
        .limit(k)
    )


def dsir_weights(
    docs: DataFrame,
    target_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): per RAW document (``target_col``
    false), the add-one-smoothed target-vs-raw unigram
    log-likelihood ratio Σ n_w·(ln p̂_t(w) − ln p̂_r(w)), reported per
    token so length doesn't dominate. Input is ONE tagged frame —
    callers with separate exemplar/raw sources union them with the
    tag (exemplar rows may carry a NULL id; only raw rows are
    scored) — so a split of a single table still costs one scan.
    Returns (id, n_tokens, weight_per_token) for raw docs only.

    Scale shape: the (doc, token) occurrence rollup is the only
    corpus-sized shuffle; both unigram models fold FROM it
    (token-keyed, map-side combinable); corpus totals broadcast as
    one row; scoring joins occurrence rows against the
    vocabulary-sized λ table shuffle-side (a corpus-scale vocabulary
    never broadcasts). λ rounds to 12 decimals before DECIMAL(38,18)
    accumulation — the bit-identical-replay discipline of the
    bigram-LM scorer — and the per-token division rounds once.

    Deliberately NOT shared through a persisted occurrence rollup:
    the rollup feeds three branches (models, totals, scoring) and an
    interleaved A/B of the "persist occ+model" variant measured
    1.132 s → 1.335 s (sf0.1, medians of 7, identical rows) — the
    cache materialization barrier costs more than the branches'
    repeated, embarrassingly-parallel tokenize whose per-branch
    exchanges are all partially aggregated map-side. Revisit on a
    cluster if three corpus scans ever dominate the occ-cache round
    trip."""
    occ = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.col(target_col).alias("_t"),
            F.explode_outer(tokens_col(text_col)).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .groupBy("_id", "_t", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    model = occ.groupBy("tok").agg(
        F.sum(F.when(F.col("_t"), F.col("n")).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("_t"), 0).otherwise(F.col("n"))).alias("cr"),
    )
    tot = model.agg(
        F.sum("ct").alias("big_t"),
        F.sum("cr").alias("big_r"),
        F.count(F.lit(1)).alias("v"),
    )
    lam = model.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            F.log(
                (F.col("ct") + 1) / (F.col("big_t") + F.col("v")).cast("double")
            )
            - F.log(
                (F.col("cr") + 1) / (F.col("big_r") + F.col("v")).cast("double")
            ),
            12,
        ).alias("lam"),
    )
    return (
        occ.filter(~F.col("_t"))
        .join(lam, "tok")
        .groupBy("_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.sum((F.col("n") * F.col("lam")).cast("decimal(38,18)")).alias(
                "_wsum"
            ),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.round(
                F.col("_wsum").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("weight_per_token"),
        )
    )


def kcenter_coreset(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
) -> DataFrame:
    """Greedy k-center (Gonzalez) coreset selection: start from the
    lowest-id vector, then ``k - 1`` times pick the vector FARTHEST
    (squared euclidean) from every center chosen so far — the classic
    2-approximation for data-pruning / eval-set picks that must cover
    the embedding space rather than sample it.

    Returns (pick_order, <id_col>, d2) — ``d2`` is the squared
    distance from the pick to its nearest prior center (NULL for the
    seed). Deterministic: ties break toward the smaller id.

    Scale shape: inherently iterative, but each iteration is ONE full
    corpus scan computing ≤ k JVM-side fold distances against
    BROADCAST literal centers, reduced by a global top-1 — the only
    driver traffic is k single-row collects (the same provably-bounded
    pattern as the kmeans centroid updates). Total work O(k²·n) fold
    steps with k tiny. For k > 2 the (id, vector) projection is
    persisted for the duration (and unpersisted on exit) so the k
    scans hit memory, not the parquet — the projection is a straight
    narrow scan (no shuffle beneath), so caching pins nothing AQE
    would want to re-plan.
    The distance fold is the deterministic left-fold, so every pick —
    hence the whole trajectory — replays bit-for-bit in the unrolled
    SQL oracle (min over doubles is associative: the oracle's running
    least() chain equals the operator's least-over-all-centers).
    """
    if k < 1:
        raise ValueError(f"kcenter_coreset: k must be ≥ 1, got {k}")
    e = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    e = e.persist()
    try:
        return _kcenter_greedy(df, e, id_col, k)
    finally:
        e.unpersist()


def _kcenter_greedy(df: DataFrame, e: DataFrame, id_col: str, k: int):
    seed_rows = e.orderBy("_id").limit(1).collect()
    if not seed_rows:
        raise ValueError(
            "kcenter_coreset: input frame is empty — no seed vector"
        )
    seed = seed_rows[0]
    if seed["_id"] is None or seed["_v"] is None:
        # ascending sort puts NULLs first: a NULL id would become the
        # seed and then silently vanish from any downstream equi-join
        raise ValueError(
            "kcenter_coreset: NULL id or vector in the input — filter"
            " or repair upstream"
        )
    picks = [(0, seed["_id"], None)]

    def _d2_to(vec: list[float]) -> Column:
        # interpreted HOF fold ON PURPOSE: every iteration is a NEW
        # plan (fresh center literals), so a codegen'd fixed-width
        # chain would pay a full generate+compile+JIT cycle k times
        # for one tiny scan each (measured 3.2 s → 14 s at sf0.1);
        # the interpreter evaluates a per-iteration expression
        # immediately (and an unrolled chain doesn't JIT anyway —
        # see the note in functions/vectors). F.lit(list) builds the
        # center literal in ONE py4j call — 64 scalar F.lit calls per
        # center measured as the dominant driver-side cost.
        diff = F.zip_with(
            F.col("_v"),
            F.lit([float(x) for x in vec]),
            lambda x, y: (x - y) * (x - y),
        )
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)

    # incremental running-min: round i folds ONLY the newest center
    # against the persisted (id, v, d2) frame from round i-1 — O(k·n)
    # fold steps instead of the naive O(k²·n) re-fold of every center
    # each round, and the same bits (the explicit least() chain
    # evaluates in exactly this order; the SQL oracle replays this
    # same incremental shape). Each round's frame is persisted and the
    # previous one released only AFTER the top-1 collect materializes
    # the new cache, so no round ever recomputes the fold chain from
    # parquet (round-6's unpersisted-fanout lesson).
    frames = [
        e.select("_id", "_v", _d2_to(seed["_v"]).alias("_d2")).persist(),
        None,  # [cur, prev]
    ]
    try:
        picks = _kcenter_rounds(frames, _d2_to, picks, k)
    finally:
        for f in frames:
            if f is not None:
                f.unpersist()

    from pyspark.sql import types as T

    spark = df.sparkSession
    schema = T.StructType(
        [
            T.StructField("pick_order", T.IntegerType()),
            # id keeps the INPUT's type (a string doc key must come
            # back joinable, not coerced to bigint)
            T.StructField(id_col, e.schema["_id"].dataType),
            T.StructField("d2", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(picks, schema=schema)


def _kcenter_rounds(frames, _d2_to, picks, k):
    """Rounds 1..k-1 of the greedy; ``frames`` is the caller's
    [cur, prev] cell so the finally-cleanup sees the live handles
    even when a guard raises mid-trajectory."""
    for i in range(1, k):
        cur, prev = frames
        far = (
            cur.orderBy(F.desc("_d2"), F.asc("_id")).limit(1).collect()[0]
        )
        if prev is not None:
            prev.unpersist()
            frames[1] = None
        d2v = far["_d2"]
        if d2v is None or not math.isfinite(d2v):
            # NaN sorts ABOVE every double, so a single NaN embedding
            # would be picked here and then re-picked forever (its
            # distance to itself is NaN, not 0, defeating the
            # exhaustion guard below) — fail loudly instead
            raise ValueError(
                f"kcenter_coreset: non-finite distance {d2v!r} at"
                f" pick {i} (id {far['_id']!r}) — NaN/Inf in an"
                " embedding; repair or filter upstream"
            )
        if d2v == 0.0:
            # every remaining vector coincides with a chosen center:
            # the greedy step would re-pick the seed forever and the
            # "coreset" would silently carry duplicate ids — fail
            # loudly instead (the caller asked for more coverage
            # than the data has)
            raise ValueError(
                f"kcenter_coreset: k={k} exceeds the number of"
                f" distinct vectors (exhausted after {i} picks) —"
                " lower k or dedup upstream"
            )
        picks.append((i, far["_id"], far["_d2"]))
        if i < k - 1:
            frames[1] = cur
            frames[0] = cur.select(
                "_id",
                "_v",
                F.least(F.col("_d2"), _d2_to(far["_v"])).alias("_d2"),
            ).persist()
    return picks
