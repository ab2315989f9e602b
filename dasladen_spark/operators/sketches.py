"""Mergeable distinct-count / overlap sketches as reusable operators.

Round 8 proved the estimator math bit-for-bit inside two plan-level
queries (plans/sketches.q_hll_portable_rollup, text_kmv_gram_overlap);
this module promotes it to the operator surface a 100 TB pipeline
actually calls: build-sketch / merge-sketch / estimate, each a plain
DataFrame → DataFrame function, plus the ``sketch`` task kind
(tasks.run_sketch) that persists daily sketch tables and the
streaming maintainer (streaming/sketchsync) that folds micro-batches
into the same table shape.

Design rules (the round-8 sketch recipes):

- every accumulation is EXACT INTEGERS (md5-52-bit hashes, bucket
  maxima as shifted bigints, rank selections); the only float ops are
  one multiply chain and one divide per estimate — so Spark and the
  DuckDB oracle agree to the last bit, and a daily→monthly rollup
  computed FROM sketches equals one computed from raw rows.
- sketches are ROWS, not opaque blobs: an HLL is one row per
  (key, bucket) holding the bucket maximum; a KMV is k rows of the
  smallest hashes per key. Merging IS aggregation (MAX / re-rank), so
  the sketch table is maintainable by any groupBy — batch, streaming
  matview, or SQL — with no custom serialization.
- at 100 TB the sketch table ships m (or k) longs per key per period
  instead of the raw value sets: the crawl-overlap / distinct-users
  audits become joins over KB-sized state.

Beyond-reference operators (the reference delegates all query power
to its RDBMS — /root/reference/dasladen/task.py:94-107; SURVEY §2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dasladen_spark.operators.dedup import portable_md5_int

#: md5-52-bit hash space (13 hex chars); shared by both sketch
#: families and their oracles
HASH_SPACE = 1 << 52


def _alpha(m: int) -> float:
    """Classic HLL bias constants (Flajolet et al.)."""
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1.0 + 1.079 / m)
    )


def _hll_geometry(m: int) -> tuple[int, int, int]:
    """(bucket_bits, max_rho, top) for ``m`` buckets. ``max_rho`` is
    the rank ceiling (hash bits minus bucket bits, plus one for the
    all-zero remainder); ``top`` = 2^max_rho is the empty-bucket term
    of the exact-integer harmonic sum (still exact in a double)."""
    bits = m.bit_length() - 1
    if m <= 1 or (1 << bits) != m:
        raise ValueError(f"hll: m must be a power of two ≥ 2, got {m}")
    max_rho = 52 - bits + 1
    return bits, max_rho, 1 << max_rho


def hll_rows(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    m: int = 16,
) -> DataFrame:
    """Per-ROW sketch contributions (*key_cols, bucket, rho) — the
    pre-aggregation form shared by the batch build (MAX over these
    rows) and the streaming maintainer (MAX folded per micro-batch).
    bucket = low bucket-bits of the 52-bit md5; rho = trailing-zero
    rank of the remaining bits (pure integer:
    bit_count((r & -r) - 1) + 1), the same geometric statistic as
    leading zeros and portable to every engine.

    NULL values and NULL keys are dropped HERE, in the shared row
    producer: a NULL value would create a NULL-bucket sketch row
    whose count(1) contribution silently INFLATES every estimate
    (the harmonic sum skips the NULL term but the empty-bucket count
    shrinks), and filtering in only one consumer would break the
    batch-build == streaming-maintainer equality the snapshot
    promises."""
    bits, max_rho, _ = _hll_geometry(m)
    clean = df
    for c in [*key_cols, value_col]:
        clean = clean.filter(F.col(c).isNotNull())
    hv = portable_md5_int(F.col(value_col).cast("string"), 13)
    rb = clean.select(
        *key_cols,
        hv.bitwiseAND(F.lit(m - 1)).alias("bucket"),
        F.shiftright(hv, bits).alias("_r"),
    )
    return rb.select(
        *key_cols,
        "bucket",
        F.when(F.col("_r") == 0, F.lit(max_rho))
        .otherwise(
            F.bit_count((F.col("_r").bitwiseAND(-F.col("_r"))) - F.lit(1))
            + F.lit(1)
        )
        .alias("rho"),
    )


def hll_sketch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    m: int = 16,
) -> DataFrame:
    """Build the HLL sketch table: (*key_cols, bucket, m_j), one row
    per non-empty bucket per key — the mergeable representation.
    One map-side-combinable MAX aggregation over the data; the
    result is ≤ m rows per key regardless of cardinality."""
    return (
        hll_rows(df, key_cols, value_col, m)
        .groupBy(*key_cols, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def hll_merge(sketch: DataFrame, group_cols: list[str]) -> DataFrame:
    """Roll a sketch table up to coarser keys (daily → monthly):
    per-bucket MAX. max is associative, so an estimate over the
    merged sketch equals one built from the raw rows — the property
    q_hll_portable_rollup's oracle verifies bit-for-bit."""
    return sketch.groupBy(*group_cols, "bucket").agg(
        F.max("m_j").alias("m_j")
    )


def hll_estimate(
    sketch: DataFrame,
    group_cols: list[str],
    m: int = 16,
    out_col: str = "est_distinct",
) -> DataFrame:
    """(group_cols..., est_distinct) from a sketch table. The
    harmonic sum stays in exact integers (Σ 2^(max_rho − M_j) as
    shifted bigints, empty buckets contributing 2^max_rho); the only
    float ops are the final multiply chain and divide — no pow()/ln()
    (not cross-engine portable). ``sketch`` must be keyed at least as
    fine as ``group_cols`` (merge first if not)."""
    _, max_rho, top = _hll_geometry(m)
    s = sketch.groupBy(*group_cols).agg(
        (
            F.sum(F.expr(f"shiftleft(1L, {max_rho} - m_j)"))
            + (F.lit(m) - F.count(F.lit(1))) * F.lit(top)
        ).alias("_s")
    )
    return s.select(
        *group_cols,
        (
            F.lit(_alpha(m)) * F.lit(m) * F.lit(m) * F.lit(top)
            / F.col("_s").cast("double")
        ).alias(out_col),
    )


# --------------------------------------------------------------- KMV


def kmv_sketch(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k: int = 256,
    assume_distinct: bool = False,
) -> DataFrame:
    """K-minimum-values sketch: (*key_cols, hv) — the k smallest
    distinct 52-bit md5 hashes of ``value_col`` per key. Pure integer
    selection (ROW_NUMBER over the hash order), so every estimate
    built on it replays exactly in SQL. ``assume_distinct`` skips the
    per-key value dedup when the caller already feeds distinct
    (key, value) rows (e.g. a persisted distinct-gram frame)."""
    v = df.select(*key_cols, F.col(value_col).cast("string").alias("_val"))
    # a NULL value hashes to NULL, and ascending rank puts NULLs
    # FIRST in Spark — one NULL would silently occupy a sketch slot
    # (and a NULL key would shadow a real group); drop both
    for c in [*key_cols, "_val"]:
        v = v.filter(F.col(c).isNotNull())
    if not assume_distinct:
        v = v.distinct()
    h = v.select(*key_cols, portable_md5_int(F.col("_val"), 13).alias("hv"))
    rk = h.withColumn(
        "_rn",
        F.row_number().over(Window.partitionBy(*key_cols).orderBy("hv")),
    )
    return rk.filter(F.col("_rn") <= k).drop("_rn")


def kmv_merge(
    sketch: DataFrame, group_cols: list[str], k: int = 256
) -> DataFrame:
    """Union sketches to coarser keys: distinct hashes, re-ranked,
    k smallest kept — the merged sketch of the union of the
    underlying sets (every retained hash is a true k-minimum of the
    union because each input sketch retains ALL its set's hashes
    below its own θ)."""
    rk = (
        sketch.select(*group_cols, "hv")
        .distinct()
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*group_cols).orderBy("hv")
            ),
        )
    )
    return rk.filter(F.col("_rn") <= k).drop("_rn")


def kmv_estimate_distinct(
    sketch: DataFrame,
    group_cols: list[str],
    k: int = 256,
    out_col: str = "est_distinct",
) -> DataFrame:
    """(group_cols..., est_distinct): the classic (k−1)·2⁵²/θ with
    the NOT-FULL fallback — a key with fewer than k hashes is wholly
    known and returns its own count (extrapolating an under-filled
    sketch would over-estimate; returning the count is exact)."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"), F.max("hv").alias("_theta")
    )
    return agg.select(
        *group_cols,
        F.when(F.col("_n") < k, F.col("_n").cast("double"))
        .otherwise(
            F.lit(float(k - 1))
            * F.lit(HASH_SPACE)
            / F.col("_theta").cast("double")
        )
        .alias(out_col),
    )


def kmv_overlap_pair(
    sketch: DataFrame,
    key_col: str,
    key_a: str,
    key_b: str,
    k: int = 256,
) -> DataFrame:
    """One row (pair, est_intersection, est_union) from a sketch
    keyed by ``key_col``: the set-INTERSECTION estimate HLL cannot
    give. A sketch truncated at θ provably contains EVERY element
    hashing below θ, so the matched-mins count D is exactly
    |A∩B ∩ [0,θ)| and est_∩ = D·2⁵²/θ (Beyer et al.); the union is
    the (k−1)·2⁵²/θ_u estimate over the merged mins. NOT-FULL
    fallbacks as in kmv_estimate_distinct: an under-filled side's θ
    is the full hash space (the side is wholly known); a merged-mins
    set under k returns its own size as the union.

    Callers should PERSIST ``sketch`` first: it feeds four branches
    (per-side θs, the union ranks, both join sides) and is ≤ 2k rows
    by construction."""
    sk = sketch.filter(F.col(key_col).isin(key_a, key_b)).select(
        F.col(key_col).alias("_key"), "hv"
    )
    thetas = sk.agg(
        F.max(F.when(F.col("_key") == key_a, F.col("hv"))).alias("_ta"),
        F.count(F.when(F.col("_key") == key_a, F.lit(1))).alias("_na"),
        F.max(F.when(F.col("_key") == key_b, F.col("hv"))).alias("_tb"),
        F.count(F.when(F.col("_key") == key_b, F.lit(1))).alias("_nb"),
    )
    te = thetas.select(
        F.least(
            F.when(F.col("_na") < k, F.lit(HASH_SPACE)).otherwise(
                F.col("_ta")
            ),
            F.when(F.col("_nb") < k, F.lit(HASH_SPACE)).otherwise(
                F.col("_tb")
            ),
        ).alias("_theta")
    )
    uni = (
        sk.select("hv")
        .distinct()
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy(F.lit(1)).orderBy("hv")),
        )
    )
    us = uni.agg(
        F.max("_rn").alias("_nu"),
        F.max(F.when(F.col("_rn") == k, F.col("hv"))).alias("_theta_u"),
    )
    a = sk.filter(F.col("_key") == key_a).select("hv")
    b = sk.filter(F.col("_key") == key_b).select("hv")
    dcount = (
        a.join(b, "hv")
        .crossJoin(F.broadcast(te))
        .filter(F.col("hv") < F.col("_theta"))
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    return (
        dcount.crossJoin(te)
        .crossJoin(us)
        .select(
            F.lit(f"{key_a}|{key_b}").alias("pair"),
            (
                F.col("_d").cast("double")
                * F.lit(HASH_SPACE)
                / F.col("_theta").cast("double")
            ).alias("est_intersection"),
            F.when(F.col("_nu") < k, F.col("_nu").cast("double"))
            .otherwise(
                F.lit(float(k - 1))
                * F.lit(HASH_SPACE)
                / F.col("_theta_u").cast("double")
            )
            .alias("est_union"),
        )
    )
