"""Distributed global ranking — total-order row numbers without a
single-partition window.

`ROW_NUMBER() OVER (ORDER BY ...)` with no PARTITION BY funnels the
whole dataset through one task (Spark even warns). The scalable
form: range-repartition on the order key, number rows within each
partition, then add the count of all preceding partitions (a tiny
driver-side cumulative sum — one row per partition). Cost: one range
shuffle + one pid shuffle, both fully parallel.

The order must be TOTAL (include a unique tiebreak column):
RangePartitioner may split equal keys across partition boundaries,
which would make ranks of tied rows partition-dependent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__rank_pid"
_RN = "__rank_rn"


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = 1-based global row number under the total
    order ``order_by``. Fully distributed; exact."""
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint pins the range partitioning: RangePartitioner
    # SAMPLES to pick boundaries, so re-executing the plan (the count
    # job below + the final job) could place rows differently and
    # corrupt the offsets. Materializing once makes both jobs read
    # the same layout (at cluster scale: persist MEMORY_AND_DISK or
    # write an intermediate table).
    ranged = (
        df.repartitionByRange(n_parts, *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r[_PID], r["n"])
        for r in ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets = []
    acc = 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = df.sparkSession.createDataFrame(
        offsets, f"{_PID} int, __rank_off long"
    )
    w = Window.partitionBy(_PID).orderBy(*order_by)
    return (
        ranged.withColumn(_RN, F.row_number().over(w))
        .join(F.broadcast(off_df), _PID)
        .withColumn(out_col, (F.col(_RN) + F.col("__rank_off")).cast("long"))
        .drop(_PID, _RN, "__rank_off")
    )


def global_ntile(
    df: DataFrame,
    order_by: list[Column],
    k: int,
    out_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact NTILE(k) under a total order, without a global window.

    SQL NTILE's fill rule: base = n div k rows per tile, and the
    FIRST n mod k tiles take one extra row — reproduced piecewise
    from the global row number. Needs the total row count — one
    extra cheap action over data already shuffled."""
    ranked = global_row_number(df, order_by, out_col="__gn", num_partitions=num_partitions)
    n = ranked.count()
    base, rem = divmod(n, k)
    big = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
    rn0 = F.col("__gn") - 1
    tile = F.when(rn0 < big, (rn0 / (base + 1)).cast("long")).otherwise(
        rem + ((rn0 - big) / base).cast("long") if base else F.lit(rem - 1)
    )
    return ranked.withColumn(out_col, (tile + 1).cast("int")).drop("__gn")


def global_prefix_sum(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    out_col: str = "prefix_sum",
    exclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = running total of ``value_col`` under the
    total order ``order_by`` — the distributed form of
    ``SUM(v) OVER (ORDER BY ...)``, which Spark would otherwise plan
    as a single-partition window.

    Same two-job shape as :func:`global_row_number`: range-shuffle on
    the order key, per-partition local prefix sums, plus a broadcast
    of per-partition totals turned into start offsets (one row per
    partition — driver-side cumulative sum is O(partitions), never
    O(rows)). ``exclusive=True`` yields the sum of *strictly
    preceding* rows (0 for the first row) — the form sequence packing
    and offset assignment need."""
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n_parts, *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sums = sorted(
        (r[_PID], r["s"])
        for r in ranged.groupBy(_PID)
        .agg(F.sum(value_col).cast("long").alias("s"))
        .collect()
    )
    offsets = []
    acc = 0
    for pid, s in sums:
        offsets.append((pid, acc))
        acc += s or 0
    off_df = df.sparkSession.createDataFrame(
        offsets, f"{_PID} int, __psum_off long"
    )
    upper = -1 if exclusive else 0
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    local = F.coalesce(F.sum(value_col).over(w).cast("long"), F.lit(0))
    return (
        ranged.join(F.broadcast(off_df), _PID)
        .withColumn(out_col, local + F.col("__psum_off"))
        .drop(_PID, "__psum_off")
    )


def rank_per_query(
    df: DataFrame, score_col: str, k: int, rank_col: str = "rank"
) -> DataFrame:
    """Each query's ``k`` best rows, numbered 1..k in ``rank_col``:
    ``row_number() OVER (PARTITION BY query_id ORDER BY score_col
    DESC, neighbor_id ASC) <= k``. Ties go to the lowest neighbor id,
    so the ranking is deterministic — the one order every ANN ranker
    and its DuckDB oracle share."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    salt_col: Column | None = None,
    salt_parts: int = 64,
    out_col: str = "rank",
) -> DataFrame:
    """Exact top-k rows per group under the total order ``order_by``,
    without ever sorting a whole group in one task.

    ``ROW_NUMBER() OVER (PARTITION BY g ORDER BY ...) <= k`` sorts
    each group in a single task — fine when groups are numerous and
    small, a straggler (or OOM) when one stratum holds a large share
    of a 100 TB corpus. Two-phase form: salt each row into one of
    ``salt_parts`` subgroups (deterministic hash of ``salt_col``),
    take the local top-k per (group, salt) — every window partition
    is ~1/salt_parts of the stratum — then re-rank the surviving
    ``salt_parts * k`` candidates per group, a bounded set. Any row
    in the true global top-k is necessarily in its subgroup's top-k,
    so the result is exact, and ``order_by`` being total makes it
    deterministic.

    ``salt_col`` defaults to the first order column (adequate when
    it is near-unique; pass the row id otherwise)."""
    salt_src = salt_col if salt_col is not None else order_by[0]
    salted = df.withColumn(
        "__tk_salt", F.pmod(F.xxhash64(salt_src), F.lit(salt_parts))
    )
    w1 = Window.partitionBy(*group_cols, "__tk_salt").orderBy(*order_by)
    cand = (
        salted.withColumn("__tk_rn", F.row_number().over(w1))
        .filter(F.col("__tk_rn") <= k)
        .drop("__tk_salt", "__tk_rn")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        cand.withColumn(out_col, F.row_number().over(w2))
        .filter(F.col(out_col) <= k)
    )
