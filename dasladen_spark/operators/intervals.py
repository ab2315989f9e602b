"""Interval-set operators.

merge_intervals — union of overlapping [start, end) intervals per
key, the stack-free SQL formulation: an interval starts a new group
iff its start exceeds the running MAX(end) of every interval before
it (cumulative-max window); group ids are a running sum of those
flags. One key shuffle serves the ordering window, the flag window,
and the rollup — at 100 TB the only wide op is that single hash
exchange on the key.

interval_join — all pairs of overlapping ranges. The naive
formulation (join on key + overlap predicate) plans as a nested loop
over each key group: O(n·m) per key, which dies on keys with many
intervals. The scalable shape is GRID BINNING: each interval
registers in every fixed-width bin it touches, the join is an
equi-join on (key, bin), and the exact overlap predicate filters
within bins. Cost: shuffle on (key, bin) with fan-out = interval
width / bin width; dedupe pairs that share multiple bins by
attributing each pair to the FIRST bin they share (no distinct
needed — the attribution is computed, not deduped).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """(key, start, end)* → (key, merged_start, merged_end)* with all
    overlapping/touching intervals coalesced. Start/end must be
    orderable numerics; output column names are preserved."""
    wo = Window.partitionBy(key_col).orderBy(start_col, end_col)
    prev_max = F.max(end_col).over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = df.select(
        key_col,
        start_col,
        end_col,
        F.sum(
            F.when(
                prev_max.isNull() | (F.col(start_col) > prev_max), 1
            ).otherwise(0)
        )
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__g"),
    )
    return (
        grp.groupBy(key_col, "__g")
        .agg(
            F.min(start_col).alias(start_col),
            F.max(end_col).alias(end_col),
        )
        .drop("__g")
    )


def _bins(start: Column, end: Column, bin_width: int) -> Column:
    return F.sequence(
        F.floor(start / bin_width).cast("long"),
        F.floor(end / bin_width).cast("long"),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_start: str = "start",
    left_end: str = "end",
    right_start: str = "start",
    right_end: str = "end",
    bin_width: int = 1000,
    suffixes: tuple[str, str] = ("_a", "_b"),
) -> DataFrame:
    """All (left, right) pairs with equal ``key`` and
    [start, end] ∩ [start, end] ≠ ∅ (closed intervals).

    ``bin_width`` trades fan-out for bin population — set it near the
    median interval length. Pairs spanning several shared bins are
    emitted once: only the bin containing max(start_a, start_b) —
    the first moment both intervals are live — emits the pair."""
    sa, ea = left_start + suffixes[0], left_end + suffixes[0]
    sb, eb = right_start + suffixes[1], right_end + suffixes[1]
    a = left.select(
        F.col(key),
        F.col(left_start).alias(sa),
        F.col(left_end).alias(ea),
        *[F.col(c).alias(c + suffixes[0]) for c in left.columns
          if c not in (key, left_start, left_end)],
        F.explode(_bins(F.col(left_start), F.col(left_end), bin_width)).alias(
            "__bin"
        ),
    )
    b = right.select(
        F.col(key).alias("__kb"),
        F.col(right_start).alias(sb),
        F.col(right_end).alias(eb),
        *[F.col(c).alias(c + suffixes[1]) for c in right.columns
          if c not in (key, right_start, right_end)],
        F.explode(_bins(F.col(right_start), F.col(right_end), bin_width)).alias(
            "__bin"
        ),
    )
    overlap = (F.col(sa) <= F.col(eb)) & (F.col(sb) <= F.col(ea))
    first_shared_bin = F.floor(
        F.greatest(F.col(sa), F.col(sb)) / bin_width
    ).cast("long")
    return (
        a.join(b, on=[a["__bin"] == b["__bin"], F.col(key) == F.col("__kb")])
        .filter(overlap & (a["__bin"] == first_shared_bin))
        .drop("__bin", "__kb")
    )
