"""Z-order (Morton curve) clustered parquet layout for two-column
data skipping.

A parquet scan prunes a file when the predicate falls outside the
file's column min/max footer stats. Sorting by ONE column makes that
column's per-file ranges tight and leaves every other column spanning
the full domain; interleaving the bits of TWO columns' rank buckets
(the Morton / z-order curve, the layout behind Delta's OPTIMIZE
ZORDER) keeps BOTH per-file ranges small, so selective predicates on
either column — or both — skip most files. ``write_zordered`` is the
writer; ``plans.sql.q_zorder_locality`` is the oracle-checked
audit of the same interleave (``zvalue``) and bucket arithmetic; the pyarrow-footer test in
``tests/test_zorder.py`` proves the bbox shrink against a
single-column sort.

Beyond-reference operator (the reference hands storage layout to an
RDBMS, /root/reference/dasladen/task.py:94-107; no layout control
exists there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_Z_BITS = 8  # 8 bits per dimension → 16-bit z values


def zvalue(xb, yb) -> F.Column:
    """Interleave two 8-bit (_Z_BITS) bucket Columns into a Morton
    (z-order) value — pure JVM integer arithmetic (shifts and masks),
    no UDF. Consecutive z values are spatially adjacent in (x, y), so
    range-partitioning and sorting by z co-locates rows that a
    two-column predicate selects together: the layout behind
    file-level min/max data skipping."""
    bits = []
    for k in range(_Z_BITS):
        bits.append(
            F.shiftright(xb, k).bitwiseAND(F.lit(1)) * (1 << (2 * k + 1))
        )
        bits.append(
            F.shiftright(yb, k).bitwiseAND(F.lit(1)) * (1 << (2 * k))
        )
    z = bits[0]
    for b in bits[1:]:
        z = z + b
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    z-order curve over two numeric/date columns.

    Scale shape: one tiny min/max aggregate broadcasts the global
    bounds; bucketing and the Morton interleave are pure JVM integer
    expressions; ``repartitionByRange`` on the z value does ONE
    range-exchange (AQE-compatible, sampled bounds) and
    ``sortWithinPartitions`` lines each file up in curve order so
    every file covers a contiguous z range — a compact (x, y) bbox
    in the footer stats. The helper columns are dropped before the
    write; the layout is invisible to readers except through the
    stats. Date/timestamp columns are bucketed via their epoch-day
    rank; numeric columns via integer rank — both exact.
    """
    a, b = cols

    def as_long(c: str) -> F.Column:
        dt = dict(df.dtypes)[c]
        if dt in ("date", "timestamp", "timestamp_ntz"):
            return F.datediff(F.col(c), F.lit("1970-01-01").cast("date"))
        return F.col(c).cast("long")

    tagged = df.withColumn("__zx", as_long(a)).withColumn("__zy", as_long(b))
    bounds = tagged.agg(
        F.min("__zx").alias("__minx"),
        F.max("__zx").alias("__maxx"),
        F.min("__zy").alias("__miny"),
        F.max("__zy").alias("__maxy"),
    )
    # every span fills all 2^bits buckets: multiply-then-divide, the
    # q_zorder_locality form, while (v - min) * (2^bits - 1) fits a
    # bigint (span < 2^55); divide-first past that, so a full-width
    # 64-bit domain (hash / snowflake ids) never wraps bigint and
    # z-orders garbage with no error. LEAST caps the last (ragged)
    # divide-first bucket at 2^bits - 1.
    mask = (1 << _Z_BITS) - 1

    def bucket(v: str, lo: str, hi: str) -> F.Column:
        return F.expr(
            f"CAST(CASE WHEN {hi} <= {lo} THEN 0"
            f" WHEN {hi} - {lo} < {1 << 55}"
            f" THEN (({v} - {lo}) * {mask}) DIV ({hi} - {lo})"
            f" ELSE LEAST(({v} - {lo}) DIV (({hi} - {lo}) DIV {mask + 1} + 1),"
            f" {mask}) END AS INT)"
        )

    bucketed = (
        tagged.crossJoin(F.broadcast(bounds))
        .withColumn("__zxb", bucket("__zx", "__minx", "__maxx"))
        .withColumn("__zyb", bucket("__zy", "__miny", "__maxy"))
        .withColumn("__z", zvalue(F.col("__zxb"), F.col("__zyb")))
    )
    out_cols = df.columns
    (
        bucketed.repartitionByRange(max(1, n_files), "__z")
        .sortWithinPartitions("__z")
        .select(*out_cols)
        .write.mode(mode)
        .parquet(path)
    )
