"""Data-quality contracts — declarative row/set-level validation.

Rules are SQL predicates ("l_quantity > 0", "o_custkey IS NOT NULL"),
evaluated in ONE pass (each rule becomes a when/sum aggregate — no
per-rule job). Uniqueness, the one set-level check a contract needs,
is its own keyed aggregate. Violations come back as data, not
exceptions: a 100 TB ingest quarantines and reports; it doesn't
stack-trace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def check_rules(df: DataFrame, rules: dict[str, str]) -> dict[str, int]:
    """rule name → violation count, all rules in one aggregate pass."""
    aggs = [
        F.sum(F.when(~F.expr(pred), 1).otherwise(0)).cast("long").alias(name)
        for name, pred in rules.items()
    ]
    row = df.agg(*aggs).collect()[0]
    return {name: row[name] or 0 for name in rules}


def split_valid(
    df: DataFrame, rules: dict[str, str]
) -> tuple[DataFrame, DataFrame]:
    """(clean, violations): violations carry a `violated` array naming
    every failed rule, so one pass feeds both the pipeline and the
    quarantine report."""
    flags = F.array_compact(
        F.array(
            *[
                F.when(~F.expr(pred), F.lit(name))
                for name, pred in rules.items()
            ]
        )
    )
    tagged = df.withColumn("violated", flags)
    clean = tagged.filter(F.size("violated") == 0).drop("violated")
    bad = tagged.filter(F.size("violated") > 0)
    return clean, bad


def check_unique(df: DataFrame, key_cols: list[str] | str) -> DataFrame:
    """Keys appearing more than once, with their counts (empty result
    = uniqueness holds). One shuffle on the key."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def require_unique_ids(
    df: DataFrame, id_col: str, what: str, why: str = ""
) -> None:
    """Fail unless ``id_col`` is non-null and unique over ``df`` (one
    aggregate job). ``what`` names the caller in the error and ``why``
    is appended to it."""
    stats = df.agg(
        F.count(id_col).alias("n_ids"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(id_col).alias("n_distinct"),
    ).collect()[0]
    if stats.n_ids != stats.n_rows or stats.n_distinct != stats.n_rows:
        raise ValueError(
            f"{what}: id_field {id_col!r} must be non-null and unique"
            f" ({stats.n_rows} rows, {stats.n_ids} non-null,"
            f" {stats.n_distinct} distinct){why}"
        )
