"""Certified-exact heavy hitters — top-k frequent values with a
bounded-shuffle plan and a proof of its own exactness.

The naive exact top-k (`groupBy(col).count().orderBy(...).limit(k)`)
shuffles one row per DISTINCT value — at 100 TB of text that is the
full vocabulary (billions of n-grams), and the shuffle IS the query
cost. This operator caps the shuffle at ``P × k×slack`` candidate
rows regardless of vocabulary size:

1. **Candidates** — one Misra-Gries summary per partition
   (``k×slack`` counters, O(1) memory per partition, one pass).
   MG's guarantee: any value with in-partition frequency above
   ``n_p / (k·slack)`` survives partition p; summing over partitions,
   any value with GLOBAL frequency above ``N / (k·slack)`` survives
   in at least one partition — so the candidate union is a superset
   of every sufficiently-frequent value.
2. **Exact recount** — broadcast the candidate set, semi-join, and
   count exactly (map-side combined: ≤ |candidates| rows shuffle).
3. **Certificate** — if the k-th recounted frequency exceeds
   ``N / (k·slack)``, step 1's guarantee says no non-candidate can
   outrank it: the result is EXACT, and the operator proves it from
   its own outputs. Otherwise (adversarially flat distributions) it
   raises rather than silently returning approximations — raise
   ``slack`` and re-run.

Beyond-reference operator (the reference delegates all query power to
an RDBMS, /root/reference/dasladen/task.py:94-107).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class UncertifiedTopK(RuntimeError):
    """The MG threshold cannot certify exactness at this slack."""


def heavy_hitters_exact(
    df: DataFrame,
    col: str,
    k: int = 20,
    slack: int = 8,
    on_uncertified: str = "raise",
) -> DataFrame:
    """Exact (certified) top-``k`` values of ``df[col]`` by count,
    ties broken by value — see module docstring for the plan shape.
    Returns (``col``, freq) ordered by freq desc, value asc."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_type

    k2 = k * slack
    flush_rows = 1 << 19  # buffered-merge granularity (memory bound)
    vals = df.select(F.col(col).alias("v"))
    v_type = vals.schema["v"].dataType.simpleString()
    arrow_v = to_arrow_type(vals.schema["v"].dataType)
    out_schema = pa.schema(
        [
            pa.field("v", arrow_v),
            pa.field("n", pa.int64()),
            pa.field("evicted", pa.bool_()),
        ]
    )

    def mg_partition(batches):
        # batch-granular Misra-Gries over RAW ARROW batches (no
        # object-dtype pandas materialization): buffered chunks get
        # one value_counts() — an EXACT (zero-error) summary — merged
        # into the counters with the mergeable-summaries rule
        # (Agarwal et al. 2012): add, then subtract the (k2+1)-th
        # largest count and drop non-positives. The subtracted mass
        # per merge is charged against >= k2+1 counters, so total
        # undercount <= n_p/(k2+1) — the survival bound the
        # certificate below relies on (it tests the LOOSER n/k2).
        # ~6-8x the retired row-loop variant (history/MGBENCH_r11.json).
        counters = pd.Series(dtype="int64")
        n_rows = 0
        evicted = False
        pending: list = []
        pending_rows = 0

        def flush():
            nonlocal counters, n_rows, evicted, pending, pending_rows
            if not pending:
                return
            ca = pa.chunked_array(pending)  # zero-copy over batches
            pending, pending_rows = [], 0
            vc = pc.value_counts(ca)
            n_rows += len(ca) - ca.null_count
            vals_a, cnts = vc.field("values"), vc.field("counts")
            if vals_a.null_count:  # nulls never count as a value
                keep = pc.is_valid(vals_a)
                vals_a, cnts = vals_a.filter(keep), cnts.filter(keep)
            ser = pd.Series(cnts.to_numpy(), index=vals_a.to_pandas())
            if counters.empty:
                counters = ser
            else:
                # pure-int64 merge: Series.add(fill_value=...) routes
                # through float64, which would silently lose precision
                # above 2^53 per-partition counts (the operator
                # advertises 100 TB); reindex+fillna stays integral
                union = counters.index.union(ser.index)
                counters = counters.reindex(union, fill_value=0).astype(
                    "int64"
                ) + ser.reindex(union, fill_value=0).astype("int64")
            if len(counters) > k2:
                evicted = True
                cut = counters.nlargest(k2 + 1).iloc[-1]
                counters = counters[counters > cut] - cut

        for batch in batches:
            arr = batch.column(0)
            pending.append(arr)
            pending_rows += len(arr)
            if pending_rows >= flush_rows:
                flush()
        flush()
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(list(counters.index) + [None], type=arrow_v),
                pa.array([None] * len(counters) + [n_rows], type=pa.int64()),
                pa.array(
                    [None] * len(counters) + [evicted], type=pa.bool_()
                ),
            ],
            schema=out_schema,
        )

    summary = vals.mapInArrow(
        mg_partition, f"v {v_type}, n bigint, evicted boolean"
    ).persist()
    try:
        tallies = summary.filter(F.col("n").isNotNull()).agg(
            F.sum("n").alias("n_total"),
            F.max(F.col("evicted").cast("int")).alias("any_evicted"),
        ).collect()[0]
        n_total = tallies["n_total"] or 0
        any_evicted = bool(tallies["any_evicted"])
        cands = summary.filter(F.col("v").isNotNull()).select("v").distinct()
        counts = (
            vals.join(F.broadcast(cands), "v", "left_semi")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
        topk = (
            counts.orderBy(F.col("freq").desc(), F.col("v").asc())
            .limit(k)
            .collect()
        )
    finally:
        summary.unpersist()
    # exactness certificate, two sufficient conditions:
    # - no partition ever evicted → the candidates ARE every distinct
    #   value (a result shorter than k just means < k distinct values)
    # - k full rows whose kth frequency clears the MG survival bound
    #   → no non-candidate can outrank any of them
    threshold = n_total / k2
    certified = not any_evicted or (
        len(topk) == k and topk[-1]["freq"] > threshold
    )
    if not certified:
        kth = topk[-1]["freq"] if topk else 0
        msg = (
            f"top-{k} not certifiable: {len(topk)} candidate rows, kth "
            f"frequency {kth} <= N/(k*slack) = {threshold:.1f}; raise "
            f"slack (currently {slack})"
        )
        if on_uncertified == "raise":
            raise UncertifiedTopK(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(r["v"], r["freq"]) for r in topk], f"{col} {v_type}, freq bigint"
    ).orderBy(F.col("freq").desc(), F.col(col).asc())
