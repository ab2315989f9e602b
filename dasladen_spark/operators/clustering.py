"""Distributed k-means over embedding columns.

The iterative ML primitive beyond PageRank/connected-components: each
iteration is ONE corpus pass (the similarity.assign_cells HOF kernel
in raw-coordinate mode, fused with the recompute the way
pq.fit_pq_codebooks fuses encode+means) ending in ONE tiny hash
shuffle — lattice-point sums per (cluster, dim) with map-side partial
aggregation, k × dim partial rows per task regardless of corpus
size. No driver ever holds more than k × dim floats, so the same
loop runs a billion-row corpus.

Determinism (round 9 — the operators/pq lattice doctrine, applied in
RAW coordinate space since k-means is not a cosine method): seeds are
the k vectors with the smallest md5('kmeans-seed' || id), coordinates
land on the integer lattice ``zx = floor(x·Q + 0.5)``, assignments
are pure-BIGINT argmins with lowest-index tie-breaks, and centroid
updates are ``Σ zx / (n·Q)`` — one float division from exact
integers. Every assignment and every centroid is therefore a pure
function of the corpus that the DuckDB oracle re-derives bit-for-bit
(plans/llm._kmeans_ctes) — this replaced the round-8 numpy argmin
pandas UDF whose float sums were order-dependent at the last bit
(rows-only then; exact now). A scalar sequential replica is also
asserted equal in tests/test_operators.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dasladen_spark.operators.dedup import _spread
from dasladen_spark.operators.pq import PQ_QUANT, _lat
from dasladen_spark.operators.similarity import (
    _argmin_cell,
    assign_cells,
    cell_dist_array,
    lattice_zx_frame,
)


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iterations: int = 5,
    fit_fraction: float | None = None,
) -> DataFrame:
    """Run ``iterations`` of Lloyd's algorithm; returns the final
    (id, cluster) assignment. Init = the k vectors with the smallest
    md5('kmeans-seed' || id) — deterministic AND spread uniformly
    over the corpus even when ids correlate with content (lowest-id
    seeding starts every centroid in the same content neighborhood;
    same hash-ordered scheme as similarity.fit_ivf_centroids).
    ``fit_fraction`` runs the seed pick and Lloyd rounds on a
    deterministic id-hash sample (the 100 TB shape — see
    pq.fit_pq_codebooks); the FINAL assignment still covers every
    row."""
    # spread BEFORE the kernel passes: k grows with the corpus
    # (SemDeDup sizes one centroid per ~constant vectors), so the
    # k×dim per-row distance folds are a genuinely heavy kernel — on
    # a small single-file scan every Lloyd pass would otherwise run
    # on one core (measured at sf1: 117 s → see
    # history/OPTIMIZATION_r12.md §7; the IVF callers already ride
    # dedup._spread). No-op when the input is already wide — the
    # 100 TB case.
    full = _spread(
        df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        ),
        "id",
    )
    base = full
    from dasladen_spark.operators.sampling import (
        portable_sample_filter,
        validate_fit_fraction,
    )

    if validate_fit_fraction(fit_fraction):
        # md5-threshold membership (not the xxhash fast path): the
        # SAME predicate spells in ANSI SQL, so the sampled fit is
        # replayable bit-for-bit by the DuckDB oracle
        # (plans/llm6._pq_oracle fit_fraction)
        base = base.filter(
            portable_sample_filter(F.col("id"), fit_fraction, salt="kmeans-seed-fit")
        )
    base = base.persist()
    try:
        init = (
            base.orderBy(
                F.md5(
                    F.concat(F.lit("kmeans-seed"), F.col("id").cast("string"))
                )
            )
            .limit(k)
            .collect()
        )
        if len(init) < k:
            raise ValueError(
                f"kmeans_fit: corpus has {len(init)} rows, needs k={k}"
            )
        cent = [[float(x) for x in r["vec"]] for r in init]
        for _ in range(iterations):
            # fused recompute (r12, the fit_pq_codebooks shape): ONE
            # pass over the cache derives the lattice points AND the
            # assignment per row, then position-explodes straight
            # into the (cluster, dim)-keyed lattice sums — partial
            # (map-side) aggregation applies, the shuffle carries
            # k×dim partials per task, and no task ever materializes
            # a whole cluster (collect_list would — quadratic death
            # when one cluster owns most of the corpus). The previous
            # spelling re-shuffled the corpus TWICE per round: the
            # assignment groupBy exchange plus an id-keyed join of
            # dim rows per vector back onto the cells
            zc = [
                [_lat(v) for v in row] for row in np.asarray(cent)
            ]
            stats = (
                lattice_zx_frame(base, [], "vec", normalize=False)
                .select("_azx", cell_dist_array(zc).alias("_adarr"))
                .select(
                    _argmin_cell().alias("cluster"),
                    F.posexplode("_azx").alias("_pos", "_zx"),
                )
                .groupBy("cluster", "_pos")
                .agg(
                    F.sum("_zx").alias("_s"),
                    F.count(F.lit(1)).alias("_n"),
                )
                .collect()
            )
            # empty cluster keeps its spot
            for r in stats:
                cent[r["cluster"]][r["_pos"]] = r["_s"] / (
                    r["_n"] * PQ_QUANT
                )
        return assign_cells(
            full, np.asarray(cent), "id", "vec", "cluster",
            normalize=False,
        ).select("id", "cluster")
    finally:
        base.unpersist()
