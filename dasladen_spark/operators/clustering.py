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
(plans/shared.kmeans_ctes) — this replaced the round-8 numpy argmin
pandas UDF whose float sums were order-dependent at the last bit
(rows-only then; exact now). A scalar sequential replica is also
asserted equal in tests/test_operators.py.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dasladen_spark.operators.dedup import _spread
from dasladen_spark.operators.pq import lattice_lloyd_fit
from dasladen_spark.operators.similarity import assign_cells, nearest_cell_sums


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iterations: int = 5,
    fit_fraction: float | None = None,
) -> DataFrame:
    """Run ``iterations`` of Lloyd's algorithm; returns the final
    (id, cluster) assignment. The fit is pq.lattice_lloyd_fit in raw
    coordinates: the k vectors with the smallest md5('kmeans-seed' ||
    id) seed it (lowest-id seeding would start every centroid in the
    same content neighborhood), and ``fit_fraction`` runs the seed
    pick and Lloyd rounds on a deterministic id-hash sample; the FINAL
    assignment still covers every row."""
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
    cent = lattice_lloyd_fit(
        full, "id", "vec", k, iterations, "kmeans-seed", fit_fraction,
        normalize=False,
        lloyd_round=partial(nearest_cell_sums, normalize=False),
        fit_name="kmeans_fit",
    )
    return assign_cells(
        full, np.asarray(cent), "id", "vec", "cluster", normalize=False,
    ).select("id", "cluster")
