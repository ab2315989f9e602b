"""Vector search and embeddings: brute-force, LSH, IVF, PQ and
Hamming ANN rankers, their recall and tuning reports, k-means,
retrieval metrics (BM25, nDCG/MRR, reciprocal-rank fusion) and
embedding-space audits.

Every float that is ranked or thresholded is a deterministic left fold
or a lattice-quantised integer, identical in Spark and DuckDB (see
``functions/vectors`` and ``operators/pq``).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.operators.similarity import cosine_topk
from dasladen_spark.plans.registry import query
from dasladen_spark.plans.shared import KM_ITERS, KM_K, cosine_sql, kmeans_ctes
from dasladen_spark.session import load_table as _t


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {cosine_sql('q.qv', 'e.embedding')} AS cosine
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors: queries
    broadcast, corpus scanned once — the exact-ANN baseline."""
    emb = _t(spark, sf_dir, "embeddings")
    res = cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5, exclude_self=True
    )
    return res.withColumn("cosine", F.round("cosine", 6))


# ONE definition of the ann_lsh_topk / ann_indexed_topk geometry,
# passed EXPLICITLY to the operator call, the index build, and the
# oracle — relying on each side's own defaults would let a future
# operator retune silently desynchronize the Spark plan from its
# oracle (the same single-source rule hyperplane_buckets_oracle_cte
# enforces for the quantum and bit packing)
_ANN_LSH_TABLES = 16
_ANN_LSH_BITS = 4


def _lsh_topk_oracle(
    num_tables: int = _ANN_LSH_TABLES, bits: int = _ANN_LSH_BITS
) -> str:
    """ann_lsh_topk's APPROXIMATE result replayed exactly: since
    round 9 the hyperplane buckets are quantized-integer
    (operators/dedup.hyperplane_table_buckets), so the oracle can
    rebuild the same 64 plane dots, the same buckets, the same
    candidate set, and rank the same cosines — recall < 1 no longer
    blocks an exact oracle because the oracle models the HASH, not
    the exact answer (the decontaminate_semantic_ann playbook)."""
    from dasladen_spark.operators.dedup import hyperplane_buckets_oracle_cte

    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), {hyperplane_buckets_oracle_cte(num_tables, bits, 64)},
    cand AS MATERIALIZED (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c USING (t, bkt)
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ), s AS (
      SELECT cand.query_id, cand.neighbor_id,
             {cosine_sql('a.v', 'b.v')} AS cos
      FROM cand
      JOIN e a ON a.vec_id = cand.query_id
      JOIN e b ON b.vec_id = cand.neighbor_id
    ), r AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rnk
      FROM s
    )
    SELECT query_id, CAST(rnk AS INT) AS rank, neighbor_id,
           ROUND(cos, 6) AS cosine
    FROM r WHERE rnk <= 5 ORDER BY query_id, rank
    """


@query("ann_lsh_topk", oracle=_lsh_topk_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (the 100 TB scale path: probes
    buckets instead of scanning the corpus). EXACT oracle since
    round 9: the quantized-integer bucket hash replays bit-for-bit
    in SQL, so even the approximate candidate set is verified."""
    from dasladen_spark.operators.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    res = lsh_cosine_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=5,
        dim=64,
        num_tables=_ANN_LSH_TABLES,
        bits_per_table=_ANN_LSH_BITS,
    )
    return res.withColumn("cosine", F.round("cosine", 6)).orderBy(
        "query_id", "rank"
    )


@query("ann_indexed_topk", oracle=_lsh_topk_oracle())
def ann_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 via the MATERIALIZED LSH index (operators/ann_index):
    posting lists are built once into a table bucketed by probe key;
    the query batch broadcast-joins onto it, so the corpus side runs
    with zero Exchange and zero Python UDF at query time. Same hash
    family and parameters as ann_lsh_topk — row-identical results
    (asserted in tests), amortized build cost; since round 9 that
    also means the SAME exact SQL oracle verifies the index path
    end-to-end (build, probe keys, candidate join, re-rank)."""
    from dasladen_spark.operators.ann_index import (
        ensure_ann_index,
        search_ann_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    idx = ensure_ann_index(
        emb,
        "ann_idx_lsh",
        tag=sf_dir,
        dim=64,
        num_tables=_ANN_LSH_TABLES,
        bits_per_table=_ANN_LSH_BITS,
    )
    res = search_ann_index(
        spark, idx, emb.filter(F.col("vec_id") < 10), k=5
    )
    return res.withColumn("cosine", F.round("cosine", 6)).orderBy(
        "query_id", "rank"
    )


# the registered IVF geometry — passed explicitly to the operator
# call and the oracle generator (single-source rule)
_IVF_CELLS = 16
_IVF_PROBE = 4
_IVF_ITERS = 1
_IVF_DIM = 64
_IVF_K = 5


def _ivf_ctes(
    cells: int = _IVF_CELLS,
    probe_keep: int = _IVF_PROBE,
    iters: int = _IVF_ITERS,
    dim: int = _IVF_DIM,
) -> str:
    """The IVF replay's CTE body (raw/xn/zx → Lloyd rounds → final
    assignment a{iters+1} → qprobe with its probe rank kept), shared
    by _ivf_oracle and the tuning-curves oracle — ``qprobe`` holds
    each audit query's ``probe_keep`` nearest cells WITH ``rn``, so a
    sweep can restrict to any shallower probe depth for free."""
    q = "1000000.0::DOUBLE"  # operators/pq.PQ_QUANT
    zdist = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    parts = [
        f"""
    WITH raw AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), xn AS MATERIALIZED (
      SELECT vec_id, list_transform(v, x -> x / d) AS xn
      FROM (
        SELECT vec_id, v,
               greatest(sqrt(CAST(list_sum(list_transform(v,
                 x -> CAST(floor(x * x * {q} + 0.5) AS BIGINT)))
                 AS DOUBLE) / {q}), 1e-12) AS d
        FROM raw)
    ), zx AS MATERIALIZED (
      SELECT vec_id,
             list_transform(xn, x -> CAST(floor(x * {q} + 0.5) AS BIGINT))
               AS zx
      FROM xn
    ), b0 AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS c, xn AS coef
      FROM (SELECT md5('ivf-seed' || CAST(vec_id AS VARCHAR)) AS h, xn
            FROM xn ORDER BY h LIMIT {cells})
    )"""
    ]
    for r in range(1, iters + 2):
        parts.append(f""", zb{r - 1} AS MATERIALIZED (
      SELECT c,
             list_transform(coef, x -> CAST(floor(x * {q} + 0.5) AS BIGINT))
               AS zc
      FROM b{r - 1}
    ), a{r} AS MATERIALIZED (
      SELECT vec_id, c AS cell FROM (
        SELECT z.vec_id, b.c,
               ROW_NUMBER() OVER (PARTITION BY z.vec_id
                 ORDER BY {zdist.format(a='z.zx', b='b.zc')} ASC,
                          b.c ASC) AS rn
        FROM zx z CROSS JOIN zb{r - 1} b)
      WHERE rn = 1
    )""")
        if r <= iters:
            parts.append(f""", s{r} AS MATERIALIZED (
      SELECT cell, i, SUM(zv) AS s, COUNT(*) AS n
      FROM (
        SELECT a.cell, unnest(generate_series(1, {dim})) AS i,
               unnest(z.zx) AS zv
        FROM a{r} a JOIN zx z USING (vec_id))
      GROUP BY 1, 2
    ), b{r} AS MATERIALIZED (
      SELECT p.c,
             CASE WHEN mm.coef IS NULL THEN p.coef ELSE mm.coef END AS coef
      FROM b{r - 1} p LEFT JOIN (
        SELECT cell AS c,
               list(CAST(s AS DOUBLE) / (n * {q}) ORDER BY i) AS coef
        FROM s{r} GROUP BY cell) mm USING (c)
    )""")
    parts.append(f""", qprobe AS MATERIALIZED (
      SELECT vec_id AS query_id, c AS cell, rn FROM (
        SELECT z.vec_id, b.c,
               ROW_NUMBER() OVER (PARTITION BY z.vec_id
                 ORDER BY {zdist.format(a='z.zx', b='b.zc')} ASC,
                          b.c ASC) AS rn
        FROM zx z CROSS JOIN zb{iters} b
        WHERE z.vec_id < 10)
      WHERE rn <= {probe_keep}
    )""")
    return "".join(parts)


def _ivf_oracle(
    cells: int = _IVF_CELLS,
    n_probe: int = _IVF_PROBE,
    iters: int = _IVF_ITERS,
    dim: int = _IVF_DIM,
    k: int = _IVF_K,
) -> str:
    """ann_ivf_topk's APPROXIMATE result replayed exactly — the
    model-the-method doctrine (see _pq_oracle, whose fit this IS
    with one subspace spanning the whole vector): quantized-integer
    norms and coordinates make every seed pick, Lloyd mean, cell
    assignment, and probe choice a pure integer computation this SQL
    re-derives bit-for-bit; only the final re-rank cosine is float,
    and it is ROUND()ed like every other cosine output."""
    return _ivf_ctes(cells, n_probe, iters, dim) + f"""
    , scored AS (
      SELECT p.query_id, l.vec_id AS neighbor_id,
             {cosine_sql('qr.v', 'nr.v')} AS cosine
      FROM qprobe p JOIN a{iters + 1} l USING (cell)
           JOIN raw qr ON qr.vec_id = p.query_id
           JOIN raw nr ON nr.vec_id = l.vec_id
      WHERE l.vec_id <> p.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rank <= {k}
    """


@query("ann_ivf_topk", oracle=_ivf_oracle())
# recall vs the exact baseline additionally audited in
# tests/test_operators.py::test_ivf_topk_recall_vs_exact
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-5 (inverted-file cells + n_probe
    search — the other standard ANN scale path besides LSH)."""
    from dasladen_spark.operators.similarity import ivf_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    res = ivf_cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=_IVF_K,
        n_centroids=_IVF_CELLS, n_probe=_IVF_PROBE,
        lloyd_iters=_IVF_ITERS,
    )
    return res.withColumn("cosine", F.round("cosine", 6)).orderBy(
        "query_id", "rank"
    )


@query(
    "kmeans_embeddings",
    # exact since round 9: the lattice k-means (see kmeans_ctes);
    # a scalar sequential replica is also asserted equal in
    # tests/test_operators.py::test_kmeans_matches_numpy_reference
    oracle=kmeans_ctes()
    + f"""
    SELECT cluster, COUNT(*) AS n_members
    FROM ka{KM_ITERS + 1} GROUP BY cluster ORDER BY cluster
    """,
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embedding corpus (k=8, 4 Lloyd's
    iterations, deterministic lowest-id init): per iteration one
    broadcast-centroid assign stage (vectorized Arrow argmin) and one
    partial-aggregated component-sum shuffle — the driver holds only
    k×dim floats, so the identical loop runs a billion-row corpus.
    Returns cluster sizes (the mix report clustering feeds)."""
    from dasladen_spark.operators.clustering import kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_fit(
        emb, "embedding", "vec_id", k=KM_K, iterations=KM_ITERS
    )
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster")
    )


@query(
    "kmeans_purity",
    # exact since round 9 (same lattice assignment as
    # kmeans_embeddings; purity is one long→double division)
    oracle=kmeans_ctes()
    + f"""
    , kcounts AS (
      SELECT a.cluster, e.label, COUNT(*) AS n
      FROM ka{KM_ITERS + 1} a JOIN embeddings e USING (vec_id)
      GROUP BY 1, 2
    ), ktop AS (
      SELECT cluster, label, n,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY n DESC, label) AS rk
      FROM kcounts
    ), ksizes AS (
      -- HUGEINT would reach pandas as float64; Spark's sum is LONG
      SELECT cluster, CAST(SUM(n) AS BIGINT) AS size
      FROM kcounts GROUP BY cluster
    )
    SELECT t.cluster, s.size, t.label AS majority_label,
           CAST(t.n AS DOUBLE) / CAST(s.size AS DOUBLE) AS purity
    FROM ktop t JOIN ksizes s USING (cluster)
    WHERE t.rk = 1 ORDER BY t.cluster
    """,
)
def kmeans_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality audit: k-means clusters crossed with the
    corpus's ground-truth labels — per cluster, its size, majority
    label, and purity (majority share). The eval step that decides
    whether unsupervised structure tracks the labeled structure.
    One broadcast-join of the tiny assignment→label rollup; purity is
    an exact long→double division."""
    from dasladen_spark.operators.clustering import kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_fit(
        emb, "embedding", "vec_id", k=KM_K, iterations=KM_ITERS
    )
    crossed = assigned.join(
        emb.select(F.col("vec_id").alias("id"), "label"), "id"
    )
    counts = crossed.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("cluster").orderBy(F.col("n").desc(), "label")
    top = counts.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    sizes = counts.groupBy("cluster").agg(F.sum("n").alias("size"))
    return (
        top.join(sizes, "cluster")
        .select(
            "cluster",
            "size",
            F.col("label").alias("majority_label"),
            (F.col("n").cast("double") / F.col("size").cast("double")).alias(
                "purity"
            ),
        )
        .orderBy("cluster")
    )


#: the sampled-fit fraction registered under the gate (the
#: ann_pq_sampled_topk convention — single-source with the oracle)
_KM_FIT_FRACTION = 0.5


@query(
    "kmeans_sampled_sizes",
    oracle=kmeans_ctes(fit_fraction=_KM_FIT_FRACTION)
    + f"""
    SELECT cluster, COUNT(*) AS n_members
    FROM ka{KM_ITERS + 1} GROUP BY cluster ORDER BY cluster
    """,
)
def kmeans_sampled_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kmeans_embeddings with ``fit_fraction=0.5`` — the 100 TB fit
    path for clustering: seeds and Lloyd rounds run on a
    deterministic md5-threshold half of the corpus
    (operators/sampling.portable_sample_filter) while the FINAL
    assignment covers every row. The oracle replays the sampled fit
    exactly (same predicate, seeds + means restricted to the
    sample), so the cluster task's ``fit_fraction`` knob sits under
    the driver's exact correctness gate alongside the PQ one."""
    from dasladen_spark.operators.clustering import kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_fit(
        emb,
        "embedding",
        "vec_id",
        k=KM_K,
        iterations=KM_ITERS,
        fit_fraction=_KM_FIT_FRACTION,
    )
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("cluster")
    )


@query(
    "embedding_vector_stats",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(list_min(embedding) AS DOUBLE) AS mn,
           CAST(list_max(embedding) AS DOUBLE) AS mx
    FROM embeddings WHERE vec_id < 100
    """,
)
def embedding_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row vector hygiene stats (dimension, component min/max)
    via higher-order array functions — the sanity scan run before
    any embedding pipeline (NaN/degenerate-range detection). min/max
    are order-independent selections, so float32 components compare
    exactly (cast to double is value-preserving); narrow projection,
    pushed-down id filter, zero shuffle."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_min("embedding").cast("double").alias("mn"),
        F.array_max("embedding").cast("double").alias("mx"),
    )


@query("embedding_pca_variance")  # eigensolve — no SQL oracle; numpy
# differential test: tests/test_operators.py::test_pca_matches_numpy
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal-component eigenvalues and explained-variance
    ratios of the embedding corpus — the anisotropy report read
    before whitening or picking an ANN index (a collapsed spectrum
    means the embedder wastes dimensions).

    ONE distributed pass folds each partition into (count, Σx, XᵀX)
    via BLAS on Arrow batches (operators/linalg.py); the driver sums
    partition-count rows — O(d²) memory regardless of corpus size —
    and eigensolves the 64×64 covariance in microseconds."""
    from dasladen_spark.operators.linalg import pca_explained_variance

    emb = _t(spark, sf_dir, "embeddings")
    comps = pca_explained_variance(emb, "embedding", dim=64, k=8)
    return spark.createDataFrame(
        [(c, round(ev, 9), round(r, 9)) for c, ev, r in comps],
        "component INT, eigenvalue DOUBLE, explained_ratio DOUBLE",
    )


@query("embedding_whiten_check")  # driver-side eigensolve — rows-only
# (covariance-identity proof: tests/test_operators.py::
# test_whiten_produces_identity_covariance)
def embedding_whiten_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA-whitening audit: whiten the corpus (broadcast d×d rotation,
    pure map — operators/linalg.whiten), then report per-dimension
    variance of the result, which must sit at 1.0 on every axis. The
    check itself is one posexplode + (dim)-keyed rollup — the
    verification a pipeline runs after fitting a whitening transform
    on a sample and applying it to the full corpus."""
    from dasladen_spark.operators.linalg import whiten

    emb = _t(spark, sf_dir, "embeddings")
    w = whiten(emb, "embedding", dim=64)
    return (
        w.select(F.posexplode("whitened").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.round(F.var_pop("v"), 4).alias("variance"))
        .orderBy("dim")
    )


@query(
    "embedding_norm_outliers",
    oracle="""
    WITH norms AS (
      SELECT vec_id,
             sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                          x -> x * x))) AS nrm
      FROM embeddings
    ), stats AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(nrm AS DECIMAL(38,18))) AS s1,
             SUM(CAST(nrm * nrm AS DECIMAL(38,18))) AS s2
      FROM norms
    ), m AS (
      SELECT n,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n AS mean_n,
             sqrt(greatest(0.0,
               CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n
               - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                 * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n))) AS std_n
      FROM stats
    )
    SELECT m.n AS n_vectors,
           ROUND(m.mean_n, 6) AS mean_norm,
           ROUND(m.std_n, 6) AS std_norm,
           CAST(SUM(CASE WHEN abs(norms.nrm - m.mean_n) > 2 * m.std_n
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM norms, m
    GROUP BY m.n, m.mean_n, m.std_n
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm outlier audit: corpus mean/std of the L2 norm
    (exact decimal accumulation — order-free) and the count of
    vectors beyond 2σ — the cheap pre-index check that catches
    un-normalized batches, dead encoders, and NaN-adjacent junk
    before they poison an ANN index.

    Two passes over a norms projection (one for moments, one for
    flags) joined through a broadcast 1-row stats frame; per-row
    norms are the same deterministic left-fold the cosine oracle
    uses, so the z-test threshold is engine-identical."""
    from dasladen_spark.functions.vectors import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    norms = emb.select("vec_id", l2_norm(F.col("embedding")).alias("nrm"))
    dec = "decimal(38,18)"
    stats = norms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("nrm").cast(dec)).alias("s1"),
        F.sum((F.col("nrm") * F.col("nrm")).cast(dec)).alias("s2"),
    )
    n = F.col("n").cast("double")
    mean_n = F.col("s1").cast("double") / n
    std_n = F.sqrt(
        F.greatest(
            F.lit(0.0),
            F.col("s2").cast("double") / n - mean_n * mean_n,
        )
    )
    m = stats.select(
        F.col("n").alias("n_vectors"),
        mean_n.alias("mean_n"),
        std_n.alias("std_n"),
    )
    return (
        norms.crossJoin(F.broadcast(m))
        .groupBy("n_vectors", "mean_n", "std_n")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("nrm") - F.col("mean_n"))
                    > 2 * F.col("std_n"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .select(
            "n_vectors",
            F.round("mean_n", 6).alias("mean_norm"),
            F.round("std_n", 6).alias("std_norm"),
            "n_outliers",
        )
    )


# ------------------------------------------- int8 quantization audit


@query(
    "embedding_int8_quantize",
    oracle="""
    WITH ex AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), sc AS (
      SELECT dim, MAX(ABS(v)) AS scale FROM ex GROUP BY dim
    ), er AS (
      SELECT e.dim, s.scale,
             round(v - least(greatest(round(v * 127.0 / s.scale), -127),
                             127) * s.scale / 127.0, 12) AS err
      FROM ex e JOIN sc s USING (dim)
    )
    SELECT dim,
           ROUND(MAX(scale), 9) AS scale,
           COUNT(*) AS n,
           ROUND(MAX(ABS(err)), 9) AS max_abs_err,
           ROUND(
             CAST(CAST(SUM(CAST(err * err AS DECIMAL(38,18))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 12) AS mse
    FROM er GROUP BY dim ORDER BY dim
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization audit: the absmax
    scale each dimension would ship with, plus the reconstruction
    error it costs (max |err| and MSE) — the go/no-go table for
    shrinking an ANN index 4x.

    Scale shape: the exploded (dim, value) stream is map-side-combined
    into 64 absmax rows; those broadcast back onto the stream (no
    re-shuffle of the corpus), and the error rollup is one more
    64-group map-side-combined exchange. Everything is JVM expression
    code — quantize/clip/error never leave codegen. Determinism:
    identical IEEE expression on both engines, per-row error rounded
    to 12 before the DECIMAL-accumulated MSE."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        F.posexplode("embedding").alias("dim0", "vf")
    ).select(
        (F.col("dim0") + 1).alias("dim"), F.col("vf").cast("double").alias("v")
    )
    sc = ex.groupBy("dim").agg(F.max(F.abs("v")).alias("scale"))
    q = F.least(
        F.greatest(F.round(F.col("v") * 127.0 / F.col("scale"), 0), F.lit(-127.0)),
        F.lit(127.0),
    )
    er = ex.join(F.broadcast(sc), "dim").select(
        "dim",
        "scale",
        F.round(F.col("v") - q * F.col("scale") / 127.0, 12).alias("err"),
    )
    return (
        er.groupBy("dim")
        .agg(
            F.round(F.max("scale"), 9).alias("scale"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.max(F.abs("err")), 9).alias("max_abs_err"),
            F.round(
                F.sum((F.col("err") * F.col("err")).cast("decimal(38,18)"))
                .cast("double")
                / F.count(F.lit(1)),
                12,
            ).alias("mse"),
        )
        .orderBy("dim")
    )


# --------------------------------------------- label centroid audit


@query(
    "embedding_label_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             round(CAST(unnest(embedding) AS DOUBLE), 12) AS v
      FROM embeddings
    )
    SELECT label, dim,
           COUNT(*) AS n,
           ROUND(
             CAST(CAST(SUM(CAST(v AS DECIMAL(38,18))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 9) AS centroid
    FROM ex GROUP BY label, dim ORDER BY label, dim
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the class prototypes): the mean
    vector each label's members sit around — the starting point for
    centroid-seeded clustering, label-noise screening (points far
    from their own centroid), and drift monitoring between corpus
    versions.

    Scale shape: one exploded (label, dim)-keyed rollup with map-side
    combine — (labels x dim) output rows regardless of corpus size;
    no joins, no windows, no Python. Determinism: per-component
    doubles round to 12 then accumulate in DECIMAL (order-free under
    any partitioning), one final division, ROUND 9."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("dim0", "vf")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("vf").cast("double"), 12).alias("v"),
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("v").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


# ------------------------------------------- PQ-compressed ANN


# ONE definition of the registered PQ geometry, passed explicitly to
# the operator calls and the oracle generator (the ann_lsh_topk
# single-source rule)
_PQ_M = 16
_PQ_MULT = 8
_PQ_DIM = 64
_PQ_KSUB = 32
_PQ_K = 5
_PQ_ITERS = 2


def _pq_ctes(
    m: int = _PQ_M,
    ksub: int = _PQ_KSUB,
    iters: int = _PQ_ITERS,
    dim: int = _PQ_DIM,
    k: int = _PQ_K,
    mult: int = _PQ_MULT,
    prefix: str = "",
    cand_cte: str = "",
    cand_rel: str | None = None,
    fit_fraction: float | None = None,
    fit_salt: str = "pq-seed-fit",
    fit_where: str | None = None,
) -> str:
    """The PQ replay as a CTE fragment (no leading ``WITH``), ending
    in ``{prefix}top(query_id, rank, neighbor_id, cosine)`` — the
    k-deep exact-reranked result. ``prefix`` namespaces every CTE so
    several independently-fit PQ chains compose in ONE statement
    (the recall-report oracle runs three: flat, indexed, and the
    70%-fit drift chain).

    ``cand_cte`` inlines an extra fragment ending in a
    ``cand(query_id, neighbor_id)`` relation (the indexed variant);
    ``cand_rel`` instead NAMES an externally-defined candidate
    relation — used when several chains share one bucket-join
    candidate set (hyperplane buckets are data-independent, so a
    full-build index and its append-grown sibling probe identical
    candidates).

    ``fit_fraction`` replays fit_pq_codebooks' md5-threshold sampled
    fit (operators/sampling.portable_sample_filter — the predicate
    spells identically in ANSI SQL); ``fit_where`` is the general
    form, an arbitrary SQL predicate over ``vec_id`` restricting the
    seed pick and Lloyd means (the drift chain fits on
    ``vec_id % 10 < 7``). Assignments and codes stay corpus-wide
    either way — exactly the engine's sampled-fit semantics."""
    dsub = dim // m
    q = "1000000.0::DOUBLE"  # operators/pq.PQ_QUANT
    P = prefix
    fit = ""
    fitjoin = ""
    if fit_fraction is not None and 0.0 < fit_fraction < 1.0:
        thr = format(int(fit_fraction * 16**8), "08x")
        fit_where = (
            f"substr(md5('{fit_salt}' || CAST(vec_id AS VARCHAR)), 1, 8)"
            f" < '{thr}'"
        )
    if fit_where:
        fit = f""", {P}fitset AS MATERIALIZED (
      SELECT vec_id FROM {P}xn
      WHERE {fit_where}
    )"""
        fitjoin = f" JOIN {P}fitset USING (vec_id)"
    parts = [
        f"""{P}raw AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), {P}xn AS MATERIALIZED (
      SELECT vec_id, list_transform(v, x -> x / d) AS xn
      FROM (
        SELECT vec_id, v,
               greatest(sqrt(CAST(list_sum(list_transform(v,
                 x -> CAST(floor(x * x * {q} + 0.5) AS BIGINT)))
                 AS DOUBLE) / {q}), 1e-12) AS d
        FROM {P}raw)
    ), {P}zx AS MATERIALIZED (
      SELECT vec_id,
             list_transform(xn, x -> CAST(floor(x * {q} + 0.5) AS BIGINT))
               AS zx
      FROM {P}xn
    ){fit}, {P}seeds AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS c, xn
      FROM (SELECT md5('pq-seed' || CAST(vec_id AS VARCHAR)) AS h, xn
            FROM {P}xn{fitjoin} ORDER BY h LIMIT {ksub})
    ), {P}b0 AS MATERIALIZED (
      SELECT jj.j, s.c, s.xn[jj.j*{dsub}+1 : jj.j*{dsub}+{dsub}] AS coef
      FROM {P}seeds s CROSS JOIN (SELECT unnest(range({m})) AS j) jj
    )"""
    ]
    for r in range(1, iters + 2):
        # assignment a{r} under books b{r-1} (a{iters+1} = final codes)
        parts.append(f""", {P}zb{r - 1} AS MATERIALIZED (
      SELECT j, c,
             list_transform(coef, x -> CAST(floor(x * {q} + 0.5) AS BIGINT))
               AS zc
      FROM {P}b{r - 1}
    ), {P}a{r} AS MATERIALIZED (
      SELECT vec_id, j, c AS code FROM (
        SELECT z.vec_id, b.j, b.c,
               ROW_NUMBER() OVER (PARTITION BY z.vec_id, b.j
                 ORDER BY list_sum(list_transform(
                   list_zip(z.zx[b.j*{dsub}+1 : b.j*{dsub}+{dsub}], b.zc),
                   p -> (p[1]-p[2])*(p[1]-p[2]))) ASC, b.c ASC) AS rn
        FROM {P}zx z CROSS JOIN {P}zb{r - 1} b)
      WHERE rn = 1
    )""")
        if r <= iters:
            # Lloyd mean update b{r}; empty cells keep b{r-1}'s coef
            parts.append(f""", {P}s{r} AS MATERIALIZED (
      SELECT j, code, i, SUM(zv) AS s, COUNT(*) AS n
      FROM (
        SELECT a.j, a.code, unnest(generate_series(1, {dsub})) AS i,
               unnest(z.zx[a.j*{dsub}+1 : a.j*{dsub}+{dsub}]) AS zv
        FROM {P}a{r} a JOIN {P}zx z USING (vec_id){fitjoin})
      GROUP BY 1, 2, 3
    ), {P}b{r} AS MATERIALIZED (
      SELECT p.j, p.c,
             CASE WHEN mm.coef IS NULL THEN p.coef ELSE mm.coef END AS coef
      FROM {P}b{r - 1} p LEFT JOIN (
        SELECT j, code AS c,
               list(CAST(s AS DOUBLE) / (n * {q}) ORDER BY i) AS coef
        FROM {P}s{r} GROUP BY j, code) mm USING (j, c)
    )""")
    lut_dot = " + ".join(
        f"qq.xn[b.j*{dsub}+{i + 1}] * b.coef[{i + 1}]" for i in range(dsub)
    )
    adc_chain = " + ".join(
        f"l.wss[{j + 1}][cd.codes[{j + 1}] + 1]" for j in range(m)
    )
    parts.append(f""", {P}codes AS MATERIALIZED (
      SELECT vec_id, list(code ORDER BY j) AS codes
      FROM {P}a{iters + 1} GROUP BY vec_id
    ), {P}lut AS MATERIALIZED (
      SELECT qq.vec_id AS qid, b.j, b.c, {lut_dot} AS w
      FROM (SELECT vec_id, xn FROM {P}xn WHERE vec_id < 10) qq
           CROSS JOIN {P}b{iters} b
    ), {P}lutq AS MATERIALIZED (
      SELECT qid, list(ws ORDER BY j) AS wss FROM (
        SELECT qid, j, list(w ORDER BY c) AS ws FROM {P}lut GROUP BY qid, j)
      GROUP BY qid
    )""")
    if cand_cte:
        parts.append(cand_cte)
        cand_rel = "cand"
    if cand_rel:
        # indexed variant: ADC only over the bucket-join candidate
        # set (search_ann_index's dropDuplicates + self-exclusion)
        parts.append(f""", {P}adc AS MATERIALIZED (
      SELECT ca.query_id, ca.neighbor_id, {adc_chain} AS adc
      FROM {cand_rel} ca JOIN {P}lutq l ON l.qid = ca.query_id
                   JOIN {P}codes cd ON cd.vec_id = ca.neighbor_id
    ), {P}short AS MATERIALIZED (""")
    else:
        parts.append(f""", {P}adc AS MATERIALIZED (
      SELECT l.qid AS query_id, cd.vec_id AS neighbor_id,
             {adc_chain} AS adc
      FROM {P}lutq l CROSS JOIN {P}codes cd
      WHERE cd.vec_id <> l.qid
    ), {P}short AS MATERIALIZED (""")
    parts.append(f"""
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc DESC, neighbor_id) AS rn
        FROM {P}adc) WHERE rn <= {k * mult}
    ), {P}scored AS (
      SELECT s.query_id, s.neighbor_id,
             {cosine_sql('qr.v', 'nr.v')} AS cosine
      FROM {P}short s JOIN {P}raw qr ON qr.vec_id = s.query_id
                   JOIN {P}raw nr ON nr.vec_id = s.neighbor_id
    ), {P}top AS (
      SELECT query_id, rank, neighbor_id, ROUND(cosine, 6) AS cosine
      FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM {P}scored)
      WHERE rank <= {k}
    )""")
    return "".join(parts)


def _pq_oracle(
    m: int = _PQ_M,
    ksub: int = _PQ_KSUB,
    iters: int = _PQ_ITERS,
    dim: int = _PQ_DIM,
    k: int = _PQ_K,
    mult: int = _PQ_MULT,
    cand_cte: str = "",
    fit_fraction: float | None = None,
    fit_salt: str = "pq-seed-fit",
) -> str:
    """ann_pq_topk's APPROXIMATE result replayed exactly — the
    _lsh_topk_oracle doctrine (model the METHOD, not the exact
    answer), applied to the whole PQ pipeline: since round 9 every
    discrete step is quantized-integer (operators/pq module
    doctrine), so this generated SQL re-derives the codebooks (seed →
    iters unrolled Lloyd rounds), the codes, the ADC shortlist, and
    the exact re-rank bit-for-bit. See :func:`_pq_ctes` for the CTE
    body and the cand/fit parameters."""
    body = _pq_ctes(
        m,
        ksub,
        iters,
        dim,
        k,
        mult,
        cand_cte=cand_cte,
        fit_fraction=fit_fraction,
        fit_salt=fit_salt,
    )
    return f"""
    WITH {body}
    SELECT query_id, rank, neighbor_id, cosine
    FROM top ORDER BY query_id, rank
    """


@query("ann_pq_topk", oracle=_pq_oracle())
# recall@5 additionally audited in
# tests/test_operators.py::test_pq_reranked_recall;
# test_pq_matches_numpy_reference proves fit/encode bit-determinism
# against a scalar sequential replica
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN with exact re-rank — the memory-scale
    path (operators/pq): the corpus scan reads 16-byte codes instead
    of 256-byte vectors (16×), scoring is LUT lookups, and only the
    per-query shortlist (k × rerank_mult rows) ever touches full
    vectors again. Registered at m=16, ksub=32, rerank 8× — recall@5
    ≥ 0.9 vs the exact baseline by test."""
    from dasladen_spark.operators.pq import (
        fit_pq_codebooks,
        pq_encode,
        pq_topk_reranked,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = fit_pq_codebooks(emb, m=_PQ_M, ksub=_PQ_KSUB, iters=_PQ_ITERS)
    codes = pq_encode(emb, books)
    q = emb.filter(F.col("vec_id") < 10)
    return pq_topk_reranked(
        q, emb, codes, books, k=_PQ_K, rerank_mult=_PQ_MULT
    ).orderBy("query_id", "rank")


#: the sampled-fit fraction registered under the correctness gate —
#: passed explicitly to the operator call AND the oracle (the
#: single-source rule), so a retune can't desynchronize them
_PQ_FIT_FRACTION = 0.5


@query(
    "ann_pq_sampled_topk",
    oracle=_pq_oracle(fit_fraction=_PQ_FIT_FRACTION),
)
def ann_pq_sampled_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_pq_topk with ``fit_fraction=0.5`` — the 100 TB fit path:
    codebooks are fit on a deterministic md5-threshold HALF of the
    corpus (operators/sampling.portable_sample_filter, so codebook
    quality converges without the Lloyd passes reading every byte),
    while encode and search still cover every row. The oracle replays
    the sampled fit exactly (same md5 predicate, seeds and Lloyd
    means restricted to the sample), so the sampled-fit machinery —
    not just the full-corpus fit — sits under the driver's exact
    correctness gate."""
    from dasladen_spark.operators.pq import (
        fit_pq_codebooks,
        pq_encode,
        pq_topk_reranked,
    )

    emb = _t(spark, sf_dir, "embeddings")
    books = fit_pq_codebooks(
        emb,
        m=_PQ_M,
        ksub=_PQ_KSUB,
        iters=_PQ_ITERS,
        fit_fraction=_PQ_FIT_FRACTION,
    )
    codes = pq_encode(emb, books)
    q = emb.filter(F.col("vec_id") < 10)
    return pq_topk_reranked(
        q, emb, codes, books, k=_PQ_K, rerank_mult=_PQ_MULT
    ).orderBy("query_id", "rank")


# the LSH geometry of the materialized ann_idx_pq index — passed
# explicitly to the build AND the oracle (single-source rule)
_PQIDX_TABLES = 16
_PQIDX_BITS = 4


def _pq_indexed_oracle() -> str:
    """ann_pq_indexed_topk replayed exactly: the PQ fit/encode/ADC
    chain of _pq_oracle, with the candidate set restricted to the
    materialized index's hyperplane bucket joins (the same
    quantized-integer bucket replay ann_lsh_topk's oracle uses) —
    i.e. the oracle models BOTH approximations the index makes."""
    from dasladen_spark.operators.dedup import hyperplane_buckets_oracle_cte

    cand = f""", {hyperplane_buckets_oracle_cte(
        _PQIDX_TABLES, _PQIDX_BITS, _PQ_DIM,
        relation="raw", id_col="vec_id", vec_col="v",
    )}, cand AS MATERIALIZED (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c USING (t, bkt)
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    )"""
    return _pq_oracle(cand_cte=cand)


@query("ann_pq_indexed_topk", oracle=_pq_indexed_oracle())
# recall additionally audited in
# tests/test_operators.py::test_pq_indexed_recall and plan-asserted
# (zero corpus-side Exchange, code-bytes-only scan) in
# tests/test_plan_shapes.py::test_pq_indexed_search_scans_codes_only
def ann_pq_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full at-scale ANN stack: a MATERIALIZED bucketed LSH index
    whose posting lists store 16-byte PQ codes (operators/ann_index,
    compress='pq') — built once per corpus snapshot; each query batch
    probes it with a broadcast join (no corpus-side shuffle), scores
    candidates by LUT lookups over the code bytes, and exact-re-ranks
    only the per-query shortlist against the source vectors."""
    from dasladen_spark.operators.ann_index import (
        ensure_ann_index,
        search_ann_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    idx = ensure_ann_index(
        emb,
        "ann_idx_pq",
        tag=sf_dir,
        dim=_PQ_DIM,
        compress="pq",
        num_tables=_PQIDX_TABLES,
        bits_per_table=_PQIDX_BITS,
        pq_m=_PQ_M,
        pq_ksub=_PQ_KSUB,
        pq_iters=_PQ_ITERS,
    )
    return search_ann_index(
        spark,
        idx,
        emb.filter(F.col("vec_id") < 10),
        k=_PQ_K,
        corpus=emb,
        rerank_mult=_PQ_MULT,
    ).orderBy("query_id", "rank")


# ----------------------------------------------- ANN recall report


def _recall_report_oracle() -> str:
    """ann_recall_report replayed exactly (exact since round 10 — the
    audit of the approximate methods is itself bit-replayable because
    every audited method is): ONE statement composes

    - the IVF replay (_ivf_ctes, 16 cells / probe 4),
    - ONE hyperplane bucket replay (data-independent plane family),
      whose candidate join serves THREE rows — the lsh search, the
      pq_indexed ADC, and the post-append drift ADC (an append-grown
      index probes the same buckets as a full build),
    - THREE independently-fit PQ chains (_pq_ctes prefixes
      ``pq_``/``pi_``/``dr_``): flat, indexed, and the drift chain
      whose codebooks fit on ``vec_id % 10 < 7`` only (the 70%
      build) while codes stay corpus-wide — exactly
      append_to_ann_index's stored-codebook encode,
    - the exact top-5 baseline; each method's n_hit is the
      (query_id, neighbor_id) intersection, and with n_exact =
      |probes| × 5 the recalls are exact multiples of 1/n_exact, so
      ROUND(…, 4) agrees bit-for-bit across engines."""
    from dasladen_spark.operators.dedup import hyperplane_buckets_oracle_cte

    k = 5
    ivf_iters = _IVF_ITERS
    # _ivf_ctes carries its own leading WITH
    parts = [_ivf_ctes(16, 4, ivf_iters, 64)]
    parts.append(
        ", "
        + hyperplane_buckets_oracle_cte(
            16, 4, 64, relation="raw", id_col="vec_id", vec_col="v"
        )
    )
    parts.append(f""", cand AS MATERIALIZED (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c USING (t, bkt)
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ), r_exact AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {cosine_sql('q.v', 'c.v')} DESC,
                          c.vec_id) AS rk
        FROM raw q JOIN raw c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 10)
      WHERE rk <= {k}
    ), r_nex AS (SELECT COUNT(*) AS n FROM r_exact
    ), r_lsh AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT cand.query_id, cand.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY cand.query_id
                 ORDER BY {cosine_sql('qr.v', 'nr.v')} DESC,
                          cand.neighbor_id) AS rk
        FROM cand JOIN raw qr ON qr.vec_id = cand.query_id
                  JOIN raw nr ON nr.vec_id = cand.neighbor_id)
      WHERE rk <= {k}
    ), r_ivf AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, l.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {cosine_sql('qr.v', 'nr.v')} DESC,
                          l.vec_id) AS rk
        FROM qprobe p JOIN a{ivf_iters + 1} l USING (cell)
             JOIN raw qr ON qr.vec_id = p.query_id
             JOIN raw nr ON nr.vec_id = l.vec_id
        WHERE l.vec_id <> p.query_id)
      WHERE rk <= {k}
    ), """)
    parts.append(_pq_ctes(prefix="pq_"))
    parts.append(", ")
    parts.append(_pq_ctes(prefix="pi_", cand_rel="cand"))
    parts.append(", ")
    parts.append(
        _pq_ctes(prefix="dr_", cand_rel="cand", fit_where="vec_id % 10 < 7")
    )
    rows = []
    for method, rel in (
        ("ivf", "r_ivf"),
        ("lsh", "r_lsh"),
        ("pq", "pq_top"),
        ("pq_indexed", "pi_top"),
        ("pq_indexed_post_append", "dr_top"),
    ):
        rows.append(f"""SELECT '{method}' AS method,
             (SELECT n FROM r_nex) AS n_exact,
             (SELECT COUNT(*) FROM {rel}
              JOIN r_exact USING (query_id, neighbor_id)) AS n_hit,
             ROUND((SELECT COUNT(*) FROM {rel}
                    JOIN r_exact USING (query_id, neighbor_id))
                   / CAST((SELECT n FROM r_nex) AS DOUBLE), 4)
               AS recall_at_5""")
    parts.append(
        "SELECT * FROM ("
        + " UNION ALL ".join(rows)
        + ") ORDER BY method"
    )
    return "".join(parts)


@query("ann_recall_report", oracle=_recall_report_oracle())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of each approximate ANN path — LSH buckets, IVF
    cells, flat PQ with exact re-rank (m=16, ksub=32, rerank 8×), the
    materialized PQ-compressed index (ann_idx_pq), and that same
    index grown via the append path (70% built + 30% appended with
    the stored codebooks — the pq_indexed_post_append row, the drift
    audit for long-lived indexes) — against the exact brute-force
    top-5 on the same 10 query vectors: the accept/reject evidence
    for shipping an approximate index. Every row uses the same
    parameters its registered query runs with, so this report audits
    exactly what the engine exposes.

    IVF recall note: centroids are seeded from a hash-ordered sample
    (fit_ivf_centroids). The earlier lowest-id seeding reported 0.90
    recall here, but only because seeds (ids 0-15) contained the
    report's own probe set (ids 0-9) — centroids sat ON the query
    vectors, a train/test leak. On probe sets disjoint from the old
    seed ids, hash seeding wins (0.60 vs 0.46 at sf0.01); the lower
    number now reported is the honest one for this weakly-clustered
    fixture.

    Scale shape: the exact baseline is |Q| x |corpus| with broadcast
    queries (fine for an audit's small probe set); the approximate
    sides are their own bucket/cell equi-joins. Intersections join on
    (query_id, neighbor_id) — top-k-sized sets — and each method
    reduces to one summary row."""
    from dasladen_spark.operators.pq import (
        fit_pq_codebooks,
        pq_encode,
        pq_topk_reranked,
    )
    from dasladen_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        lsh_cosine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # persist: the |Q|×|corpus| exact scan is consumed several times
    # (count + one hash join per approximate method); without the
    # cache it would re-execute for each
    exact = (
        cosine_topk(q, emb, k=5).select("query_id", "neighbor_id").persist()
    )
    n_exact = exact.count()
    books = fit_pq_codebooks(emb, m=16, ksub=32, iters=2)
    from dasladen_spark.operators.ann_index import (
        ensure_ann_index,
        search_ann_index,
    )

    # same table+params as the registered ann_pq_indexed_topk query
    # (all at _GEOMETRY_DEFAULTS, so the snapshot hash matches) — the
    # report audits exactly the physical index the searches would hit
    pq_idx = ensure_ann_index(
        emb, "ann_idx_pq", tag=sf_dir, dim=64, compress="pq"
    )

    # append-drift audit: the SAME pq index built from 70% of the
    # corpus, the other 30% APPENDED with the stored codebooks — the
    # real-world growth path (append_to_ann_index encodes new rows
    # with codebooks fit before they existed). Searched against the
    # full-corpus exact baseline, so the pq_indexed_post_append row
    # exposes how much recall the append path gives up vs the
    # full-build pq_indexed row; a widening gap after many appends is
    # the signal to recompact/refit. The ``_state`` marker is written
    # after the append, so a build that died between the two is
    # rebuilt, never read or appended to twice.
    from dasladen_spark.operators.ann_index import (
        append_to_ann_index,
        build_ann_index,
    )
    from dasladen_spark.operators.pq import PQ_VERSION
    from dasladen_spark.operators.snapshot import ensure

    # the kernel version joins the identity so a PQ-encode upgrade
    # rebuilds the drift index instead of serving stale codes
    want = f"{sf_dir}:70+30:v{PQ_VERSION}"

    def build_drift(phys: str) -> None:
        build_ann_index(
            emb.filter(F.col("vec_id") % 10 < 7),
            phys,
            tag=sf_dir + ":70",
            dim=64,
            compress="pq",
        )
        append_to_ann_index(
            spark, phys, emb.filter(F.col("vec_id") % 10 >= 7)
        )
        spark.createDataFrame([(want,)], "source STRING").write.mode(
            "overwrite"
        ).saveAsTable(f"{phys}_state")

    drift_tbl = ensure(
        spark, "ann_idx_pq_drift", (want,), ("", "_meta", "_state"),
        build_drift,
    )
    approx = {
        "lsh": lsh_cosine_topk(q, emb, k=5, dim=64),
        "ivf": ivf_cosine_topk(q, emb, k=5, n_centroids=16, n_probe=4),
        "pq": pq_topk_reranked(
            q, emb, pq_encode(emb, books), books, k=5, rerank_mult=8
        ),
        "pq_indexed": search_ann_index(
            spark, pq_idx, q, k=5, corpus=emb
        ),
        "pq_indexed_post_append": search_ann_index(
            spark, drift_tbl, q, k=5, corpus=emb
        ),
    }
    # the report is a handful of tiny rows: materialize them now so the cached
    # |Q|×|corpus| baseline can be RELEASED before returning (a lazy
    # result would pin the cache for the rest of the session)
    try:
        rows = []
        for name, res in approx.items():
            n_hit = (
                res.select("query_id", "neighbor_id")
                .join(exact, ["query_id", "neighbor_id"])
                .count()
            )
            rows.append(
                (name, n_exact, n_hit, round(n_hit / float(n_exact), 4))
            )
    finally:
        exact.unpersist()
    return spark.createDataFrame(
        rows,
        "method STRING, n_exact BIGINT, n_hit BIGINT, recall_at_5 DOUBLE",
    ).orderBy("method")


# ------------------------------------------------ BM25 retrieval


#: the benchmark probe terms every decontamination/eval-retrieval run
#: would parameterize; literals here so Spark and oracle agree
_BM25_TERMS = ("shuffle", "join", "partition")
_BM25_K1, _BM25_B = 1.2, 0.75

#: shared oracle CTE body: per-doc BM25 scores for the probe terms —
#: text_bm25_topk and retrieval_rrf_hybrid rank the SAME frame
_BM25_SCORED_SQL = f"""
    toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
             AS tok
      FROM documents
    ), dl AS (
      SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT AVG(CAST(len AS DOUBLE)) AS avgdl, COUNT(*) AS n_docs FROM dl
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN {_BM25_TERMS} GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
      WHERE tok IN {_BM25_TERMS} GROUP BY tok
    ), scored AS (
      SELECT tf.doc_id,
             round(
               ln(((SELECT n_docs FROM stats) - df.df + 0.5)
                  / (df.df + 0.5) + 1.0)
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.len / (SELECT avgdl FROM stats))),
               12) AS s
      FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id
    ), bm25 AS (
      SELECT doc_id,
             ROUND(CAST(CAST(SUM(CAST(s AS DECIMAL(38,18))) AS VARCHAR)
                        AS DOUBLE), 6) AS bm25
      FROM scored GROUP BY doc_id
    )
"""


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for the probe terms — the Spark twin of
    _BM25_SCORED_SQL; see text_bm25_topk for the plan-shape notes.

    The avgdl/n_docs corpus stats are a LAZY one-row broadcast
    (crossJoin) rather than an eager collect: the old spelling paid a
    whole extra tokenize+aggregate ACTION per plan build just to turn
    two numbers into literals. The same double values flow into the
    same expressions either way, so scores are bit-identical;
    measured (sf0.1, interleaved medians of 7) 0.823 s → 0.672 s.

    Deliberately NOT shared through a persisted per-(doc, tok)
    rollup: all three derivation chains (tf, df, dl) partial-aggregate
    map-side before their exchanges — one row per doc (dl) or per
    probe term (tf/df) — so the shuffles are tiny at any scale, and
    the A/B of the "one tokenize + cached occurrence table" shape
    measured 2× SLOWER (0.72 s → 1.52 s): the (doc, tok)-level
    exchange plus cache build it introduces costs more than the two
    extra embarrassingly-parallel tokenize passes it saves, and would
    introduce the plan's only corpus-sized shuffle at 100 TB."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), F.lit(0)
            )
        ).alias("tok"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    stats = dl.agg(
        F.avg(F.col("len").cast("double")).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    probe = list(_BM25_TERMS)
    tf = (
        toks.filter(F.col("tok").isin(probe))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = (
        toks.filter(F.col("tok").isin(probe))
        .groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("len") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))  # one row — (avgdl, n_docs)
        .select(
            "doc_id",
            F.round(idf * F.col("tf") * (_BM25_K1 + 1.0) / denom, 12).alias(
                "s"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(
            F.sum(F.col("s").cast("decimal(38,18)")).cast("double"), 6
        ).alias("bm25")
    )


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH {_BM25_SCORED_SQL}
    SELECT doc_id, bm25 FROM bm25
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus — the ranked-retrieval primitive
    a decontamination or eval-set-mining pass runs (TF-IDF's
    length-normalized, saturating successor; Okapi k1/b form).

    Scale shape: term stats (df) and doc lengths are one
    map-side-combined aggregate each; only rows containing PROBE
    terms reach the scoring join (the tf filter prunes the explode);
    avgdl/n_docs is a two-value broadcast. Per-term scores are
    rounded then summed in DECIMAL — bit-identical under any
    partitioning, the determinism discipline of the text queries."""
    return (
        bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ------------------------------------------- hybrid retrieval (RRF)

_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_DEPTH = 100  # fuse the top-100 of each ranker


_RRF_ORACLE = f"""
    WITH {_BM25_SCORED_SQL},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT doc_id, dense_rank FROM (
        SELECT e.vec_id AS doc_id,
               ROW_NUMBER() OVER (
                 ORDER BY {cosine_sql('(SELECT qv FROM q)', 'e.embedding')}
                   DESC, e.vec_id) AS dense_rank
        FROM embeddings e WHERE e.vec_id <> 0
      ) WHERE dense_rank <= {_RRF_DEPTH}
    ), sparse AS (
      SELECT doc_id, sparse_rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                 AS sparse_rank
        FROM bm25
      ) WHERE sparse_rank <= {_RRF_DEPTH}
    )
    SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id,
           d.dense_rank, s.sparse_rank,
           COALESCE(ROUND(CAST(1.0 AS DOUBLE) / ({_RRF_K} + d.dense_rank),
                          12), CAST(0.0 AS DOUBLE))
           + COALESCE(ROUND(CAST(1.0 AS DOUBLE) / ({_RRF_K} + s.sparse_rank),
                            12), CAST(0.0 AS DOUBLE))
             AS rrf
    FROM dense d FULL OUTER JOIN sparse s ON s.doc_id = d.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 20
    """


@query("retrieval_rrf_hybrid", oracle=_RRF_ORACLE)
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — reciprocal-rank fusion of a DENSE ranking
    (cosine against doc 0's embedding; at 100 TB this list comes from
    the ANN index, here the exact scan for oracle-provability) and a
    SPARSE ranking (the BM25 probe-term scores): the retrieval stack
    every RAG/eval-mining pipeline ships.

    rrf(d) = Σ_lists 1/(K + rank_d); docs absent from a list
    contribute nothing for it. Each ranker is truncated at depth 100
    (standard practice — fusing full corpora is pointless and at
    scale impossible), the fused top-20 is returned with both
    source ranks for auditability.

    Scale shape: both rankers produce bounded lists (top-100), the
    fusion is a full outer join of two 100-row frames — driver-free
    and constant-size regardless of corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    dense = (
        cosine_topk(
            emb.filter(F.col("vec_id") == 0), emb, k=_RRF_DEPTH
        )
        .select(
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").cast("bigint").alias("dense_rank"),
        )
    )

    # depth-bound FIRST (TakeOrderedAndProject — distributed), then
    # rank the ≤100 surviving rows; the global window only ever sees
    # the bounded frame
    from dasladen_spark.functions.vectors import bounded_window_key

    ws = Window.partitionBy(bounded_window_key(F.col("doc_id"))).orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    sparse = (
        bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_RRF_DEPTH)
        .withColumn("sparse_rank", F.row_number().over(ws).cast("bigint"))
        .select("doc_id", "sparse_rank")
    )
    fused = dense.join(sparse, "doc_id", "full_outer").select(
        "doc_id",
        "dense_rank",
        "sparse_rank",
        (
            F.coalesce(
                F.round(1.0 / (F.lit(_RRF_K) + F.col("dense_rank")), 12),
                F.lit(0.0),
            )
            + F.coalesce(
                F.round(1.0 / (F.lit(_RRF_K) + F.col("sparse_rank")), 12),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)


# ----------------------------- embedding-space label coherence audit


_KNN_AGREEMENT_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS q_label
      FROM embeddings WHERE vec_id < 100
    ), ranked AS (
      SELECT q.query_id, q.q_label, e.label AS n_label,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY {cosine_sql('q.qv', 'e.embedding')} DESC, e.vec_id
             ) AS rank
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.query_id
    ), agree AS (
      SELECT query_id, q_label,
             ROUND(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                   / 5.0, 6) AS agreement
      FROM ranked WHERE rank <= 5
      GROUP BY query_id, q_label
    )
    SELECT q_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           ROUND(CAST(CAST(SUM(CAST(agreement AS DECIMAL(38,6)))
                 AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS mean_agreement
    FROM agree GROUP BY q_label ORDER BY label
    """


@query("embedding_knn_label_agreement", oracle=_KNN_AGREEMENT_ORACLE)
def embedding_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-agreement — the embedding-quality audit for labeled
    data: for each probe vector, what fraction of its 5 nearest
    neighbors (exact cosine) share its label? Near-1 per class means
    the embedding space respects the labels; a class near chance is
    either mislabeled or not linearly separated — the check to run
    BEFORE trusting embedding dedup/clustering on a new corpus.

    Scale shape: probes are a bounded sample (100 here — an audit,
    not a join); each probe broadcasts against the corpus scan, the
    per-probe agreement is an exact rational (k_same/5), and the
    per-label summary is one tiny aggregate. At 100 TB the probe
    top-k would come from the ANN index; exact scan here keeps the
    oracle provable."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 100)
    nn = cosine_topk(q, emb, k=5).select("query_id", "neighbor_id")
    lbl = emb.select("vec_id", "label")
    # the kNN result (≤ probes×k rows) is the genuinely small side —
    # broadcast IT onto the corpus label scan, never the reverse
    probe_lbl = lbl.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nnq = nn.join(probe_lbl, "query_id")
    agree = (
        lbl.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
        )
        .join(F.broadcast(nnq), "neighbor_id")
        .groupBy("query_id", "q_label")
        .agg(
            F.round(
                F.sum((F.col("n_label") == F.col("q_label")).cast("int"))
                / F.lit(5.0),
                6,
            ).alias("agreement")
        )
    )
    return (
        agree.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.round(
                F.sum(F.col("agreement").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_agreement"),
        )
        .orderBy("label")
    )


@query("embedding_mahalanobis_outliers")  # covariance inverse — not
# SQL-expressible; numpy-differential-tested in test_operators.py::
# test_mahalanobis_matches_numpy
def embedding_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance-aware outlier audit: top-20 embeddings by
    Mahalanobis distance (operators/linalg.mahalanobis_outliers) —
    catches vectors that are atypical along low-variance directions,
    which norm-z-score audits (embedding_norm_outliers) cannot see.
    Driver holds O(d²); scoring is one broadcast-rotation pass with
    per-partition shortlists."""
    from dasladen_spark.operators.linalg import mahalanobis_outliers

    emb = _t(spark, sf_dir, "embeddings")
    return mahalanobis_outliers(emb, "vec_id", "embedding", dim=64)


# ----------------------------------------- embedding-space dispersion


@query(
    "embedding_dispersion",
    oracle="""
    WITH dims AS (
      SELECT CAST(label AS VARCHAR) AS label, d.i AS dim,
             CAST(ROUND(embedding[d.i]::DOUBLE, 12) AS DECIMAL(38,18))
               AS comp,
             CAST(ROUND(embedding[d.i]::DOUBLE
                        * embedding[d.i]::DOUBLE, 12)
               AS DECIMAL(38,18)) AS comp2
      FROM embeddings, LATERAL (
        SELECT unnest(generate_series(1, len(embedding))) AS i) d
    ), sums AS (
      -- ONE pass carries both moments: per-dim component sums (for
      -- the mean) and per-dim square sums (for E||x||^2 = their
      -- cross-dim total)
      SELECT COALESCE(label, 'all') AS label, dim,
             COUNT(*) AS n,
             SUM(comp) AS sv,
             SUM(comp2) AS svv
      FROM dims GROUP BY GROUPING SETS ((label, dim), (dim))
    ), per AS (
      SELECT label, MAX(n) AS n,
             CAST(CAST(SUM(svv) AS VARCHAR) AS DOUBLE) AS ss,
             CAST(CAST(SUM(CAST(ROUND(
               (CAST(CAST(sv AS VARCHAR) AS DOUBLE) / n)
               * (CAST(CAST(sv AS VARCHAR) AS DOUBLE) / n), 12)
               AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS musq
      FROM sums GROUP BY label
    )
    SELECT label, CAST(n AS BIGINT) AS n,
           ROUND(2.0 * (ss / n - musq), 6) AS mean_sq_dist
    FROM per ORDER BY label
    """,
)
def embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise squared distance of the embedding cloud, overall
    and per label — the diversity number behind "did dedup collapse
    the corpus onto a few modes". Uses the moments identity
    E‖x−y‖² = 2(E‖x‖² − ‖μ‖²), so the all-pairs statistic costs ONE
    O(n·d) pass (per-row squared norms + per-dimension sums), never
    the O(n²) pair join a naive audit would run.

    Determinism: each per-dim component and component-square rounds
    to 12 decimals before DECIMAL accumulation; per-dim means square
    through the same rounded-double path in both engines."""
    e = _t(spark, sf_dir, "embeddings")
    with_all = e.select(
        F.col("label").cast("string").alias("label"), "embedding"
    ).unionByName(
        e.select(F.lit("all").alias("label"), "embedding")
    )
    # ONE corpus pass: the (label, dim) aggregation carries BOTH
    # moments (component sums for the mean, square sums whose
    # cross-dim total is E||x||²) — the earlier two-branch form
    # exploded the corpus twice for the same numbers
    sums = (
        with_all.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "comp"
            ),
        )
        .select(
            "label",
            "dim",
            F.round(F.col("comp"), 12).cast("decimal(38,18)").alias("c"),
            F.round(F.col("comp") * F.col("comp"), 12)
            .cast("decimal(38,18)")
            .alias("c2"),
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sv"),
            F.sum("c2").alias("svv"),
        )
    )
    mu_term = F.round(
        (F.col("sv").cast("double") / F.col("n"))
        * (F.col("sv").cast("double") / F.col("n")),
        12,
    ).cast("decimal(38,18)")
    per = sums.groupBy("label").agg(
        F.max("n").alias("n"),
        F.sum("svv").cast("double").alias("ss"),
        F.sum(mu_term).cast("double").alias("musq"),
    )
    return per.select(
        "label",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            2.0 * (F.col("ss") / F.col("n") - F.col("musq")), 6
        ).alias("mean_sq_dist"),
    ).orderBy("label")


# --------------------------------------------- hard-negative mining


@query(
    "embedding_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label, embedding AS qv
      FROM embeddings WHERE vec_id < 30
    ), scored AS (
      SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id,
             e.label AS n_label,
             {cosine_sql('q.qv', 'e.embedding')} AS cosine
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.query_id AND e.label <> q.q_label
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, q_label, neighbor_id, n_label,
           ROUND(cosine, 6) AS cosine
    FROM ranked WHERE rk = 1 ORDER BY query_id
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each probe vector, the single most
    cosine-similar vector carrying a DIFFERENT label — the contrastive
    training pairs (and the mislabeling audit: a hard negative at
    cosine ≈ 1 usually means one of the two labels is wrong).

    Scale shape: the probe set broadcasts against one corpus scan
    (exact for oracle-provability; the ANN index + post-filter is the
    at-scale path); the per-query top-1 window runs over each probe's
    candidate list only."""
    from dasladen_spark.functions.vectors import cosine_sim

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("cv"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("n_label") != F.col("q_label")),
        )
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            "n_label",
            cosine_sim(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            "n_label",
            F.round("cosine", 6).alias("cosine"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------- embedding centroid drift


@query(
    "embedding_centroid_drift",
    oracle="""
    WITH half AS (
      SELECT CAST(label AS VARCHAR) AS label,
             CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'new' END AS cohort,
             embedding
      FROM embeddings
    ), dims AS (
      SELECT COALESCE(label, 'all') AS label, cohort, d.i AS dim,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(ROUND(embedding[d.i]::DOUBLE, 12)
                    AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sv
      FROM half, LATERAL (
        SELECT unnest(generate_series(1, len(embedding))) AS i) d
      GROUP BY GROUPING SETS ((label, cohort, d.i), (cohort, d.i))
    ), mu AS (
      SELECT label, cohort, dim, n, ROUND(sv / n, 12) AS m FROM dims
    ), paired AS (
      SELECT r.label, r.dim, r.n AS n_ref, w.n AS n_new,
             CAST(ROUND((r.m - w.m) * (r.m - w.m), 12)
                  AS DECIMAL(38,18)) AS d2,
             CAST(ROUND(r.m * w.m, 12) AS DECIMAL(38,18)) AS ab,
             CAST(ROUND(r.m * r.m, 12) AS DECIMAL(38,18)) AS a2,
             CAST(ROUND(w.m * w.m, 12) AS DECIMAL(38,18)) AS b2
      FROM (SELECT * FROM mu WHERE cohort = 'ref') r
      JOIN (SELECT * FROM mu WHERE cohort = 'new') w
        ON w.label = r.label AND w.dim = r.dim
    )
    SELECT label,
           CAST(ANY_VALUE(n_ref) AS BIGINT) AS n_ref,
           CAST(ANY_VALUE(n_new) AS BIGINT) AS n_new,
           ROUND(sqrt(CAST(CAST(SUM(d2) AS VARCHAR) AS DOUBLE)), 6)
             AS l2_shift,
           ROUND(CAST(CAST(SUM(ab) AS VARCHAR) AS DOUBLE)
                 / (sqrt(CAST(CAST(SUM(a2) AS VARCHAR) AS DOUBLE))
                    * sqrt(CAST(CAST(SUM(b2) AS VARCHAR) AS DOUBLE))), 6)
             AS centroid_cosine
    FROM paired GROUP BY label ORDER BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between a reference cohort and a
    new batch (even/odd ids here; date or ingest-batch in
    production): per-label L2 shift of the centroid and the cosine
    between the two centroids — the cheap first-line alarm before
    retraining an ANN index or quality classifier on a shifted
    corpus (pairs with embedding_dispersion: that audits spread,
    this audits location).

    Scale shape: everything reduces through (label, cohort, dim)
    keyed sums — one posexplode pass, no pairwise math, O(labels·d)
    result rows; the same rounded-component DECIMAL discipline as
    embedding_dispersion keeps both engines bit-identical."""
    e = _t(spark, sf_dir, "embeddings")
    half = e.select(
        F.col("label").cast("string").alias("label"),
        F.when(F.col("vec_id") % 2 == 0, F.lit("ref"))
        .otherwise(F.lit("new"))
        .alias("cohort"),
        "embedding",
    )
    with_all = half.unionByName(
        half.select(F.lit("all").alias("label"), "cohort", "embedding")
    )
    dims = (
        with_all.select(
            "label",
            "cohort",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "comp"
            ),
        )
        .select(
            "label",
            "cohort",
            "dim",
            F.round(F.col("comp"), 12).cast("decimal(38,18)").alias("comp"),
        )
        .groupBy("label", "cohort", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("comp").cast("double").alias("sv"),
        )
    )
    mu = dims.select(
        "label",
        "cohort",
        "dim",
        "n",
        F.round(F.col("sv") / F.col("n"), 12).alias("m"),
    ).persist()  # (labels+1)×2×d rows; feeds both cohort branches —
    mu.count()  # one corpus explode, not two
    r = mu.filter(F.col("cohort") == "ref").select(
        "label", "dim", F.col("n").alias("n_ref"), F.col("m").alias("mr")
    )
    w = mu.filter(F.col("cohort") == "new").select(
        "label", "dim", F.col("n").alias("n_new"), F.col("m").alias("mw")
    )
    paired = r.join(w, ["label", "dim"]).select(
        "label",
        "n_ref",
        "n_new",
        F.round((F.col("mr") - F.col("mw")) * (F.col("mr") - F.col("mw")), 12)
        .cast("decimal(38,18)")
        .alias("d2"),
        F.round(F.col("mr") * F.col("mw"), 12)
        .cast("decimal(38,18)")
        .alias("ab"),
        F.round(F.col("mr") * F.col("mr"), 12)
        .cast("decimal(38,18)")
        .alias("a2"),
        F.round(F.col("mw") * F.col("mw"), 12)
        .cast("decimal(38,18)")
        .alias("b2"),
    )
    return (
        paired.groupBy("label")
        .agg(
            F.any_value("n_ref").cast("bigint").alias("n_ref"),
            F.any_value("n_new").cast("bigint").alias("n_new"),
            F.round(F.sqrt(F.sum("d2").cast("double")), 6).alias("l2_shift"),
            F.round(
                F.sum("ab").cast("double")
                / (
                    F.sqrt(F.sum("a2").cast("double"))
                    * F.sqrt(F.sum("b2").cast("double"))
                ),
                6,
            ).alias("centroid_cosine"),
        )
        .orderBy("label")
    )


# ------------------------------------------------ ANN tuning curves

#: the swept knob values — ONE spelling for the Spark sweep and the
#: oracle replay (the single-source rule)
_TUNE_IVF_PROBES = (1, 2, 4, 8)
_TUNE_LSH_TABLES = (4, 8, 16)
_TUNE_BITS = 4
_TUNE_DIM = 64
_TUNE_K = 5


def _tuning_curves_oracle() -> str:
    """ann_tuning_curves replayed exactly (exact since round 10 — it
    was the audit itself, but every method UNDER audit is integer-
    lattice replayable, so the recall numbers are too):

    - ONE IVF replay (_ivf_ctes) with qprobe kept to the deepest
      swept depth; each shallower n_probe is a ``rn <= p`` restriction
      of the same probe ranking.
    - ONE hyperplane replay at the LARGEST table count: the plane
      family is a fixed-seed stream, so the planes (hence buckets) of
      a 4-table configuration are exactly tables t < 4 of the
      16-table replay — one CTE serves all three sweep points.
    - the exact top-5 baseline and every sweep's top-5 use the same
      left-assoc cosine fold and (cosine DESC, neighbor) tie-break as
      the Spark operators, so the intersected hit counts — and the
      recalls — match bit-for-bit. n_exact = |probe set| × 5 makes
      every recall an exact multiple of 1/n_exact; ROUND(…, 4) is
      then the same value in both engines."""
    from dasladen_spark.operators.dedup import hyperplane_buckets_oracle_cte

    iters = _IVF_ITERS
    parts = [_ivf_ctes(16, max(_TUNE_IVF_PROBES), iters, _TUNE_DIM)]
    parts.append(
        ", "
        + hyperplane_buckets_oracle_cte(
            max(_TUNE_LSH_TABLES),
            _TUNE_BITS,
            _TUNE_DIM,
            relation="raw",
            id_col="vec_id",
            vec_col="v",
        )
    )
    parts.append(f""", t_exact AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {cosine_sql('q.v', 'c.v')} DESC,
                          c.vec_id) AS rk
        FROM raw q JOIN raw c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 10)
      WHERE rk <= {_TUNE_K}
    ), t_nex AS (SELECT COUNT(*) AS n FROM t_exact)""")
    for p in _TUNE_IVF_PROBES:
        parts.append(f""", t_ivf{p} AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, l.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {cosine_sql('qr.v', 'nr.v')} DESC,
                          l.vec_id) AS rk
        FROM (SELECT query_id, cell FROM qprobe WHERE rn <= {p}) p
             JOIN a{iters + 1} l USING (cell)
             JOIN raw qr ON qr.vec_id = p.query_id
             JOIN raw nr ON nr.vec_id = l.vec_id
        WHERE l.vec_id <> p.query_id)
      WHERE rk <= {_TUNE_K}
    )""")
    for n in _TUNE_LSH_TABLES:
        parts.append(f""", t_lsh{n} AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT cand.query_id, cand.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY cand.query_id
                 ORDER BY {cosine_sql('qr.v', 'nr.v')} DESC,
                          cand.neighbor_id) AS rk
        FROM (SELECT DISTINCT q.vec_id AS query_id,
                     c.vec_id AS neighbor_id
              FROM buckets q JOIN buckets c USING (t, bkt)
              WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
                AND q.t < {n}) cand
             JOIN raw qr ON qr.vec_id = cand.query_id
             JOIN raw nr ON nr.vec_id = cand.neighbor_id)
      WHERE rk <= {_TUNE_K}
    )""")
    rows = []
    for p in _TUNE_IVF_PROBES:
        rows.append(
            f"""SELECT 'ivf' AS method, 'n_probe' AS knob,
             {p} AS value,
             ROUND((SELECT COUNT(*) FROM t_ivf{p}
                    JOIN t_exact USING (query_id, neighbor_id))
                   / CAST((SELECT n FROM t_nex) AS DOUBLE), 4)
               AS recall_at_5"""
        )
    for n in _TUNE_LSH_TABLES:
        rows.append(
            f"""SELECT 'lsh', 'num_tables', {n},
             ROUND((SELECT COUNT(*) FROM t_lsh{n}
                    JOIN t_exact USING (query_id, neighbor_id))
                   / CAST((SELECT n FROM t_nex) AS DOUBLE), 4)"""
        )
    parts.append(
        "SELECT * FROM ("
        + " UNION ALL ".join(rows)
        + ") ORDER BY method, value"
    )
    return "".join(parts)


@query("ann_tuning_curves", oracle=_tuning_curves_oracle())
def ann_tuning_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 as a function of the tunable knob, per approximate
    method: IVF swept over n_probe ∈ {1,2,4,8} and LSH over
    num_tables ∈ {4,8,16} — the accept/reject CURVE behind choosing
    an operating point. EXACT oracle since round 10: the swept
    methods are integer-lattice replayable, so the recall numbers
    themselves replay (see _tuning_curves_oracle)
    (ann_recall_report shows the shipped
    configurations; this shows the trade space around them, the
    artifact a tuning review actually reads).

    Scale shape: ONE persisted exact baseline (|probe|×corpus,
    audit-bounded probe set) joined against each swept search;
    every sweep point is the same (table,bucket)/(cell) equi-join
    geometry as the shipped queries, so measured recall transfers."""
    from dasladen_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
        lsh_cosine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = (
        cosine_topk(q, emb, k=_TUNE_K)
        .select("query_id", "neighbor_id")
        .persist()
    )
    try:
        n_exact = exact.count()
        rows = []
        for n_probe in _TUNE_IVF_PROBES:
            res = ivf_cosine_topk(
                q, emb, k=_TUNE_K, n_centroids=16, n_probe=n_probe
            )
            hit = (
                res.select("query_id", "neighbor_id")
                .join(exact, ["query_id", "neighbor_id"])
                .count()
            )
            rows.append(
                ("ivf", "n_probe", n_probe,
                 round(hit / float(n_exact), 4))
            )
        for n_tables in _TUNE_LSH_TABLES:
            res = lsh_cosine_topk(
                q,
                emb,
                k=_TUNE_K,
                dim=_TUNE_DIM,
                num_tables=n_tables,
                bits_per_table=_TUNE_BITS,
            )
            hit = (
                res.select("query_id", "neighbor_id")
                .join(exact, ["query_id", "neighbor_id"])
                .count()
            )
            rows.append(
                ("lsh", "num_tables", n_tables,
                 round(hit / float(n_exact), 4))
            )
    finally:
        exact.unpersist()
    return spark.createDataFrame(
        rows,
        "method STRING, knob STRING, value INT, recall_at_5 DOUBLE",
    ).orderBy("method", "value")


_HALF = 32  # dims per packed long (64-dim fixture → two longs)


def _pack_sql(arr: str) -> str:
    """Portable SQL for the sign-bit fold: transform to 0/1 bits,
    prepend the 0 init (DuckDB's list_reduce has no init argument —
    the first element IS the accumulator, so a raw float must never
    sit in that seat), then fold acc*2 + bit."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform({arr}, x -> CAST(x > 0 AS BIGINT))),"
        f" (a, b) -> a * 2 + b)"
    )


def pack_signs(arr: F.Column) -> F.Column:
    """Fold a float-array Column into a sign-bit integer: acc*2 + [x>0]
    left to right — identical sequence to the oracle's list_reduce.
    Pure JVM expression; callers slice to ≤ 63 dims per long."""
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + (x > F.lit(0.0)).cast("long"),
    )


#: shared SQL: packed corpus (p) + packed probe set (q) — reused by
#: ann_hamming_topk and the retrieval_ndcg_mrr eval so the system
#: being evaluated is the system being served, by construction
_PACKED_SQL = f"""p AS (
      SELECT vec_id,
             {_pack_sql(f"embedding[1:{_HALF}]")} AS h1,
             {_pack_sql(f"embedding[{_HALF + 1}:{2 * _HALF}]")} AS h2
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, h1 AS q1, h2 AS q2 FROM p
      WHERE vec_id < 100
    )"""


def hamming_ranked(e: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, hamming, rk ≤ k): the 1-bit sign-pack
    + broadcast-probe + XOR/popcount ranking, ONE implementation for
    the serving query (ann_hamming_topk) and its eval
    (retrieval_ndcg_mrr) — a packing or tie-break change cannot
    silently diverge the two."""
    p = e.select(
        "vec_id",
        pack_signs(F.slice("embedding", 1, _HALF)).alias("h1"),
        pack_signs(F.slice("embedding", _HALF + 1, _HALF)).alias("h2"),
    )
    q = p.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"),
        F.col("h1").alias("q1"),
        F.col("h2").alias("q2"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        p.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("h1").bitwiseXOR(F.col("q1")))
                + F.bit_count(F.col("h2").bitwiseXOR(F.col("q2")))
            )
            .cast("int")
            .alias("hamming"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


@query(
    "ann_hamming_topk",
    oracle=f"""
    WITH {_PACKED_SQL}, j AS (
      SELECT q.query_id, p.vec_id AS neighbor_id,
             CAST(bit_count(xor(p.h1, q.q1))
                  + bit_count(xor(p.h2, q.q2)) AS INT) AS hamming
      FROM p, q WHERE p.vec_id <> q.query_id
    ), r AS (
      SELECT query_id, neighbor_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY hamming, neighbor_id) AS rk
      FROM j
    )
    SELECT query_id, neighbor_id, hamming, CAST(rk AS INT) AS rank
    FROM r WHERE rk <= 5
    """,
)
def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized nearest neighbours: every embedding collapses
    to its 64 sign bits (two packed longs), queries rank the corpus by
    Hamming distance (XOR + popcount), top-5 per query with id
    tie-break. This is the 1-bit first-pass of modern vector search —
    32× smaller than float32 vectors and the distance is two CPU
    instructions — normally followed by an exact re-rank of the
    shortlist (ann_cosine_topk is the exact sibling; ann_pq_indexed
    the 8-bit path).

    Scale shape: packing is one JVM fold per row (no UDF), the corpus
    carries 16 bytes/vector into the scan, and the probe set
    broadcasts (the ann_cosine_topk shape) — per-partition top-k
    keeps the shuffle at |queries|·k rows. Integer-only ranking: no
    rounding exists anywhere, so the oracle match is exact by
    construction. Ranking comes from :func:`hamming_ranked` — the
    same code retrieval_ndcg_mrr evaluates."""
    e = _t(spark, sf_dir, "embeddings")
    return hamming_ranked(e, 5).select(
        "query_id",
        "neighbor_id",
        "hamming",
        F.col("rk").cast("int").alias("rank"),
    )


# ------------------------------------ ranking evaluation (nDCG / MRR)
#
# How good is the 1-bit Hamming first pass, really? The eval every
# vector store publishes: per query, rank the corpus by Hamming
# distance (the system) and score it against exact-cosine top-10 (the
# truth) with graded gains 10..1. Determinism: the discount table
# 1/log2(i+1) is TEN Python-computed literals embedded verbatim in
# both engines (log2 itself is NOT cross-engine portable — Java and
# glibc disagree by 1 ulp on ~7% of inputs), every DCG term is
# quantized to floor(gain·disc·1e12 + 0.5) and summed as exact
# bigints (the graph_pagerank recipe), and MRR is a single 1/rank
# division — so the whole scorecard replays bit-for-bit.


_EVAL_K = 10
_DISC = [1.0 / _math.log2(i + 1) for i in range(1, _EVAL_K + 1)]
#: ideal DCG for 10 relevant docs with gains 10..1, in 1e-12 units —
#: ONE integer computed here and embedded in both engines
_IDCG_Q = sum(
    int(_math.floor((_EVAL_K - i) * _DISC[i] * 1e12 + 0.5))
    for i in range(_EVAL_K)
)
_DISC_SQL = "[" + ", ".join(f"CAST({d!r} AS DOUBLE)" for d in _DISC) + "]"


@query(
    "retrieval_ndcg_mrr",
    oracle=f"""
    WITH {_PACKED_SQL}, sys AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.query_id, p.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY bit_count(xor(p.h1, q.q1))
                          + bit_count(xor(p.h2, q.q2)), p.vec_id) AS rk
        FROM p, q WHERE p.vec_id <> q.query_id
      ) WHERE rk <= {_EVAL_K}
    ), qv AS (
      SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      WHERE vec_id < 100
    ), truth AS (
      SELECT query_id, neighbor_id, trank FROM (
        SELECT qv.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qv.query_id
                 ORDER BY {cosine_sql('qv.qvec', 'e.embedding')} DESC,
                          e.vec_id) AS trank
        FROM qv CROSS JOIN embeddings e
        WHERE e.vec_id <> qv.query_id
      ) WHERE trank <= {_EVAL_K}
    ), gains AS (
      SELECT s.query_id, s.rk,
             coalesce({_EVAL_K + 1} - t.trank, 0) AS gain
      FROM sys s LEFT JOIN truth t
        ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
    )
    SELECT query_id,
           CAST(SUM(CAST(FLOOR(
                 gain * ({_DISC_SQL})[rk] * 1e12 + 0.5) AS BIGINT))
                AS DOUBLE) / {_IDCG_Q} AS ndcg_10,
           coalesce(CAST(1.0 AS DOUBLE)
                    / MIN(CASE WHEN gain > 0 THEN rk END), 0.0)
             AS reciprocal_rank
    FROM gains GROUP BY query_id
    ORDER BY query_id
    """,
)
def retrieval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality scorecard of the binary-sign Hamming first
    pass against exact cosine truth: per query, nDCG@10 with graded
    gains (truth rank 1 → gain 10 … rank 10 → gain 1) and the
    reciprocal rank of the first true neighbor the Hamming ranking
    surfaces. The eval artifact that justifies (or vetoes) running
    the 32×-cheaper 1-bit pass in front of exact re-ranking —
    ann_recall_report's graded, position-aware sibling.

    Scale shape: both rankings are the broadcast-probe shape (tiny
    query set against the corpus scan; the Hamming side reads 16
    bytes/vector), per-partition top-k bounds the shuffles at
    |queries|·k rows, and the eval join is |queries|·k vs
    |queries|·k. Integer gains, literal discount constants, quantized
    DCG terms, one exact division each — oracle-exact end to end."""
    e = _t(spark, sf_dir, "embeddings")
    sys_rank = hamming_ranked(e, _EVAL_K).select(
        "query_id", "neighbor_id", "rk"
    )
    truth = cosine_topk(
        e.filter(F.col("vec_id") < 100), e, k=_EVAL_K, exclude_self=True
    ).select(
        "query_id",
        F.col("neighbor_id"),
        F.col("rank").alias("trank"),
    )
    gains = sys_rank.join(
        truth, ["query_id", "neighbor_id"], "left"
    ).select(
        "query_id",
        "rk",
        F.coalesce(F.lit(_EVAL_K + 1) - F.col("trank"), F.lit(0)).alias(
            "gain"
        ),
    )
    disc = F.array(*[F.lit(d) for d in _DISC])
    term = F.floor(
        F.col("gain") * F.element_at(disc, F.col("rk")) * F.lit(1e12)
        + F.lit(0.5)
    )
    return (
        gains.groupBy("query_id")
        .agg(
            (
                F.sum(term).cast("double") / F.lit(float(_IDCG_Q))
            ).alias("ndcg_10"),
            F.coalesce(
                F.lit(1.0)
                / F.min(F.when(F.col("gain") > 0, F.col("rk"))),
                F.lit(0.0),
            ).alias("reciprocal_rank"),
        )
        .orderBy("query_id")
    )
