"""Approximate-nearest-neighbor search over embedding columns.

- cosine_topk: exact brute force — queries are BROADCAST (they are
  the small side by construction), the corpus is scanned once, and
  the only shuffle is the final per-query top-k. At 100 TB this is
  one pass over the corpus: the right baseline.
- lsh_cosine_topk: random-hyperplane bucketing — each query probes
  only its own buckets, trading recall for a corpus-fraction scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dasladen_spark.functions.vectors import cosine_sim_carried, l2_norm
from dasladen_spark.operators.dedup import _spread, hyperplane_table_buckets
from dasladen_spark.operators.ranking import rank_per_query


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Output: (query_id, neighbor_id, rank, cosine). Rank ties are
    broken by neighbor id so results are fully deterministic.
    """
    # norms fold once per ROW here, not once per pair in the scoring
    # select below — bit-identical cosines, 3× fewer interpreted
    # folds on the |Q|×|corpus| pair stream (see
    # functions/vectors.cosine_sim_carried)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        l2_norm(F.col(query_vec)).alias("_qn"),
    )
    c = _spread(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(corpus_vec).alias("cv"),
            l2_norm(F.col(corpus_vec)).alias("_cn"),
        ),
        "neighbor_id",
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        cosine_sim_carried(
            F.col("qv"), F.col("cv"), F.col("_qn"), F.col("_cn")
        ).alias("cosine"),
    )
    return rank_per_query(scored, "cosine", k).select(
        "query_id", "rank", "neighbor_id", "cosine"
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    dim: int = 64,
    num_tables: int = 16,
    bits_per_table: int = 4,
    exclude_self: bool = True,
    broadcast_queries: bool | None = None,
    broadcast_cap: int = 1024,
) -> DataFrame:
    """Approximate top-k: candidates must share a random-hyperplane
    bucket with the query in at least one table. The corpus is
    exploded once per table (cheap, narrow) and the join is an equi
    join on (table, bucket) — a key shuffle instead of a cross join.

    Default 16 tables x 4 bits: ann_recall_report measures 0.90
    recall@5 on the (weakly-similar) fixture corpus vs 0.60 at 8
    tables; production near-dup cosine levels sit far higher. Tune
    with the report: more tables -> recall, more bits -> smaller
    buckets (fewer candidates per probe).

    ``broadcast_queries`` (default: auto-probe with a bounded fetch,
    the scoring.py localize pattern): a query batch of ≤
    ``broadcast_cap`` rows is collected, hashed driver-side
    (dedup.hyperplane_probes_driver — asserted bit-identical to the
    kernel), and BROADCAST onto the corpus posting stream. That turns
    the (t, bkt) join into a BroadcastHashJoin: at 100 TB the corpus
    postings never shuffle (the kernel's own map-side-complete
    exchange is the only corpus Exchange), and the candidate set —
    and therefore the result — is row-identical to the shuffle path.
    Pass False to force the symmetric shuffle join (the right shape
    when the "query" side IS a corpus, e.g. all-pairs near-dup), or
    True to assert smallness (raises past the cap instead of silently
    degrading)."""
    qid_type = queries.schema[query_id].dataType
    cid_type = corpus.schema[corpus_id].dataType
    head = None
    if broadcast_queries is None or broadcast_queries:
        # bounded fetch, reused as the broadcast rebuild (never a
        # count probe + second collect): limit(cap+1) caps what can
        # reach the driver even on a corpus-sized mistake
        head = (
            queries.select(
                F.col(query_id).alias("_qid"),
                F.col(query_vec).cast("array<double>").alias("_qv"),
            )
            .limit(broadcast_cap + 1)
            .collect()
        )
        if len(head) > broadcast_cap:
            if broadcast_queries:
                raise ValueError(
                    f"lsh_cosine_topk: query batch exceeds"
                    f" broadcast_cap={broadcast_cap} rows —"
                    " broadcast_queries=True asserts a small batch;"
                    " pass broadcast_queries=False for corpus-sized"
                    " query sides"
                )
            head = None  # auto mode: fall through to the shuffle join
    if head is not None:
        return _lsh_topk_broadcast(
            queries.sparkSession,
            head,
            corpus,
            k,
            corpus_id,
            corpus_vec,
            dim,
            num_tables,
            bits_per_table,
            exclude_self,
            qid_type,
            cid_type,
        )
    # ONE kernel pass over queries ∪ corpus (the side tag joins the
    # group key): half the signature-pipeline stages and half the
    # driver-side plan analysis of running the kernel per side. Each
    # side's id rides in its OWN typed column (NULL on the other
    # side) so a bigint query id and a string corpus id — which the
    # separate query_id/corpus_id parameters invite — never meet in
    # a union type conflict.
    both = hyperplane_table_buckets(
        # per-row norms fold here, BEFORE the kernel and the bucket
        # join, and ride through as carried columns — the pair-stream
        # scoring below then does one fold per pair instead of three
        # (bit-identical cosines; functions/vectors.cosine_sim_carried)
        queries.select(
            F.lit(True).alias("_is_q"),
            F.col(query_id).alias("_qid"),
            F.lit(None).cast(cid_type).alias("_nid"),
            l2_norm(F.col(query_vec)).alias("_vn"),
            F.col(query_vec).cast("array<double>").alias("_v"),
        ).unionByName(
            _spread(
                corpus.select(
                    F.lit(False).alias("_is_q"),
                    F.lit(None).cast(qid_type).alias("_qid"),
                    F.col(corpus_id).alias("_nid"),
                    l2_norm(F.col(corpus_vec)).alias("_vn"),
                    F.col(corpus_vec).cast("array<double>").alias("_v"),
                ),
                "_nid",
            )
        ),
        "_v",
        num_tables,
        bits_per_table,
        dim,
    )
    q = both.filter(F.col("_is_q")).select(
        F.col("_qid").alias("query_id"),
        F.col("_v").alias("qv"),
        F.col("_vn").alias("_qn"),
        "t",
        "bkt",
    )
    c = both.filter(~F.col("_is_q")).select(
        F.col("_nid").alias("neighbor_id"),
        F.col("_v").alias("cv"),
        F.col("_vn").alias("_cn"),
        "t",
        "bkt",
    )
    cand = q.join(c, on=["t", "bkt"]).dropDuplicates(["query_id", "neighbor_id"])
    if exclude_self and qid_type == cid_type:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    # differing id types = differing keyspaces: no corpus row can BE
    # the query row, and a cross-type != would coerce (a non-numeric
    # string casts to NULL against a bigint, the NULL predicate drops
    # EVERY candidate) — so self-exclusion is correctly a no-op there
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_sim_carried(
            F.col("qv"), F.col("cv"), F.col("_qn"), F.col("_cn")
        ).alias("cosine"),
    )
    return rank_per_query(scored, "cosine", k).select(
        "query_id", "rank", "neighbor_id", "cosine"
    )


def _lsh_topk_broadcast(
    spark,
    head,
    corpus: DataFrame,
    k: int,
    corpus_id: str,
    corpus_vec: str,
    dim: int,
    num_tables: int,
    bits_per_table: int,
    exclude_self: bool,
    qid_type,
    cid_type,
) -> DataFrame:
    """Small-query-batch LSH top-k: driver-side probes broadcast onto
    the corpus posting stream (see lsh_cosine_topk's
    ``broadcast_queries``). Candidate set is bit-identical to the
    shuffle path — hyperplane_probes_driver shares the plane family,
    quantum, and sign packing with the kernel (asserted by
    test_hyperplane_driver_probes_match_kernel), and the cosine is
    the same carried-norm fold over the same doubles (collect →
    createDataFrame round-trips IEEE doubles exactly)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from dasladen_spark.operators.dedup import hyperplane_probes_driver

    # first occurrence wins on duplicate query ids (degenerate input;
    # the shuffle path's dropDuplicates keeps an arbitrary one).
    # Null/empty vectors are skipped — the kernel's posexplode emits
    # zero rows for them, so they produce no buckets on that path
    # either.
    rows, seen = [], set()
    for r in head:
        if r["_qid"] not in seen and r["_qv"]:
            seen.add(r["_qid"])
            rows.append((r["_qid"], list(r["_qv"])))
    if not rows:
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", qid_type),
                    StructField("rank", IntegerType()),
                    StructField("neighbor_id", cid_type),
                    StructField("cosine", DoubleType()),
                ]
            ),
        )
    mask = (1 << bits_per_table) - 1
    probes = spark.createDataFrame(
        [
            (qid, p >> bits_per_table, p & mask)
            for qid, p in hyperplane_probes_driver(
                rows, num_tables, bits_per_table, dim
            )
        ],
        StructType(
            [
                StructField("query_id", qid_type, False),
                StructField("t", IntegerType(), False),
                StructField("bkt", LongType(), False),
            ]
        ),
    )
    # norms fold Spark-side over the exact same doubles the kernel
    # path would carry — bit-identical cosines
    qv = spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("query_id", qid_type, False),
                StructField("qv", ArrayType(DoubleType())),
            ]
        ),
    ).select("query_id", "qv", l2_norm(F.col("qv")).alias("_qn"))
    c = hyperplane_table_buckets(
        _spread(
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                l2_norm(F.col(corpus_vec)).alias("_cn"),
                F.col(corpus_vec).cast("array<double>").alias("cv"),
            ),
            "neighbor_id",
        ),
        "cv",
        num_tables,
        bits_per_table,
        dim,
    )
    cand = c.join(F.broadcast(probes), on=["t", "bkt"]).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    if exclude_self and qid_type == cid_type:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.join(F.broadcast(qv), "query_id").select(
        "query_id",
        "neighbor_id",
        cosine_sim_carried(
            F.col("qv"), F.col("cv"), F.col("_qn"), F.col("_cn")
        ).alias("cosine"),
    )
    return rank_per_query(scored, "cosine", k).select(
        "query_id", "rank", "neighbor_id", "cosine"
    )


#: the IVF cell-assignment kernel's algorithm version, persisted in
#: ann_index meta (like pq_version): round 9 replaced the numpy
#: cosine-argmax pandas UDF with operators/pq's quantized-integer
#: lattice argmin (m=1 product quantization IS nearest-centroid
#: assignment), so indexes with version-1 cells rebuild on ensure
IVF_VERSION = 2


def lattice_zx_frame(
    df: DataFrame, id_cols: list, vec_col: str, normalize: bool
) -> DataFrame:
    """(*id_cols, _azx) — each row's array<bigint> of lattice points
    ``floor((x/denom)·Q + 0.5)`` (denom = :func:`pq.lattice_denom`,
    or the exact ``x/1.0`` raw-coordinate flavor). Two projections on
    purpose: the cast and the O(dim) denom fold are each non-cheap
    producer expressions referenced more than once downstream, so
    CollapseProject leaves them materialized once per row. The denom
    rides as an ``array_repeat`` ARGUMENT (never inside a lambda
    body), so no optimizer rewrite can multiply the fold per element
    (the lattice_denom O(dim²) trap)."""
    from dasladen_spark.operators.pq import PQ_QUANT, lattice_denom

    ids = [F.col(c) if isinstance(c, str) else c for c in id_cols]
    v = df.select(
        *ids, F.col(vec_col).cast("array<double>").alias("_av")
    )
    denom = (
        lattice_denom(F.col("_av")) if normalize else F.lit(1.0)
    )
    zx = F.zip_with(
        F.col("_av"),
        F.array_repeat(denom, F.size(F.col("_av"))),
        lambda x, d: F.floor((x / d) * F.lit(PQ_QUANT) + F.lit(0.5)),
    )
    keep = [c for c in v.columns if c != "_av"]
    # empty/null vectors never produced an assignment row in the
    # round-11 explode/aggregate shape (no exploded positions → no
    # group) — keep that contract as an explicit cheap guard
    return v.filter(F.size(F.col("_av")) > 0).select(
        *keep, zx.alias("_azx")
    )


def cell_dist_array(zc: list) -> "F.Column":
    """array<bigint> of per-cell squared lattice distances over the
    ``_azx`` column — ONE expression per cell,
    ``aggregate(zip_with(zx, zc_c, (a,b) -> (a-b)²), 0L, +)``. Higher-
    order functions evaluate interpreted (never inlined into janino
    methods), so unlike the flat per-position chain this never
    degrades whole-stage codegen at dim=64, and unlike the
    posexplode/hash-aggregate shape it needs NO exchange at all."""
    from dasladen_spark.operators.pq import _zc_lit

    return F.array(
        *[
            F.expr(
                f"aggregate(zip_with(_azx, {_zc_lit(row)},"
                " (a, b) -> (a - b) * (a - b)),"
                " 0L, (s, v) -> s + v)"
            )
            for row in zc
        ]
    )


#: argmin over the ``_adarr`` distance array with the lowest-index
#: tie-break — the exact spelling every lattice argmin in the repo
#: (and the SQL oracle) uses.
def _argmin_cell() -> "F.Column":
    return (
        F.array_position(F.col("_adarr"), F.array_min(F.col("_adarr")))
        - 1
    ).cast("int")


def assign_cells(
    df: DataFrame,
    cent_mat: np.ndarray,
    id_col: str,
    vec_col: str,
    out_col: str = "cell",
    normalize: bool = True,
) -> DataFrame:
    """(id, cell) — each vector's nearest-centroid cell on the shared
    integer lattice (operators/pq module doctrine): normalize with
    :func:`pq.lattice_denom`, quantize coordinates, and argmin the
    pure-BIGINT distances with a lowest-index tie-break (for unit
    vectors, L2-argmin is cosine-argmax). The single spelling shared
    by the inverted-list build, the index append path, the Lloyd
    rounds, and the SQL oracle replay.

    Execution shape (r12): three narrow projections, ZERO exchanges —
    lattice points per row (:func:`lattice_zx_frame`), then one
    interpreted ``aggregate(zip_with(...))`` fold per cell
    (:func:`cell_dist_array`), then the argmin. The previous shape
    (posexplode into a codegen'd hash aggregate with ``n_centroids``
    BIGINT SUM cells) computed the identical integers but shuffled
    one k-cell row per vector through a groupBy exchange; the
    corpus-scale assignment pass now stays entirely map-side. (A flat
    per-position expression chain — the PQ encode shape at dsub=4 —
    is still avoided: it blows janino's 64 KB method limit at dim=64;
    the HOF folds never enter generated code.)

    ``normalize=False`` assigns in RAW coordinate space
    (``zx = floor(x·Q + 0.5)``, the ``x/1.0`` division is exact) —
    the k-means flavor (operators/clustering)."""
    from dasladen_spark.operators.pq import _lat

    cm = np.asarray(cent_mat, np.float64)
    zc = [[_lat(v) for v in row] for row in cm]
    zxf = lattice_zx_frame(
        df, [F.col(id_col).alias("_aid")], vec_col, normalize
    )
    d = zxf.select("_aid", cell_dist_array(zc).alias("_adarr"))
    # COALESCE(argmin, -1): same non-nullability armor as with_cells
    # — any downstream equi-join on the OUTPUT cell/cluster column
    # would otherwise infer isnotnull(cell), and predicate pushdown
    # inlines the entire k-fold kernel into a Filter below the spread
    # exchange (measured: dedup_semantic_clusters at sf1 ran the
    # k=80 kernel on the 2-task raw scan stage for 22 s). A null
    # argmin only arises from a contract-violating vector; -1 joins
    # with nothing, exactly like the null it replaces.
    return d.select(
        F.col("_aid").alias(id_col),
        F.coalesce(_argmin_cell(), F.lit(-1)).alias(out_col),
    )


def with_cells(
    df: DataFrame,
    cent_mat: np.ndarray,
    vec_col: str,
    out_col: str = "cell",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """``df`` + ``out_col`` — the nearest-centroid cell attached as
    per-row column expressions (r12). The round-11 spelling joined
    :func:`assign_cells` back on ``id_col``, which at corpus scale
    shuffled BOTH sides of an id-keyed self-join just to re-attach a
    value derivable from the row itself; the HOF kernel makes the
    assignment a projection, so callers keep their partitioning and
    the only corpus shuffle left in an IVF build is the cell-keyed
    one the inverted lists genuinely need. ``id_col`` is kept for
    signature compatibility (uniqueness no longer required)."""
    from dasladen_spark.operators.pq import _lat

    cm = np.asarray(cent_mat, np.float64)
    zc = [[_lat(v) for v in row] for row in cm]
    zxf = lattice_zx_frame(df, list(df.columns), vec_col, normalize=True)
    d = zxf.select(*df.columns, cell_dist_array(zc).alias("_adarr"))
    # COALESCE(argmin, -1) marks the cell NON-NULLABLE: an inner join
    # on the cell would otherwise infer isnotnull(cell) and predicate
    # pushdown would inline the ENTIRE k-fold distance expression into
    # a Filter below this projection — the whole kernel evaluated
    # twice per row (caught by the re-inlining sweep test). A null
    # argmin can only come from a contract-violating vector (null
    # elements); -1 is never a probed cell, so such a row still never
    # matches — exactly the join behavior a null cell had.
    return d.select(
        *df.columns,
        F.coalesce(_argmin_cell(), F.lit(-1)).alias(out_col),
    )


def probe_cells_driver(
    cent_mat: np.ndarray, qn_rows, n_probe: int
) -> list[tuple]:
    """[(query_id, cell)] — each query's ``n_probe`` nearest cells by
    the SAME lattice distance the corpus assignment uses (ties →
    lowest cell id), computed driver-side from the collected
    normalized query batch (queries are the small side by
    construction). Pure-integer math, so the oracle replays it."""
    from dasladen_spark.operators.pq import _lat

    zc = [[_lat(v) for v in row] for row in np.asarray(cent_mat, np.float64)]
    out = []
    for qid, qn in qn_rows:
        zq = [_lat(x) for x in qn]
        d = [
            (sum((a - b) * (a - b) for a, b in zip(zq, row)), c)
            for c, row in enumerate(zc)
        ]
        d.sort()
        out.extend((qid, c) for _d, c in d[:n_probe])
    return out


def nearest_cell_sums(
    base: DataFrame, cent: list, normalize: bool = True
) -> list[tuple]:
    """One Lloyd round of nearest-centroid cells for
    :func:`pq.lattice_lloyd_fit` — the round k-means (raw coordinates,
    ``normalize=False``) and IVF share: ONE pass over the cached
    ``(_id, _v)`` frame derives each row's lattice points and argmin
    cell (the :func:`assign_cells` HOF kernel — full-dim flat chains
    break janino, see there), then position-explodes them into
    (cell, dim)-keyed lattice sums. Map-side partial aggregation puts
    k × dim partials per task on the wire, and no task ever
    materializes a whole cell (collect_list would — quadratic when one
    cell owns most of the corpus). Returns ``[(cell, pos, Σ zx, n)]``."""
    from dasladen_spark.operators.pq import _lat

    zc = [[_lat(v) for v in row] for row in cent]
    stats = (
        lattice_zx_frame(base, [], "_v", normalize=normalize)
        .select("_azx", cell_dist_array(zc).alias("_adarr"))
        .select(
            _argmin_cell().alias("cell"),
            F.posexplode("_azx").alias("_pos", "_zx"),
        )
        .groupBy("cell", "_pos")
        .agg(F.sum("_zx").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    return [(r["cell"], r["_pos"], r["_s"], r["_n"]) for r in stats]


def fit_ivf_centroids(
    c: DataFrame,
    n_centroids: int,
    lloyd_iters: int,
    fit_fraction: float | None = None,
) -> np.ndarray:
    """Fit the IVF centroid matrix over a (neighbor_id, cv) frame:
    :func:`pq.lattice_lloyd_fit` on lattice-normalized vectors with the
    'ivf-seed' salt and :func:`nearest_cell_sums` rounds, so the
    centroids — like the PQ codebooks — are a pure function of the
    corpus that the SQL oracle re-derives bit-for-bit. Only
    n_centroids × dim floats ever reach the driver."""
    from dasladen_spark.operators.pq import lattice_lloyd_fit

    cent = lattice_lloyd_fit(
        c, "neighbor_id", "cv", n_centroids, lloyd_iters, "ivf-seed",
        fit_fraction, normalize=True, lloyd_round=nearest_cell_sums,
        fit_name="fit_ivf_centroids", k_name="n_centroids",
    )
    return np.array(cent, np.float64)


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is
    partitioned into ``n_centroids`` Voronoi cells; each query scores
    only the ``n_probe`` nearest cells' members.

    Scale anatomy (the 100 TB path):
    - centroids: hash-ordered deterministic seed sample, refined by
      ``lloyd_iters`` distributed k-means steps (fit_ivf_centroids).
      Centroids (n_centroids × dim floats) always fit on the driver.
    - inverted lists: one shuffle of the corpus on cell id. For reuse
      across query batches, materialize them once with
      operators/ann_index.build_ann_index(method="ivf") — the
      bucketed-table form of this exact dataflow.
    - search: queries explode to n_probe cells, equi-join on cell id
      (a key shuffle over n_probe/n_centroids of the corpus), exact
      cosine re-rank, per-query top-k window.
    """
    c = _spread(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("cv")
        ),
        "neighbor_id",
    )
    # per-row norms fold before the cell join; the pair scoring below
    # carries them (bit-identical, 3× fewer interpreted folds)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        l2_norm(F.col(query_vec)).alias("_qn"),
    )

    cent = fit_ivf_centroids(c, n_centroids, lloyd_iters)
    lists = with_cells(c, cent, "cv").withColumn("_cn", l2_norm(F.col("cv")))

    from dasladen_spark.operators.pq import normalized_query_rows

    qn_rows = normalized_query_rows(queries, query_id, query_vec)
    spark = queries.sparkSession
    probed = q.join(
        F.broadcast(
            spark.createDataFrame(
                probe_cells_driver(cent, qn_rows, n_probe),
                "query_id long, cell int",
            )
        ),
        "query_id",
    )
    cand = probed.join(lists, on="cell")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_sim_carried(
            F.col("qv"), F.col("cv"), F.col("_qn"), F.col("_cn")
        ).alias("cosine"),
    )
    return rank_per_query(scored, "cosine", k).select(
        "query_id", "rank", "neighbor_id", "cosine"
    )
