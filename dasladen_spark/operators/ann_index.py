"""Materialized ANN index — build once, probe many times.

The approximate searchers in operators/similarity.py re-derive their
bucket/cell assignments for EVERY query batch: at 100 TB that is a
full corpus signature pass plus a key shuffle, repeated per batch.
This module pays that cost once. ``build_ann_index`` persists the
posting lists as a parquet table BUCKETED by the probe key
(sinks/bucketed.write_bucketed); ``search_ann_index`` probes it with
a broadcast hash join — at query time the corpus side's executed
plan has NO Exchange and NO Python UDF (asserted in
tests/test_plan_shapes.py::test_indexed_ann_search_has_no_corpus_side_shuffle);
the only rows that ever shuffle are the matched candidates for the
per-query top-k window.

Index layout (session catalog tables; Hive/Glue/Unity in production):

- ``{table}``            (probe BIGINT, neighbor_id, cv, cnorm),
                         bucketed and sorted by ``probe`` — ``cnorm``
                         is the vector's L2 norm folded once at BUILD
                         time, so query-time candidate scoring carries
                         it instead of re-folding per pair
- ``{table}_meta``       one row of build parameters
- ``{table}_centroids``  IVF only: (cell, centroid) — data-dependent,
                         so persisted with the index

LSH probe keys are reconstructible from parameters alone (the
hyperplane family is seed-deterministic), so the meta row suffices to
hash queries identically at search time. The probe key packs
(table, bucket) into one BIGINT (``t * 2^bits + bkt``) so the layout
buckets on a single column.

Beyond-reference operator (the reference delegates all query power to
an RDBMS, /root/reference/dasladen/task.py:94-107).
"""

from __future__ import annotations

import os
import shutil
import weakref

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dasladen_spark.functions.vectors import cosine_sim_carried, l2_norm
from dasladen_spark.operators.dedup import _spread, hyperplane_table_buckets
from dasladen_spark.operators.pq import PQ_VERSION
from dasladen_spark.operators.ranking import rank_per_query
from dasladen_spark.operators.similarity import (
    IVF_VERSION,
    fit_ivf_centroids,
    probe_cells_driver,
    with_cells,
)
from dasladen_spark.operators.snapshot import (
    publish_pointer,
    resolve_snapshot,
    snapshot_name,
)
from dasladen_spark.sinks.bucketed import write_bucketed


#: session-local cache of driver-side index metadata (the _meta row,
#: the ordered centroid matrix, the PQ codebook tensor). These are a
#: few KB each but cost one Spark job per read, and a search reads
#: 2-3 of them — ~0.3-0.4 s of pure fixed cost per query batch
#: (measured round 10). Writers in THIS module invalidate on rebuild;
#: like Spark's own relation cache, an index rebuilt by a DIFFERENT
#: session needs refresh_ann_index_cache() (append never changes
#: these tables, so appends need no invalidation).
#: Keyed WEAKLY on the session object itself: an id(spark) key could
#: collide when CPython reuses a dead session's address, silently
#: serving the old session's meta to the new one, and it never
#: shrank. Weak keys make eviction automatic on session teardown.
_DRIVER_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict]]" = (
    weakref.WeakKeyDictionary()
)


def _driver_cache(spark: SparkSession, table: str) -> dict:
    return _DRIVER_CACHE.setdefault(spark, {}).setdefault(table, {})


def refresh_ann_index_cache(spark: SparkSession, table: str) -> None:
    """Drop the session-local driver cache for ``table`` (call after
    an out-of-session rebuild, mirroring catalog.refreshTable)."""
    _DRIVER_CACHE.get(spark, {}).pop(table, None)


def _index_meta(spark: SparkSession, table: str):
    c = _driver_cache(spark, table)
    if "meta" not in c:
        c["meta"] = spark.table(f"{table}_meta").collect()[0]
    return c["meta"]


def _index_centroids(spark: SparkSession, table: str) -> np.ndarray:
    c = _driver_cache(spark, table)
    if "cent" not in c:
        rows = spark.table(f"{table}_centroids").orderBy("cell").collect()
        c["cent"] = np.array(
            [r["centroid"] for r in rows], dtype=np.float64
        )
    return c["cent"]


def _drop_orphan_location(spark: SparkSession, name: str) -> None:
    """A managed-table dir can outlive its catalog entry (crashed
    session, fresh derby metastore over an old warehouse dir);
    saveAsTable then refuses even in overwrite mode. Local-filesystem
    cleanup only — a production catalog owns its locations."""
    if spark.catalog.tableExists(name):
        return
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        p = os.path.join(wh[len("file:"):], name.lower())
        if os.path.exists(p):
            shutil.rmtree(p)


def build_ann_index(
    corpus: DataFrame,
    table: str,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_tables: int = 16,
    bits_per_table: int = 4,
    n_centroids: int = 16,
    lloyd_iters: int = 1,
    n_buckets: int = 16,
    tag: str = "",
    compress: str = "none",
    pq_m: int = 16,
    pq_ksub: int = 32,
    pq_iters: int = 2,
) -> None:
    """One-time index build: run the signature/assignment UDF over the
    corpus ONCE, explode to posting rows, and persist them bucketed by
    the probe key. Cost: one corpus pass + one bucket-write shuffle —
    amortized over every subsequent query batch.

    ``tag`` identifies the corpus snapshot the index was built from
    (e.g. its path); ``ensure_ann_index`` uses it to skip rebuilds.
    ``n_buckets`` sizes the layout for the huge-query-batch SMJ path:
    one bucket of postings should fit an executor core's memory.

    ``compress="pq"`` stores product-quantized CODES in the posting
    lists instead of full vectors (operators/pq; pq_m bytes per
    posting instead of 4·dim — 16× here): the probe scan reads code
    bytes only and scores candidates by LUT lookups; exact re-rank
    fetches full vectors for just the per-query shortlist from the
    source corpus at search time. This is the IVF-PQ / LSH-PQ layout
    every billion-vector system ships, expressed as a bucketed
    parquet table + joins."""
    spark = corpus.sparkSession
    refresh_ann_index_cache(spark, table)
    for suffix in ("", "_meta", "_centroids", "_pqbooks"):
        _drop_orphan_location(spark, table + suffix)
    c = _spread(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        "neighbor_id",
    )
    if method == "lsh":
        postings = hyperplane_table_buckets(
            c, "cv", num_tables, bits_per_table, dim
        ).select(
            (F.col("t").cast("bigint") * (1 << bits_per_table) + F.col("bkt"))
            .alias("probe"),
            "neighbor_id",
            "cv",
            # the vector's norm, folded ONCE at build time: search
            # scores candidates with carried norms (one interpreted
            # fold per pair instead of three, bit-identical cosines —
            # functions/vectors.cosine_sim_carried)
            l2_norm(F.col("cv")).alias("cnorm"),
        )
    elif method == "ivf":
        cent = fit_ivf_centroids(c, n_centroids, lloyd_iters)
        postings = with_cells(c, cent, "cv").select(
            F.col("cell").cast("bigint").alias("probe"),
            "neighbor_id",
            "cv",
            l2_norm(F.col("cv")).alias("cnorm"),
        )
        spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(cent)],
            "cell INT, centroid ARRAY<DOUBLE>",
        ).write.mode("overwrite").saveAsTable(f"{table}_centroids")
    else:
        raise ValueError(f"unknown ANN index method {method!r}")

    if compress == "pq":
        from dasladen_spark.operators.pq import fit_pq_codebooks, with_codes

        books = fit_pq_codebooks(
            c,
            id_col="neighbor_id",
            vec_col="cv",
            dim=dim,
            m=pq_m,
            ksub=pq_ksub,
            iters=pq_iters,
        )
        postings = with_codes(
            postings.select("probe", "neighbor_id", "cv"), books, "cv"
        )
        spark.createDataFrame(
            [
                (j, cidx, [float(x) for x in books[j, cidx]])
                for j in range(books.shape[0])
                for cidx in range(books.shape[1])
            ],
            "sub INT, code INT, centroid ARRAY<DOUBLE>",
        ).write.mode("overwrite").saveAsTable(f"{table}_pqbooks")
    elif compress != "none":
        raise ValueError(f"unknown ANN index compression {compress!r}")

    write_bucketed(postings, table, "probe", n_buckets, sort_cols="probe")
    spark.createDataFrame(
        [
            (
                method,
                dim,
                num_tables,
                bits_per_table,
                n_centroids,
                n_buckets,
                tag,
                compress,
                pq_m,
                pq_ksub,
                pq_iters,
                lloyd_iters,
                _HASH_VERSION,
                PQ_VERSION,
                IVF_VERSION,
            )
        ],
        "method STRING, dim INT, num_tables INT, bits_per_table INT,"
        " n_centroids INT, n_buckets INT, tag STRING, compress STRING,"
        " pq_m INT, pq_ksub INT, pq_iters INT, lloyd_iters INT,"
        " hash_version INT, pq_version INT, ivf_version INT",
    ).write.mode("overwrite").saveAsTable(f"{table}_meta")


def _postings_for(
    spark: SparkSession, table: str, vecs: DataFrame
) -> DataFrame:
    """(probe, neighbor_id, cv) posting rows for new vectors, hashed
    with the SAME family the index was built with (LSH params are
    seed-deterministic; IVF centroids are persisted) — the growth
    path: new corpus rows join the index without a rebuild."""
    meta = _index_meta(spark, table)
    if meta["method"] == "lsh":
        post = hyperplane_table_buckets(
            vecs, "cv", meta["num_tables"], meta["bits_per_table"], meta["dim"]
        ).select(
            (
                F.col("t").cast("bigint") * (1 << meta["bits_per_table"])
                + F.col("bkt")
            ).alias("probe"),
            "neighbor_id",
            "cv",
            l2_norm(F.col("cv")).alias("cnorm"),
        )
    else:
        cent = _index_centroids(spark, table)
        post = with_cells(vecs, cent, "cv").select(
            F.col("cell").cast("bigint").alias("probe"),
            "neighbor_id",
            "cv",
            l2_norm(F.col("cv")).alias("cnorm"),
        )
    if "compress" in meta.asDict() and meta["compress"] == "pq":
        from dasladen_spark.operators.pq import with_codes

        books = _load_pq_books(spark, table)
        return with_codes(
            post.select("probe", "neighbor_id", "cv"), books, "cv"
        )
    # match the stored element type (e.g. float corpus, double input)
    cv_type = spark.table(table).schema["cv"].dataType
    return post.withColumn("cv", F.col("cv").cast(cv_type))


def _load_pq_books(spark: SparkSession, table: str) -> np.ndarray:
    c = _driver_cache(spark, table)
    if "books" in c:
        return c["books"]
    rows = spark.table(f"{table}_pqbooks").orderBy("sub", "code").collect()
    m = max(r["sub"] for r in rows) + 1
    ksub = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    books = np.zeros((m, ksub, dsub), np.float64)
    for r in rows:
        books[r["sub"], r["code"]] = r["centroid"]
    c["books"] = books
    return books


def append_to_ann_index(
    spark: SparkSession,
    table: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add new corpus vectors to a materialized index — one signature
    pass over ONLY the new rows, appended in the existing bucket
    layout. Searches see them immediately; no rebuild, no touch of
    the existing postings. (Replayed appends duplicate posting rows;
    search dedups candidates by (query, neighbor), so duplicates cost
    a little read amplification, never correctness.)"""
    table = resolve_snapshot(spark, table)
    n_buckets = _index_meta(spark, table)["n_buckets"]
    vecs = new_vecs.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    write_bucketed(
        _postings_for(spark, table, vecs),
        table,
        "probe",
        n_buckets,
        sort_cols="probe",
        mode="append",
    )


#: bucket-hash generation. 2 = pure-JVM quantized-integer dots
#: (hyperplane_table_buckets); 1 (implicit — old metas have no
#: hash_version column) was the numpy-matmul pandas UDF, whose sign
#: bits can differ from the quantized sum near zero. An index whose
#: stored version differs from the code's is stale BY CONSTRUCTION
#: (probe keys would be hashed differently than its postings), so
#: ensure_ann_index rebuilds it.
_HASH_VERSION = 3

#: every geometry knob a build can take, with build_ann_index's
#: defaults — ensure_ann_index compares ALL of them against the
#: persisted _meta row so no parameter change can silently serve a
#: stale index (any kwarg differing from the stored value rebuilds).
#: hash_version is not a caller knob but joins the comparison so a
#: code upgrade invalidates old indexes.
_GEOMETRY_DEFAULTS = {
    "method": "lsh",
    "dim": 64,
    "num_tables": 16,
    "bits_per_table": 4,
    "n_centroids": 16,
    "n_buckets": 16,
    "compress": "none",
    "pq_m": 16,
    "pq_ksub": 32,
    "pq_iters": 2,
    "lloyd_iters": 1,
    "hash_version": _HASH_VERSION,
    # not a caller knob: the PQ encode kernel's algorithm version
    # (operators/pq.PQ_VERSION) — indexes whose stored codes came from
    # an older kernel rebuild on first ensure (round 8's numpy argmax
    # encode is version 1 and its meta lacks the field entirely, so
    # .get() yields None != PQ_VERSION)
    "pq_version": PQ_VERSION,
    # same discipline for the IVF cell-assignment kernel
    # (operators/similarity.IVF_VERSION)
    "ivf_version": IVF_VERSION,
}


def _relevant_geometry(kwargs: dict) -> set[str]:
    """The geometry knobs that actually shape an index built with
    these kwargs: method/dim/n_buckets/compress always; LSH hashes
    care about num_tables/bits_per_table, IVF about
    n_centroids/lloyd_iters, PQ compression about pq_*. Comparing
    only these means passing an IRRELEVANT knob (pq_m with
    compress='none', n_centroids with method='lsh') that happens to
    differ from the stored default never triggers a pointless full
    rebuild."""
    method = kwargs.get("method", _GEOMETRY_DEFAULTS["method"])
    compress = kwargs.get("compress", _GEOMETRY_DEFAULTS["compress"])
    params = {"method", "dim", "n_buckets", "compress"}
    if method == "lsh":
        # hash_version: the LSH probe-key function itself (callers
        # never pass it; the code's current value is the "default",
        # so an index hashed by older code always rebuilds)
        params |= {"num_tables", "bits_per_table", "hash_version"}
    elif method == "ivf":
        params |= {"n_centroids", "lloyd_iters", "ivf_version"}
    if compress == "pq":
        params |= {"pq_m", "pq_ksub", "pq_iters", "pq_version"}
    return params


def ensure_ann_index(corpus: DataFrame, table: str, tag: str, **kwargs) -> str:
    """Idempotent entry point: materialize the index for exactly this
    (corpus snapshot, relevant geometry) pair and return its PHYSICAL
    table name. The snapshot and every relevant geometry knob (plus
    kernel versions — see ``_relevant_geometry``) are hashed INTO the
    name (``operators/snapshot``), so:

    - a matching physical table is always safe to reuse (its identity
      IS the requested identity — no tag/param comparison needed);
    - a different snapshot or knob builds a DIFFERENT table instead of
      destructively overwriting this one (round-11's sf1 gate showed
      two concurrent runs sharing a warehouse deleting each other's
      ``ann_idx_pq`` part-files mid-scan);
    - the logical name stays usable for later tasks (append/search by
      name) via the atomic pointer view ``{table}_ptr``.

    Callers should prefer the returned physical name; resolution via
    the pointer serves the task-file surface where build and search
    are separate task invocations."""
    spark = corpus.sparkSession
    phys = snapshot_name(
        table,
        tag,
        *(
            f"{p}={kwargs.get(p, _GEOMETRY_DEFAULTS[p])}"
            for p in sorted(_relevant_geometry(kwargs))
        ),
    )
    if not (
        spark.catalog.tableExists(phys)
        and spark.catalog.tableExists(f"{phys}_meta")
    ):
        build_ann_index(corpus, phys, tag=tag, **kwargs)
    publish_pointer(spark, table, phys)
    return phys


def _probe_schema(queries: DataFrame, query_id: str, rest: str):
    """Schema for the driver-computed broadcast probe frame, with the
    query-id field typed from the caller's query frame (string /
    int / long ids all round-trip; a hard-coded ``long`` raised on
    non-integer ids)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    name, typ = rest.split()
    rest_type = {"bigint": LongType(), "int": IntegerType()}[typ]
    # query_id stays nullable: the shuffle path tolerates a NULL id
    # (it just never matches the equi-join), so the broadcast probe
    # must not raise on one inside createDataFrame either
    return StructType(
        [
            StructField("query_id", queries.schema[query_id].dataType, True),
            StructField(name, rest_type, False),
        ]
    )


def search_ann_index(
    spark: SparkSession,
    table: str,
    queries: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    n_probe: int = 4,
    exclude_self: bool = True,
    corpus: DataFrame | None = None,
    rerank_mult: int = 8,
    corpus_id: str | None = None,
    corpus_vec: str | None = None,
) -> DataFrame:
    """Probe a materialized index: hash the query batch to probe keys
    (queries are the small side by construction), broadcast it onto
    the bucketed posting scan, exact-cosine re-rank the candidates.

    Query-time plan shape: FileScan of the bucketed table →
    BroadcastHashJoin — zero Exchange and zero UDF on the corpus
    side; dedup + top-k window shuffle only the candidate rows.
    Output: (query_id, rank, neighbor_id, cosine), ties broken by
    neighbor id (fully deterministic).

    For a ``compress="pq"`` index the probed scan reads CODE BYTES
    only; candidates are LUT-scored (ADC), the per-query
    ``k × rerank_mult`` shortlist fetches full vectors from
    ``corpus`` (the source frame; REQUIRED for pq) for the exact
    re-rank — at 100 TB the vector fetch touches |Q|·k·mult rows,
    never the corpus. ``corpus_id``/``corpus_vec`` name the corpus
    frame's columns when they differ from the query frame's
    (default: same names)."""
    table = resolve_snapshot(spark, table)
    meta = _index_meta(spark, table)
    compress = (
        meta["compress"] if "compress" in meta.asDict() else "none"
    )
    if compress == "pq" and corpus is None:
        raise ValueError("pq-compressed index needs the source corpus "
                         "frame for the exact re-rank")
    from dasladen_spark.operators.pq import lattice_denom

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        # folded once per query; the candidate scoring carries it
        # against the index's build-time cnorm
        l2_norm(F.col(query_vec)).alias("_qn"),
    )
    # ONE collect of the (small by contract) query batch feeds every
    # driver-side derivation — LSH probe keys, IVF probe cells, and
    # the PQ LUT normalization — instead of a separate Spark job each
    q_collected = q.withColumn(
        "_ld", lattice_denom(F.col("qv"))
    ).collect()
    qn_rows = [
        (r["query_id"], [x / r["_ld"] for x in r["qv"]])
        for r in q_collected
    ]
    if meta["method"] == "lsh":
        from dasladen_spark.operators.dedup import hyperplane_probes_driver

        # hash the batch driver-side (bit-identical to the kernel —
        # see hyperplane_probes_driver) instead of paying the
        # kernel's two-stage aggregate DAG per search
        probe_pairs = hyperplane_probes_driver(
            [(r["query_id"], list(r["qv"])) for r in q_collected],
            meta["num_tables"],
            meta["bits_per_table"],
            meta["dim"],
        )
        probes = q.join(
            F.broadcast(
                spark.createDataFrame(
                    probe_pairs,
                    _probe_schema(queries, query_id, "probe bigint"),
                )
            ),
            "query_id",
        ).select("query_id", "qv", "_qn", "probe")
    else:
        cent = _index_centroids(spark, table)
        probes = q.join(
            F.broadcast(
                spark.createDataFrame(
                    probe_cells_driver(cent, qn_rows, n_probe),
                    _probe_schema(queries, query_id, "cell int"),
                )
            ),
            "query_id",
        ).select(
            "query_id",
            "qv",
            "_qn",
            F.col("cell").cast("bigint").alias("probe"),
        )
    cand = (
        spark.table(table)
        .join(F.broadcast(probes), on="probe")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    if compress == "pq":
        from dasladen_spark.operators.pq import (
            adc_score_expr,
            exact_rerank,
            query_lut,
        )

        if not qn_rows:
            return spark.createDataFrame(
                [], "query_id long, rank int, neighbor_id long, cosine double"
            )
        books = _load_pq_books(spark, table)
        q_ids, lut = query_lut(books, qn_rows)
        short = rank_per_query(
            cand.select(
                "query_id",
                "neighbor_id",
                adc_score_expr(q_ids, lut, "query_id", "codes").alias("adc"),
            ),
            "adc",
            k * rerank_mult,
            rank_col="arank",
        ).select("query_id", "neighbor_id")
        return exact_rerank(
            short,
            queries,
            corpus,
            k,
            query_id=query_id,
            query_vec=query_vec,
            id_col=corpus_id or query_id,
            vec_col=corpus_vec or query_vec,
        )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_sim_carried(
            F.col("qv"), F.col("cv"), F.col("_qn"), F.col("cnorm")
        ).alias("cosine"),
    )
    return rank_per_query(scored, "cosine", k).select(
        "query_id", "rank", "neighbor_id", "cosine"
    )


def compact_ann_index(spark: SparkSession, table: str) -> None:
    """One posting file per bucket again after streaming appends (see
    sinks/bucketed.compact_bucketed for the swap semantics)."""
    from dasladen_spark.sinks.bucketed import compact_bucketed

    table = resolve_snapshot(spark, table)
    n_buckets = _index_meta(spark, table)["n_buckets"]
    compact_bucketed(spark, table, "probe", n_buckets, sort_cols="probe")
