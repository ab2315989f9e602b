"""Spark and DuckDB spellings that more than one plan module uses,
each written once.

The DuckDB strings are the oracle twins of library functions:
``functions/text.quality_score`` and ``normalize_text``,
``functions/vectors.cosine_sim``,
``operators/dedup.duplicated_span_coverage`` and
``operators/clustering.kmeans_fit``. The queries that register them
prove each pair equal. Templates take the column as ``{t}``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dasladen_spark.operators.dedup import _SPAN_N


# ------------------------------------------------------ exact decimals


def dec(col, scale: int = 4):
    """``col`` (a name or a Column) as exact DECIMAL(18, scale)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


# `l_extendedprice * (1 - l_discount)` as exact decimal: the per-row
# product is deterministic double math; the single cast makes the SUM
# order-independent.
def disc_price():
    return (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )


DISC_PRICE_SQL = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"


# ---------------------------------------------------------------- text

#: DuckDB spelling of functions/text.quality_score
QUALITY_SQL = r"""
    ROUND(
      0.5 * (len(regexp_extract_all({t}, '[A-Za-z]'))
             / greatest(length({t}), 1))
    + 0.25 * greatest(0.0,
        1.0 - (len(regexp_extract_all({t}, '[A-Za-z]'))
                 / greatest(len(regexp_extract_all({t}, '\S+')), 1) - 5.0)
             * (len(regexp_extract_all({t}, '[A-Za-z]'))
                 / greatest(len(regexp_extract_all({t}, '\S+')), 1) - 5.0)
             / 25.0)
    + 0.25 * (len(list_distinct(regexp_extract_all({t}, '\S+')))
              / greatest(len(regexp_extract_all({t}, '\S+')), 1)),
    4)
"""

#: (doc_id, quality) over ``documents``: the text_quality oracle, and
#: the quality CTE of every oracle that ranks or compares the score
DOC_QUALITY_SQL = f"""
    SELECT doc_id, {QUALITY_SQL.format(t='text')} AS quality
    FROM documents
"""

#: DuckDB spelling of functions/text.normalize_text → md5 fingerprint
FP_SQL = (
    r"md5(trim(regexp_replace(regexp_replace(lower({t}),"
    r" '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))"
)


def span_coverage_ctes(src: str) -> str:
    """CTEs ``sh`` … ``cov(doc_id, covered)`` over ``src(doc_id, a)``,
    ``a`` a document's token list: the DuckDB twin of
    operators/dedup.duplicated_span_coverage. Every _SPAN_N-token span
    whose md5 recurs anywhere is an interval; touching intervals merge
    into islands, and ``covered`` is the tokens the islands cover."""
    return rf"""sh AS (
      SELECT doc_id, (u).pos AS pos, md5((u).s) AS h
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a) - {_SPAN_N - 2}),
                 i -> {{'pos': i,
                        's': array_to_string(a[i:i+{_SPAN_N - 1}], ' ')}}))
                 AS u
        FROM {src} WHERE len(a) >= {_SPAN_N}
      )
    ), dup AS (
      SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2
    ), ints AS (
      SELECT doc_id, pos AS s_start, pos + {_SPAN_N} AS s_end
      FROM sh JOIN dup USING (h)
    ), marked AS (
      SELECT doc_id, s_start, s_end,
             MAX(s_end) OVER (PARTITION BY doc_id ORDER BY s_start, s_end
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM ints
    ), isl AS (
      SELECT doc_id, s_start, s_end,
             SUM(CASE WHEN pm IS NULL OR s_start > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s_start, s_end
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      FROM marked
    ), per_isl AS (
      SELECT doc_id, gid, MAX(s_end) - MIN(s_start) AS covered
      FROM isl GROUP BY doc_id, gid
    ), cov AS (
      SELECT doc_id, SUM(covered) AS covered FROM per_isl GROUP BY doc_id
    )"""


# --------------------------------------------------------- similarity


def cosine_sql(a: str, b: str) -> str:
    """DuckDB cosine with double accumulation, matching the Spark
    zip_with/aggregate fold."""
    return (
        f"list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
        f" p -> p[1] * p[2]))"
        f" / (sqrt(list_sum(list_transform({a}::DOUBLE[], x -> x * x)))"
        f" * sqrt(list_sum(list_transform({b}::DOUBLE[], x -> x * x))))"
    )


# ------------------------------------------------------------- k-means

# the registered k-means geometry — single-source for the operator
# calls and the oracle generator
KM_K = 8
KM_ITERS = 4


def kmeans_ctes(
    k: int | str = KM_K,
    iters: int = KM_ITERS,
    fit_fraction: float | None = None,
    fit_salt: str = "kmeans-seed-fit",
) -> str:
    """CTE chain re-deriving the k-means assignment bit-for-bit
    (ends in ``ka{iters+1}(vec_id, cluster)``) — the lattice doctrine
    (operators/pq) in RAW coordinate space: seeds by md5 hash order,
    ``zx = floor(x·Q + 0.5)`` BIGINT coordinates, integer argmin
    distances with lowest-index tie-breaks, ``Σzx/(n·Q)`` means —
    each of the ``iters`` unrolled Lloyd rounds is a pure integer
    computation both engines replay identically.

    The chain is structurally k-INDEPENDENT (k appears only in the
    seed CTE's LIMIT), so ``k`` may also be a SQL expression string
    (e.g. a COUNT(*)-derived step) — the SemDeDup k ∝ corpus-size
    contract stays exactly replayable at any scale."""
    q = "1000000.0::DOUBLE"  # operators/pq.PQ_QUANT
    zdist = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1]-p[2])*(p[1]-p[2])))"
    )
    fit = ""
    fitjoin = ""
    if fit_fraction is not None and 0.0 < fit_fraction < 1.0:
        # the SAME md5-threshold predicate
        # operators/sampling.portable_sample_filter spells Spark-side
        thr = format(int(fit_fraction * 16**8), "08x")
        fit = f""", kfitset AS MATERIALIZED (
      SELECT vec_id FROM kraw
      WHERE substr(md5('{fit_salt}' || CAST(vec_id AS VARCHAR)), 1, 8)
            < '{thr}'
    )"""
        fitjoin = " JOIN kfitset USING (vec_id)"
    parts = [
        f"""
    WITH kraw AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), kzx AS MATERIALIZED (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor(x * {q} + 0.5) AS BIGINT))
               AS zx
      FROM kraw
    ){fit}, kb0 AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY h) - 1 AS c, v AS coef
      FROM (SELECT md5('kmeans-seed' || CAST(vec_id AS VARCHAR)) AS h, v
            FROM kraw{fitjoin} ORDER BY h LIMIT ({k}))
    )"""
    ]
    for r in range(1, iters + 2):
        parts.append(f""", kzb{r - 1} AS MATERIALIZED (
      SELECT c,
             list_transform(coef, x -> CAST(floor(x * {q} + 0.5) AS BIGINT))
               AS zc
      FROM kb{r - 1}
    ), ka{r} AS MATERIALIZED (
      SELECT vec_id, c AS cluster FROM (
        SELECT z.vec_id, b.c,
               ROW_NUMBER() OVER (PARTITION BY z.vec_id
                 ORDER BY {zdist.format(a='z.zx', b='b.zc')} ASC,
                          b.c ASC) AS rn
        FROM kzx z CROSS JOIN kzb{r - 1} b)
      WHERE rn = 1
    )""")
        if r <= iters:
            parts.append(f""", ks{r} AS MATERIALIZED (
      SELECT cluster, i, SUM(zv) AS s, COUNT(*) AS n
      FROM (
        SELECT a.cluster, unnest(generate_series(1, len(z.zx))) AS i,
               unnest(z.zx) AS zv
        FROM ka{r} a JOIN kzx z USING (vec_id){fitjoin})
      GROUP BY 1, 2
    ), kb{r} AS MATERIALIZED (
      SELECT p.c,
             CASE WHEN mm.coef IS NULL THEN p.coef ELSE mm.coef END AS coef
      FROM kb{r - 1} p LEFT JOIN (
        SELECT cluster AS c,
               list(CAST(s AS DOUBLE) / (n * {q}) ORDER BY i) AS coef
        FROM ks{r} GROUP BY cluster) mm USING (c)
    )""")
    return "".join(parts)
