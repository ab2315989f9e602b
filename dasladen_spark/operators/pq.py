"""Product quantization — 32× embedding compression with
asymmetric-distance (ADC) top-k search, on a quantized-integer
lattice so every discrete artifact (codebooks, codes, shortlists)
replays bit-for-bit in plain SQL.

At 100 TB the exact-cosine scan's bottleneck is not FLOPs but BYTES:
a 64-dim float32 embedding is 256 B/row, so the search scan is I/O
bound. PQ splits each (L2-normalized) vector into ``m`` subvectors
and replaces each with the id of its nearest subspace centroid —
``m`` bytes per row (m=8: 32× smaller), so the search scan reads 3%
of the bytes. Query-time scoring is table lookups: for each query,
an m × ksub table of subspace dot products is precomputed ONCE
(driver-side, a few KB), embedded as literals, and each candidate's
approximate cosine is the sum of m lookups — no per-row vector math
at all.

Determinism doctrine (round 9 — the MinHash / hyperplane playbook,
operators/dedup.hyperplane_table_buckets): every float that feeds a
DISCRETE decision is first quantized onto an integer lattice
(``floor(x * Q + 0.5)`` as BIGINT), so sums commute, argmins are
integer comparisons with explicit lowest-index tie-breaks, and the
whole fit → encode → ADC-shortlist pipeline is a pure function of
the corpus that an independent engine (the DuckDB oracle,
plans/vectors._pq_oracle) reproduces EXACTLY:

- normalize: ``xn = v / max(sqrt(S/Q), 1e-12)`` with
  ``S = Σ floor(v_i² · Q + 0.5)`` (BIGINT — order-free); the only
  float ops are one correctly-rounded divide/sqrt per element, so
  ``xn`` is bit-identical everywhere.
- seeds: the ``ksub`` rows with the smallest md5(seed_salt || id)
  ('pq-seed' here; IVF reuses the lattice with its own salt).
- assign: coordinates land on the lattice ONCE —
  ``zx_i = floor(xn_i · Q + 0.5)``, ``zc_i = floor(c_i · Q + 0.5)`` —
  then ``code = argmin_c Σ_i (zx_i - zc_i)²`` is pure BIGINT
  arithmetic (exact, commutative; ties → lowest code index).
- means: per-coordinate ``Σ floor(xn_i · Q + 0.5)`` (BIGINT) divided
  once by ``n · Q`` — one rounding, same bits in Python and SQL;
  empty cells keep their previous centroid.
- ADC: LUT entries and score sums are fixed-order left-assoc chains,
  identical in the driver-built literals and the oracle's generated
  SQL, so shortlist membership and order agree exactly. Only the
  final exact-rerank cosine is a float fold, and it is ROUND()ed
  like every other cosine output.

Execution is pure JVM — no Python worker anywhere (the round-8
pandas-UDF encode/score kernels are gone): the norm is one fold per
row, encode explodes the subspace axis and evaluates flat BIGINT
``(zx - zc)²`` chains over split-string centroid literals inside
whole-stage codegen (see encode_codes_long for the measured
interpreted-HOF / CollapseProject traps this dodges), and ADC is an
``element_at`` chain over LUT literals.

Plan shape (the part that survives a 1000-executor scale-up):

- codebook fit: hash-ordered seed sample + Lloyd iterations whose
  shuffle is (subspace, code, dim)-keyed — m·ksub·dsub rows per
  round, independent of corpus size; only m × ksub × dsub floats
  ever reach the driver.
- encode: one projection over the corpus (m·ksub integer folds per
  row), emitting (id, codes tinyint-sized ints). No shuffle.
- search: ADC scores are a generated per-query expression column
  over the CODES (not the vectors); the per-query top-k window sees
  |Q| × |corpus| candidate rows pre-filtered by nothing but the
  code scan — the same bounded-candidate shape as
  operators/ranking.topk_per_group once a bucketed index
  (operators/ann_index) prunes the corpus side.

Beyond-reference operator (the reference delegates all query power
to an RDBMS, /root/reference/dasladen/task.py:94-107).
"""

from __future__ import annotations

import math
from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dasladen_spark.operators.ranking import rank_per_query

#: The shared lattice quantum. 1e6 keeps every quantized term exact
#: in BIGINT (|xn| ≤ 1 → |zq| ≤ 1e6; squared distances ≤ 4e6·dsub;
#: norms Σ v²·1e6 < 2^53 for any sane embedding) while the 1e-6
#: lattice step is ~10 ulp-orders above double noise and ~10 below
#: anything that could move an ANN ranking.
PQ_QUANT = 1e6

#: Encode-algorithm version, persisted in ann_index meta: bumping it
#: invalidates indexes whose stored codes were produced by an older
#: kernel (round 8's numpy argmax encode is version 1).
PQ_VERSION = 2


def lattice_denom(vec: Column | str) -> Column:
    """The normalization denominator ``max(sqrt(S/Q), 1e-12)`` with
    ``S = Σ floor(x²·Q + 0.5)`` (BIGINT — order-free). The normalized
    vector itself is never materialized as a column: a full
    ``transform(v, x -> x / denom)`` invites CollapseProject to inline
    the O(dim) fold into the per-element lambda (O(dim²)/row,
    interpreted — observed in the first cut's executed plan).
    Consumers project THIS once per row and divide where needed:
    element-wise in a later projection across a Generate boundary
    (encode), or in plain Python after a collect (seeds, query
    LUTs) — IEEE doubles divide identically everywhere."""
    v = (F.col(vec) if isinstance(vec, str) else vec).cast("array<double>")
    s = F.aggregate(
        F.transform(
            v, lambda x: F.floor(x * x * F.lit(PQ_QUANT) + F.lit(0.5))
        ),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )
    return F.greatest(
        F.sqrt(s.cast("double") / F.lit(PQ_QUANT)), F.lit(1e-12)
    )


def collect_normalized(
    df: DataFrame, id_col: str, vec_col: str
) -> list[tuple]:
    """Collected ``[(id, xn)]`` for a SMALL frame (seeds, query
    batches): the denominator comes from :func:`lattice_denom` on the
    JVM, the division happens driver-side — Python float division is
    the same correctly-rounded IEEE op, so the values are bit-equal
    to any engine-side spelling."""
    rows = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        lattice_denom(F.col(vec_col)).alias("_d"),
    ).collect()
    return [
        (r["_id"], [x / r["_d"] for x in r["_v"]]) for r in rows
    ]


def _books_list(books) -> list[list[list[float]]]:
    """Plain-float nested lists from an (m, ksub, dsub) array."""
    return [
        [[float(x) for x in code] for code in sub] for sub in np.asarray(books)
    ]


def _split_lit(values: list[float]) -> str:
    """A double-array literal as ONE string literal + split + cast —
    3 analyzed nodes instead of len+1 (ConstantFolding collapses it
    to the identical array before execution; repr(float) and Spark's
    string→double cast are both correctly rounded — the encoding
    verified bit-identical for hyperplane_table_buckets)."""
    packed = ",".join(repr(float(v)) for v in values)
    return f"cast(split('{packed}', ',') as array<double>)"


def _lat(v: float) -> int:
    """The lattice point of one coordinate: floor(v·Q + 0.5)."""
    return int(math.floor(float(v) * PQ_QUANT + 0.5))


def _zc_lit(zvals: list[int]) -> str:
    """A bigint-array literal (split-string encoded, like
    :func:`_split_lit` — 3 analyzed nodes, constant-folded)."""
    packed = ",".join(str(int(v)) for v in zvals)
    return f"cast(split('{packed}', ',') as array<bigint>)"


def encode_codes_long(
    df: DataFrame, books, vec_col: str
) -> DataFrame:
    """``df``'s other columns + (_pqsalt, _j, _zsl, _code) — one row
    per (input row, subspace), ``_code`` the subspace's nearest-
    centroid code for the RAW vector column ``vec_col`` (consumed;
    normalization happens inside), ``_zsl`` its dsub lattice points
    (``floor((x/denom)·Q + 0.5)`` — exposed because the Lloyd mean
    numerators are exactly Σ of these). Integer argmin with
    lowest-index tie-break: ``array_position(d, array_min(d)) - 1``.

    Execution shape (the hyperplane_table_buckets playbook): the
    normalization denominator is ONE fold per input row in the
    projection BELOW the subspace explode — the Generate is a
    CollapseProject barrier, so the optimizer cannot inline the fold
    into a per-element lambda (the first cut materialized the
    normalized vector as a transform() column; the executed plan
    showed the O(dim) fold collapsed into the element lambda —
    O(dim²)/row interpreted, ~2 ms/row). Above the explode each of
    the m rows quantizes only its dsub slice, and every centroid
    distance is a flat chain of dsub ``(zx - zc)²`` BIGINT terms over
    element_at lookups into the per-code quantized-centroid literals
    (each code's m·dsub lattice points concatenated into one
    split-string literal, indexed by ``_j·dsub + i``) — whole-stage
    codegen for the entire distance/argmin stretch; the only
    interpreted lambdas left are one O(dim) fold and m O(dsub)
    slice-quantizations per input row.

    ``_pqsalt`` (monotonically_increasing_id) makes downstream
    re-grouping safe when ids repeat — encode is per ROW, exactly
    like the per-row kernel it replaced. Null/short vectors yield
    null codes (``try_element_at`` past the slice end is NULL under
    any ANSI setting), they never crash."""
    bl = _books_list(books)
    m = len(bl)
    ksub = len(bl[0])
    dsub = len(bl[0][0])
    keep = [c for c in df.columns if c != vec_col]
    # per-code QUANTIZED centroid layout: zc[c][j*dsub + i] =
    # floor(books[j][c][i] · Q + 0.5)
    zc = [
        [_lat(bl[j][c][i]) for j in range(m) for i in range(dsub)]
        for c in range(ksub)
    ]
    ex = df.select(
        *keep,
        F.monotonically_increasing_id().alias("_pqsalt"),
        F.col(vec_col).cast("array<double>").alias("_pqv"),
        lattice_denom(F.col(vec_col)).alias("_pqdenom"),
    ).select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("_j"),
    )
    ex = ex.select(
        *keep,
        "_pqsalt",
        "_j",
        F.transform(
            F.slice(F.col("_pqv"), F.col("_j") * dsub + F.lit(1), dsub),
            lambda x: F.floor(
                (x / F.col("_pqdenom")) * F.lit(PQ_QUANT) + F.lit(0.5)
            ),
        ).alias("_zsl"),
    )
    # each distance column is ONE generated SQL string (one parse):
    # the Column-API spelling was ~600 py4j round trips per call,
    # ~3 s of pure driver time at m=16·ksub=32. The (element -
    # element) factor appears twice in the text; codegen
    # subexpression elimination evaluates it once.
    def _term(c: int, i: int) -> str:
        # try_element_at: a short input vector must yield NULL codes,
        # not a job-killing INVALID_ARRAY_INDEX — plain element_at
        # only returns NULL past the end with ANSI mode off, and
        # Spark 4.x defaults ANSI on. The codebook literal lookup is
        # always in range by construction.
        diff = (
            f"(try_element_at(_zsl, {i + 1}) -"
            f" element_at({_zc_lit(zc[c])}, _j * {dsub} + {i + 1}))"
        )
        return f"{diff} * {diff}"

    dcols = [
        F.expr(" + ".join(_term(c, i) for i in range(dsub))).alias(
            f"_pqd{c}"
        )
        for c in range(ksub)
    ]
    d = ex.select(*keep, "_pqsalt", "_j", "_zsl", *dcols)
    darr = F.array(*[F.col(f"_pqd{c}") for c in range(ksub)])
    return d.select(
        *keep,
        "_pqsalt",
        "_j",
        "_zsl",
        (F.array_position(darr, F.array_min(darr)) - 1)
        .cast("int")
        .alias("_code"),
    )


def encode_codes(
    df: DataFrame, books, vec_col: str, out_col: str = "codes"
) -> DataFrame:
    """``df``'s other columns + ``out_col`` = array<int> of m nearest-
    centroid codes for the RAW vector column ``vec_col`` (see
    :func:`encode_codes_long` for the kernel). Reassembly is one hash
    aggregate over (other columns, salt) with m fixed-width
    ``min(when(_j = j, _code))`` cells — map-side complete (the salt
    is row-unique and rows never leave their partition through the
    explode), so the exchange carries one row per input row.

    The m codes travel through the aggregate BIT-PACKED into two
    BIGINT sums (7 bits per code, codes < 128 by the ksub guard):
    janino compile time for a fresh plan is the dominant small-batch
    cost, and the 2-cell aggregate compiles ~2 s faster than the
    m-cell ``min(when(...))`` pivot it replaced; it also ships 16
    bytes per row instead of m ints. A null code (null/short input
    vector) nulls the whole array via the count guard rather than
    silently decoding as 0."""
    bl = _books_list(books)
    m, ksub = len(bl), len(bl[0])
    if ksub > 128:
        raise ValueError(
            f"encode_codes: ksub={ksub} exceeds the 7-bit pack limit"
            " (128 centroids per subspace)"
        )
    keep = [c for c in df.columns if c != vec_col]
    long = encode_codes_long(df, books, vec_col).drop("_zsl")
    half = (m + 1) // 2
    if half * 7 > 63:
        # the 2-lane pack holds ceil(m/2) 7-bit codes per BIGINT; at
        # m > 18 the top lane's shiftleft would exceed 63 bits and
        # Java shifts wrap mod 64 — lanes would silently collide into
        # plausible-looking wrong codes. Large m (32, 64 are valid
        # divisors of dim=64) takes the unpacked m-cell pivot: same
        # map-side-complete aggregate, just m int cells on the wire.
        agg = long.groupBy(*keep, "_pqsalt").agg(
            *[
                F.min(
                    F.when(F.col("_j") == j, F.col("_code"))
                ).alias(f"_pqc{j}")
                for j in range(m)
            ],
            F.count("_code").alias("_pqn"),
        )
        return agg.select(
            *keep,
            F.when(
                F.col("_pqn") == m,
                F.array(*[F.col(f"_pqc{j}") for j in range(m)]),
            ).alias(out_col),
        )
    agg = long.groupBy(*keep, "_pqsalt").agg(
        F.expr(
            f"sum(case when _j < {half} then"
            f" shiftleft(cast(_code as bigint), 7 * _j) end)"
        ).alias("_pqp0"),
        F.expr(
            f"sum(case when _j >= {half} then"
            f" shiftleft(cast(_code as bigint), 7 * (_j - {half})) end)"
        ).alias("_pqp1"),
        F.count("_code").alias("_pqn"),
    )
    decode = [
        F.expr(
            f"cast((_pqp{0 if j < half else 1} >>"
            f" (7 * {j if j < half else j - half})) & 127 as int)"
        )
        for j in range(m)
    ]
    return agg.select(
        *keep,
        F.when(F.col("_pqn") == m, F.array(*decode)).alias(out_col),
    )


def with_codes(
    df: DataFrame, books, vec_col: str, out_col: str = "codes"
) -> DataFrame:
    """``df`` with ``vec_col`` replaced by its PQ codes (normalize +
    encode, all JVM) — the shape index builds and appends use."""
    return encode_codes(df, books, vec_col, out_col)


def lattice_lloyd_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
    salt: str,
    fit_fraction: float | None,
    normalize: bool,
    lloyd_round: Callable[[DataFrame, list], list],
    fit_name: str,
    k_name: str = "k",
) -> list[list[float]]:
    """The k × dim centroids of the seeded lattice Lloyd fit — the one
    driver behind k-means (clustering.kmeans_fit), IVF centroids
    (similarity.fit_ivf_centroids) and PQ codebooks
    (:func:`fit_pq_codebooks`), all pure functions of the corpus that
    the SQL oracles re-derive bit-for-bit.

    ``df``'s ``id_col``/``vec_col`` become the cached ``(_id, _v)``
    frame (``fit_fraction``: first kept to a deterministic md5-threshold
    sample salted ``{salt}-fit`` — the 100 TB shape: the fit converges
    long before the full corpus). Seeds are the ``k`` rows with the
    smallest md5(salt || id), a hash-spread sample even when ids
    correlate with content, taken raw or lattice-normalized
    (``normalize``); fewer than ``k`` rows raise, naming ``fit_name``
    and ``k_name``. Each of the ``iters`` rounds is
    ``lloyd_round(base, cent)``: one corpus pass returning
    ``(cell, pos, Σ zx, n)`` lattice sums, so every updated coordinate
    is ``Σ zx / (n·Q)`` — one float division from exact integers. An
    empty cell keeps its previous centroid. Only k × dim floats ever
    reach the driver."""
    from dasladen_spark.operators.sampling import (
        portable_sample_filter,
        validate_fit_fraction,
    )

    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if validate_fit_fraction(fit_fraction):
        # md5-threshold membership (not the xxhash fast path): the
        # SAME predicate spells in ANSI SQL, so the sampled fit is
        # replayable bit-for-bit by the DuckDB oracle
        # (plans/vectors._pq_oracle fit_fraction)
        base = base.filter(
            portable_sample_filter(F.col("_id"), fit_fraction, salt=f"{salt}-fit")
        )
    # one narrow projection consumed iters+1 times — cache it so the
    # Lloyd rounds hit memory, not the parquet (the kcenter pattern)
    base = base.persist()
    try:
        seeds = base.orderBy(
            F.md5(F.concat(F.lit(salt), F.col("_id").cast("string")))
        ).limit(k)
        if normalize:
            cent = [xn for _sid, xn in collect_normalized(seeds, "_id", "_v")]
        else:
            cent = [[float(x) for x in r["_v"]] for r in seeds.collect()]
        if len(cent) < k:
            raise ValueError(
                f"{fit_name}: corpus has {len(cent)} rows,"
                f" needs at least {k_name}={k}"
            )
        for _ in range(iters):
            for cell, pos, total, n in lloyd_round(base, cent):
                cent[cell][pos] = total / (n * PQ_QUANT)
        return cent
    finally:
        base.unpersist()


def fit_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    seed_salt: str = "pq-seed",
    fit_fraction: float | None = None,
) -> np.ndarray:
    """Fit an (m, ksub, dim/m) codebook tensor over lattice-normalized
    vectors — :func:`lattice_lloyd_fit` with ``ksub`` seeds (salt
    ``seed_salt``) sliced per subspace. Each Lloyd round is ONE corpus
    pass (the encode expression assigns all m subspaces at once) plus a
    (subspace, code, dim)-keyed BIGINT mean — m·ksub·dsub ≈ a few
    thousand shuffle rows regardless of corpus size. ``fit_fraction``
    fits on a deterministic id-hash sample while encode still covers
    every row; the books stay a pure function of (corpus, fraction)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    def books_of(cent: list) -> list:
        # codeword c of subspace j is seed/centroid c's j-th dsub slice
        return [[row[j * dsub:(j + 1) * dsub] for row in cent] for j in range(m)]

    def lloyd_round(base: DataFrame, cent: list) -> list:
        # the mean pass consumes the LONG (row, subspace, code) form
        # directly — the numerators are exactly the Σ of the lattice
        # points the encode already computed (_zsl), so no second
        # normalization pass exists
        stats = (
            encode_codes_long(base.drop("_id"), books_of(cent), "_v")
            .select("_j", "_code", F.posexplode("_zsl").alias("_rel", "_zx"))
            .groupBy("_j", "_code", "_rel")
            .agg(F.sum("_zx").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        return [
            (r["_code"], r["_j"] * dsub + r["_rel"], r["_s"], r["_n"])
            for r in stats
        ]

    cent = lattice_lloyd_fit(
        corpus, id_col, vec_col, ksub, iters, seed_salt, fit_fraction,
        normalize=True, lloyd_round=lloyd_round,
        fit_name="fit_pq_codebooks", k_name="ksub",
    )
    return np.array(books_of(cent), np.float64)


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(neighbor_id, codes) — the 32×-compressed corpus
    representation, pure JVM."""
    return with_codes(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
        ),
        books,
        "_cv",
    )


def normalized_query_rows(
    queries: DataFrame, query_id: str = "vec_id", query_vec: str = "embedding"
):
    """Collected [(query_id, qn)] with the denominator from the SAME
    JVM fold the corpus encode uses (:func:`lattice_denom`) — keeps
    driver-built LUTs bit-aligned with corpus-side codes."""
    return collect_normalized(queries, query_id, query_vec)


def query_lut(books, qn_rows) -> tuple[list, list]:
    """(query ids, LUT[q][j][c] = qn_sub_j · books[j][c]) for
    normalized query rows — sequential left-assoc dot (w = t₀; w += tᵢ),
    the SAME chain the oracle's generated SQL evaluates, so LUT
    doubles are bit-identical across engines."""
    bl = _books_list(books)
    m, ksub, dsub = len(bl), len(bl[0]), len(bl[0][0])
    q_ids, lut = [], []
    for qid, qn in qn_rows:
        q_ids.append(qid)
        tabs = []
        for j in range(m):
            row = []
            for c in range(ksub):
                coefs = bl[j][c]
                w = qn[j * dsub] * coefs[0]
                for i in range(1, dsub):
                    w = w + qn[j * dsub + i] * coefs[i]
                row.append(float(w))
            tabs.append(row)
        lut.append(tabs)
    return q_ids, lut


def _adc_chain_sql(lut_q: list[list[float]], codes_col: str) -> str:
    """ADC score for one query as ONE SQL text fragment: a fixed-order
    left-assoc chain (SQL ``+`` parses left-assoc, same tree the old
    Column loop built) of m ``element_at(LUT_j, code_j + 1)`` lookups
    over split-string LUT literals — pure codegen, bit-identical to
    the oracle's chain. Text, not Column API: the Column spelling was
    ~32 py4j round trips per chain (~1.3 s of pure driver time per
    10-query batch, profiled round 10); the text parses JVM-side in
    one call."""
    return " + ".join(
        f"element_at({_split_lit(lut_q[j])},"
        f" element_at(`{codes_col}`, {j + 1}) + 1)"
        for j in range(len(lut_q))
    )


def _adc_chain(lut_q: list[list[float]], codes_col: str) -> Column:
    """Column form of :func:`_adc_chain_sql` (one JVM-side parse)."""
    return F.expr(_adc_chain_sql(lut_q, codes_col))


def _require_int_id(qid) -> int:
    """Enforce the integer-query-id contract (bool is not an id; a
    float 7.9 must not silently truncate to 7, a string '7' must not
    silently coerce)."""
    if isinstance(qid, bool) or not isinstance(qid, (int, np.integer)):
        raise TypeError(
            f"query_id must be an integer, got {type(qid).__name__}: {qid!r}"
        )
    return int(qid)


def _sql_id_lit(qid) -> str:
    """A query-id value as a SQL literal (bigint or quoted string).

    Strings containing a quote or backslash are spelled as
    ``cast(unbase64('…') as string)``: there is NO quoting spelling
    that parses identically under both settings of
    spark.sql.parser.escapedStringLiterals (measured on Spark 4.1 —
    legacy mode keeps both ``\\'`` and ``''`` literally), but the
    base64 alphabet needs no escaping in either mode."""
    if isinstance(qid, str):
        if "'" not in qid and "\\" not in qid:
            return f"'{qid}'"
        import base64

        b64 = base64.b64encode(qid.encode("utf-8")).decode("ascii")
        return f"cast(unbase64('{b64}') as string)"
    return f"{_require_int_id(qid)}L"


def adc_score_expr(
    q_ids: list, lut: list, qid_col: str = "query_id", codes_col: str = "codes"
) -> Column:
    """ADC score column for a candidate frame that already carries a
    query-id column: a CASE/WHEN over the (small, collected) query
    batch, each branch one :func:`_adc_chain_sql` — the whole CASE is
    one generated SQL text (one parse; the ``when().when()`` Column
    stack was a py4j round trip per branch)."""
    branches = " ".join(
        f"WHEN `{qid_col}` = {_sql_id_lit(qid)}"
        f" THEN {_adc_chain_sql(lut_q, codes_col)}"
        for qid, lut_q in zip(q_ids, lut)
    )
    return F.expr(f"CASE {branches} END")


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    books: np.ndarray,
    k: int = 5,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k by asymmetric distance: queries stay exact,
    corpus rows are reconstructed implicitly through the LUT.

    Contract: ``query_id`` values must be integers (BIGINT) — each id
    is baked into the generated ``stack()`` literal as ``{id}L``.
    Non-integer ids raise here rather than mis-typing the output.

    The query batch is collect()ed (queries are the small side by
    construction — the same contract as similarity.cosine_topk); the
    code scan gets one generated score column per query (an
    element_at chain over LUT literals — no join, no Python), stacked
    to (query_id, neighbor_id, adc_score) rows feeding the per-query
    top-k window."""
    qn_rows = normalized_query_rows(queries, query_id, query_vec)
    if not qn_rows:
        return codes.sparkSession.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, adc_score double"
        )
    q_ids, lut = query_lut(books, qn_rows)
    score_cols = [
        _adc_chain(lut[i], "codes").alias(f"_s{i}") for i in range(len(q_ids))
    ]
    scored = codes.select("neighbor_id", "codes", *score_cols)
    stack = ",".join(
        f"{_require_int_id(qid)}L, _s{i}" for i, qid in enumerate(q_ids)
    )
    cand = scored.select(
        "neighbor_id",
        F.expr(
            f"stack({len(q_ids)}, {stack}) as (query_id, adc_score)"
        ),
    ).select("query_id", "neighbor_id", "adc_score")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    return rank_per_query(cand, "adc_score", k).select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round("adc_score", 6).alias("adc_score"),
    )


def exact_rerank(
    short: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, neighbor_id) shortlist:
    the tiny shortlist broadcasts onto the corpus scan (a semi-join-
    shaped vector fetch of |Q|·shortlist rows), queries broadcast on
    top, one window per query. The single shared spelling of the
    re-rank stage — used by pq_topk_reranked and the PQ-compressed
    materialized index. Output: (query_id, rank, neighbor_id,
    cosine)."""
    from dasladen_spark.functions.vectors import cosine_sim

    qv = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        cv.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    return rank_per_query(scored, "cosine", k).select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
    )


def pq_topk_reranked(
    queries: DataFrame,
    corpus: DataFrame,
    codes: DataFrame,
    books: np.ndarray,
    k: int = 5,
    rerank_mult: int = 4,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ shape: ADC over the compressed codes selects
    a ``k × rerank_mult`` shortlist per query (the 100 TB scan reads
    only code bytes), then ONLY the shortlist rows fetch their full
    vectors — |Q| × k × rerank_mult of them, via a broadcast-
    candidate join — for an exact-cosine re-rank. Approximation
    error then only matters below the shortlist boundary, so recall
    recovers most of the gap to exact search at a fraction of the
    I/O. Output schema matches the other ANN paths:
    (query_id, rank, neighbor_id, cosine)."""
    short = pq_adc_topk(
        queries,
        codes,
        books,
        k=k * rerank_mult,
        query_id=query_id,
        query_vec=query_vec,
    ).select("query_id", "neighbor_id")
    return exact_rerank(
        short,
        queries,
        corpus,
        k,
        query_id=query_id,
        query_vec=query_vec,
        id_col=id_col,
        vec_col=vec_col,
    )
