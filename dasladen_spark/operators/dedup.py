"""Deduplication operators for training-data pipelines.

All variants are expressed as DataFrame plans whose only wide
operations are key-hash shuffles — the shapes that survive a 100 TB
corpus:

- exact          — one shuffle on the (hashed) key
- MinHash + LSH  — signatures as explode + N codegen'd min-aggregates
                   (pure JVM, map-side combinable), explode bands,
                   shuffle on (band, bucket) buckets only
- SimHash        — bit votes as explode + per-bit codegen'd sum-
                   aggregates, 60-bit fingerprint, chunked banding
- n-gram Jaccard — shingle inverted index with a document-frequency
                   cap so hot shingles can't quadratically explode
- embedding cosine — brute pairs for small blocks, random-hyperplane
                   LSH buckets as the scale path

Hash constants are fixed (seeded) so every run — and every executor —
produces identical signatures, and the content hash is md5-derived
(``conv(substring(md5(x), 1, 8), 16, 10)``) so ANY engine can replay
it bit-for-bit — that is what makes dedup_minhash_lsh / dedup_simhash
exactly oracle-checkable in DuckDB. All arithmetic stays under 2^62
so Spark 4 ANSI mode can never hit bigint overflow.
"""

from __future__ import annotations

import random
from functools import lru_cache, reduce
from operator import add

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dasladen_spark.functions.text import tokens_col
from dasladen_spark.operators.intervals import merge_intervals

_MERSENNE31 = 2147483647  # 2^31 - 1
_SEED = 42


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Ensure per-row heavy compute is spread across the cluster: a
    small single-file scan otherwise runs the whole signature stage
    on one core. No-op (cheap round-robin) when the input is already
    wide."""
    current = df.rdd.getNumPartitions()
    target = df.sparkSession.sparkContext.defaultParallelism
    if current < target:
        return df.repartition(target, F.col(id_col))
    return df


MAX_BUCKET = 256  #: all-pairs bound per LSH bucket; larger → star pairs


def _expand_sorted_members(members: DataFrame, payload_col: str) -> DataFrame:
    """``ms`` (sorted array<struct<id, payload>>) → one row per i<j
    member pair as ``a``/``b`` structs. Two chained Generates
    (posexplode a, then explode the tail for b) rather than one giant
    nested-lambda pair expression — same result, far smaller codegen
    units. Shared by the LSH bucket pairing and the duplicated-spans
    seed pairing so the expansion idiom lives once."""
    left = members.select("ms", F.posexplode(F.col("ms")).alias("i", "a"))
    return left.select(
        F.col("a").alias("a"),
        F.explode(
            F.slice(F.col("ms"), F.col("i") + 2, F.size(F.col("ms")))
        ).alias("b"),
    )


def _bucket_pairs(
    exploded: DataFrame,
    bucket_cols: list[str],
    payload_col: str | None,
    max_bucket: int | None = MAX_BUCKET,
) -> DataFrame:
    """(id, <payload>, bucket...) → member pairs per bucket:
    (id_a, id_b, payload_a, payload_b).

    ``payload_col=None`` emits BARE (id_a, id_b) pairs. Use it
    whenever the payload is wide (a 64-long MinHash signature, an
    embedding vector): a candidate pair survives in ~1/bands of its
    bucket duplicates, so shipping payloads through PAIR space
    multiplies the widest column by the duplication factor — on a
    duplicate-heavy corpus that is the difference between a 10 GB and
    a 400 GB shuffle (the sf10 fixture's 101-replica cliques filled
    the local disk through exactly this path). Callers join the
    payload back AFTER dropDuplicates, paying one corpus-sized join
    per side instead — linear in n, not in bucket-duplicated pairs.

    One hash shuffle on the bucket key; pairs are generated in place
    with codegen-friendly array ops, so upstream per-row signatures
    are computed exactly once. Buckets up to ``max_bucket`` emit all
    i<j pairs; LARGER buckets emit STAR pairs (lowest id vs every
    other member) — for SIGNATURE buckets (MinHash band slices,
    SimHash chunks) a bucket that big is a near-duplicate cluster,
    and the star keeps it CONNECTED for the downstream
    connected-components survivor pass while bounding fan-out
    linearly, where all-pairs would go quadratic on corpus
    boilerplate (a million empty docs share every band). Both engines
    replay the same rule (the DuckDB oracles join the bucket-size
    table and keep a pair iff cnt ≤ max_bucket OR id_a is the bucket
    minimum).

    ``max_bucket=None`` disables the star degrade (plain all-pairs
    per bucket). Callers whose bucket key does NOT imply similarity —
    hyperplane hash buckets, where the hub member may fail the exact
    re-check that follows while spoke pairs would pass — must opt
    out: for them a hot bucket is a hash-width tuning problem
    (more tables / more bits), not a duplicate cluster."""
    member = (
        F.struct(F.col("id"))
        if payload_col is None
        else F.struct(F.col("id"), F.col(payload_col))
    )
    if max_bucket is None:
        members = (
            exploded.groupBy(*[F.col(c) for c in bucket_cols])
            .agg(F.array_sort(F.collect_list(member)).alias("ms"))
            .filter(F.size("ms") > 1)
        )
        pairs = _expand_sorted_members(members, payload_col)
    else:
        # bucket size + min member come from WINDOW aggregates
        # (spill-safe for arbitrarily hot buckets); only ≤ max_bucket
        # buckets ever reach collect_list as a WHOLE — each member of
        # a larger bucket rides through the aggregate as its OWN
        # group (the ``_sk`` self key), so no task buffers an
        # unbounded member list. Prepending the bucket minimum to
        # those singleton groups lets the ONE i<j expansion below
        # emit the star pairs too. The previous two-branch union
        # (all-pairs ∪ star) re-exploded and re-shuffled the banded
        # rows once per branch — Catalyst prunes the branches'
        # columns differently, so exchange reuse never fired and the
        # bucket shuffle ran twice (r12 plan audit: Exchange(12) and
        # Exchange(29) over identical Generate subtrees).
        w = Window.partitionBy(*[F.col(c) for c in bucket_cols])
        sized = (
            exploded.withColumn("_cnt", F.count(F.lit(1)).over(w))
            .withColumn("_mn", F.min(member).over(w))
            .filter(F.col("_cnt") > 1)
        )
        # same-bucket grouping keys extend the window's partitioning,
        # so the aggregate reuses the one bucket exchange
        grouped = sized.groupBy(
            *[F.col(c) for c in bucket_cols],
            F.when(F.col("_cnt") > max_bucket, F.col("id")).alias("_sk"),
        ).agg(
            F.array_sort(F.collect_list(member)).alias("_ms0"),
            F.first("_cnt").alias("_bc"),
            F.first("_mn").alias("_bmn"),
        )
        # star groups hold one member; [min, member] is already
        # sorted (min.id < member.id), and the min's own singleton
        # stays size-1 → emits nothing, exactly the old star filter
        ms = F.when(
            (F.col("_bc") > max_bucket)
            & (F.col("_ms0")[0]["id"] != F.col("_bmn")["id"]),
            F.concat(F.array(F.col("_bmn")), F.col("_ms0")),
        ).otherwise(F.col("_ms0"))
        members = grouped.select(ms.alias("ms")).filter(F.size("ms") > 1)
        pairs = _expand_sorted_members(members, payload_col)
    cols = [
        F.col("a")["id"].alias("id_a"),
        F.col("b")["id"].alias("id_b"),
    ]
    if payload_col is not None:
        cols += [
            F.col("a")[payload_col].alias(f"{payload_col}_a"),
            F.col("b")[payload_col].alias(f"{payload_col}_b"),
        ]
    return pairs.select(*cols)


def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str
) -> DataFrame:
    """Keep exactly one row (lowest ``id_col``) per duplicate group.
    One shuffle on the key columns; ties broken deterministically."""
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------- MinHash


def _hash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    rng = random.Random(_SEED)
    # a,b < 2^20 and shingle hash < 2^32 keep a*h+b < 2^52 (ANSI-safe)
    return [
        (rng.randrange(1, 1 << 20), rng.randrange(0, 1 << 20))
        for _ in range(num_hashes)
    ]


def _char_shingles(text_col: str, shingle_len: int):
    """Distinct character shingles, JVM-side (transform over a
    position sequence — no Python)."""
    t = F.col(text_col)
    n = F.greatest(F.length(t) - F.lit(shingle_len - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.substring(t, i, shingle_len),
        )
    )


def portable_md5_int(col, hex_chars: int = 8) -> F.Column:
    """Engine-portable content hash: the first ``hex_chars`` hex
    chars of md5 as a bigint (4 bits each; keep ≤ 15 so the value
    fits a signed 64-bit). DuckDB mirror:
    ``CAST(('0x' || substr(md5(x), 1, <hex_chars>)) AS BIGINT)``.
    The single definition both signature families hash with — a
    change here must change the dedup_minhash_lsh / dedup_simhash
    oracles in plans/dedup.py in lockstep."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("bigint")


def portable_hash32(col) -> F.Column:
    """32-bit variant (8 hex chars): values in [0, 2^32), so
    ``a*h+b`` with 20-bit coefficients stays < 2^52 — ANSI-safe for
    the MinHash permutation arithmetic."""
    return portable_md5_int(col, 8)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_len: int = 5,
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — pure-JVM, oracle-exact.

    Execution shape: explode shingle POSITIONS (Generate), hash each
    shingle once with the portable md5-derived 32-bit hash, then one
    hash-aggregate on the doc id with ``num_hashes`` codegen'd
    ``min((a_k*h + b_k) % P)`` columns. Everything — substring, md5,
    the permutation arithmetic, the partial min — runs inside
    whole-stage codegen with map-side combine, so the shuffle carries
    only ``num_hashes`` longs per document (not the shingles). This
    replaces the round-7 pandas-UDF kernel: no Python anywhere, and
    because the hash is md5-derived the signature — hence the whole
    LSH pipeline — replays bit-for-bit in DuckDB (the exact oracle).
    The naive HOF formulation (nested transform/aggregate lambdas) is
    NOT used: Catalyst's lambdas are interpreted, ~100× slower than
    this aggregate plan.

    Min over duplicate shingles is idempotent, so no distinct pass is
    needed. Every doc yields ≥ 1 shingle (short texts shingle to
    themselves, null → ''), so the aggregate preserves all ids.
    """
    coeffs = _hash_coeffs(num_hashes)
    base = _spread(df, id_col)
    t = F.coalesce(F.col(text_col), F.lit(""))
    n = F.greatest(F.length(t) - F.lit(shingle_len - 1), F.lit(1))
    pos = base.select(
        F.col(id_col).alias("id"),
        t.alias("_t"),
        F.explode(F.sequence(F.lit(1), n)).alias("_i"),
    )
    hashed = pos.select(
        "id",
        portable_hash32(
            F.substring(F.col("_t"), F.col("_i"), F.lit(shingle_len))
        ).alias("_h"),
    )
    # one SQL string for the whole signature: the per-permutation
    # Column-object spelling costs ~10 py4j round-trips per k (the
    # listcomp alone measured 1.2 s of DRIVER time per plan build at
    # num_hashes=64); one F.expr is one round-trip and analyzes to the
    # IDENTICAL expressions (int literals promote against the bigint
    # _h exactly as F.lit ints do), so the signature bits — and the
    # DuckDB oracle — are unchanged. array(min...) rides the aggregate
    # as its result projection, same physical agg buffer as before.
    sig_sql = "array({}) as sig".format(
        ",".join(
            f"min(({a} * _h + {b}) % {_MERSENNE31})" for a, b in coeffs
        )
    )
    return hashed.groupBy("id").agg(F.expr(sig_sql))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_len: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Candidate pairs from banded LSH, scored by signature-equality
    (the MinHash Jaccard estimate), filtered at ``threshold``.

    Wide ops: explode → shuffle on (band, bucket); each bucket joins
    only within itself — the standard near-linear dedup shape. The
    bucket key is the band's signature slice rendered as a '-'-joined
    string (``array_to_string`` in DuckDB), NOT an opaque engine hash
    — so bucket membership, hence the candidate set itself, is
    bit-replayable by the SQL oracle, and a bucket collision can only
    mean true slice equality.

    Pair generation is PAYLOAD-FREE: buckets emit bare (id_a, id_b),
    the cross-band dropDuplicates shuffles 16-byte rows, and the two
    64-long signatures join back onto the DISTINCT pairs (sigs is
    persisted, so the signature aggregate still runs once). Shipping
    sigs through pair space instead multiplies ~0.5 KB by the
    bucket-duplication factor — measured 400 GB of spill (disk-full
    crash) on the sf10 fixture's 101-replica cliques — and pays the
    interpreted zip_with estimate per DUPLICATE instead of per pair.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_len
    ).persist()

    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.concat_ws(
                "-",
                F.slice(
                    F.col("sig"), b * rows_per_band + 1, rows_per_band
                ).cast("array<string>"),
            ).alias("bucket"),
        ),
    )
    exploded = sigs.select("id", F.explode(band_arr).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )

    # Single-pass bucket pairing: a naive self-join on (band, bucket)
    # runs the whole signature aggregate once per join side (no
    # exchange to reuse under BHJ) — at 100 TB that doubles the most
    # expensive stage. Instead: one shuffle to the bucket, collect
    # the (tiny) member list, emit i<j id pairs in place.
    pairs = _bucket_pairs(exploded, ["band", "bucket"], None).dropDuplicates(
        ["id_a", "id_b"]
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(float(num_hashes))
    return (
        pairs.join(
            sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


# ---------------------------------------------------------------- SimHash


SIMHASH_BITS = 60  #: fingerprint width (fits the 15-hex-char md5 hash)


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, fingerprint: long) — 60-bit SimHash over whitespace
    tokens, pure JVM and oracle-exact.

    Execution shape: explode tokens (Generate), hash each token once
    with the portable 60-bit md5 hash (15 hex chars → bigint), then
    one hash-aggregate on the doc id with 60 codegen'd
    ``sum(2*bit_k - 1)`` vote columns; the fingerprint folds the vote
    signs back into one long. Map-side combine keeps the shuffle at
    60 longs per doc. Docs with no tokens (empty/whitespace text)
    fingerprint to 0 via the left join — same contract as the old
    pandas kernel. The md5-derived bits make the fingerprint — hence
    the banded pair set — bit-replayable in DuckDB
    (``(h >> k) & 1`` on the same hex-substring cast)."""
    ids = df.select(F.col(id_col).alias("id"))
    toks = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), F.lit(0))
        ).alias("_tok"),
    )
    h = toks.select(
        "id", portable_md5_int(F.col("_tok"), 15).alias("_h")
    )
    votes = h.groupBy("id").agg(
        *[
            F.sum(
                F.shiftright(F.col("_h"), k).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"_v{k}")
            for k in range(SIMHASH_BITS)
        ]
    )
    fp = reduce(
        add,
        [
            (F.col(f"_v{k}") > 0).cast("long") * F.lit(1 << k)
            for k in range(SIMHASH_BITS)
        ],
    )
    voted = votes.select("id", fp.alias("fingerprint"))
    return ids.join(voted, "id", "left").select(
        "id", F.coalesce("fingerprint", F.lit(0).cast("long")).alias("fingerprint")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(fp_a, fp_b) <= max_hamming.

    Banding: split the 60-bit fingerprint into 4 chunks of 15 bits;
    by pigeonhole any pair within Hamming distance 3 shares at least
    one exact chunk, so candidates reduce to per-(chunk-index,
    chunk-value) buckets — a key shuffle, not a cross join. At larger
    ``max_hamming`` the semantics are DEFINED as banded-candidates ∩
    Hamming filter (the standard recall/cost trade), and the oracle
    mirrors exactly that. Buckets beyond MAX_BUCKET degrade to star
    pairs (see _bucket_pairs) — the pigeonhole completeness guarantee
    therefore holds among buckets up to that size; a hotter bucket is
    boilerplate-grade duplication where bounded fan-out matters more
    than the exhaustive pair list."""
    fps = simhash(df, text_col, id_col)
    chunk = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda i: F.struct(
            i.alias("ci"),
            F.call_function("shiftright", F.col("fingerprint"), i * 15)
            .bitwiseAND(F.lit(0x7FFF))
            .alias("cv"),
        ),
    )
    exploded = fps.select(
        "id", "fingerprint", F.explode(chunk).alias("c")
    ).select("id", "fingerprint", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))

    pairs = _bucket_pairs(exploded, ["ci", "cv"], "fingerprint")
    return (
        pairs.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("fingerprint_a").bitwiseXOR(F.col("fingerprint_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 10000,
) -> DataFrame:
    """Exact Jaccard over word n-gram shingle sets via an inverted
    index: explode shingles → shuffle on shingle → per-shingle pair
    expansion → count common shingles per pair.

    ``max_df`` drops shingles occurring in more than that many
    documents — at 100 TB a stop-shingle ("of the and") would expand
    quadratically; capping DF bounds every bucket.
    """
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    count = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.slice(tokens, i + 1, n))
            ),
        )
    )
    docs = df.select(F.col(id_col).alias("id"), shingles.alias("sh")).withColumn(
        "n_sh", F.size("sh")
    )
    # explode_OUTER + null filter, not plain explode: explode over a
    # staged attribute lets InferFiltersFromGenerate add size(sh) > 0,
    # which PushDownPredicates re-inlines through the projection — a
    # Filter that rebuilds the whole shingle array (split re-evaluated
    # per lambda element, O(n²) in token count) just to test its size.
    # The shingle array is never empty by construction (count >= 1),
    # so the outer variant emits no extra rows and the null filter on
    # the generate OUTPUT cannot be pushed below the Generate.
    inv = docs.select(
        "id", "n_sh", F.explode_outer("sh").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    if max_df is not None:
        inv = (
            inv.withColumn(
                "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("df") <= max_df)
            .drop("df")
        )
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            on=[F.col("a.shingle") == F.col("b.shingle"), F.col("a.id") < F.col("b.id")],
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return common.select(
        "id_a",
        "id_b",
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


# ------------------------------------------------- winnowing (MOSS)
#
# Position-local fingerprint dedup (Schleimer/Wilkerson/Aiken, SIGMOD
# 2003): hash every k-token shingle, keep the minimum hash of each
# w-window. Unlike MinHash (a random projection of the WHOLE doc),
# any shared run of ≥ k+w-1 tokens is GUARANTEED to surface a shared
# fingerprint — the guarantee plagiarism / license-contamination
# audits need. Defaults shared with the dedup_winnowing query and its
# DuckDB oracle (plans/dedup).

WINNOW_K = 4  #: shingle width in tokens
WINNOW_W = 4  #: winnowing window in hashes
WINNOW_MAX_DF = 16  #: hub-fingerprint cap for the pair join
WINNOW_MIN_SHARED = 3  #: pair-report floor


def kgram_hashes(toks, k: int = WINNOW_K):
    """Column expr: md5 hex of every k-token shingle of a token-array
    Column — JVM-side only (sequence / transform / slice / md5)."""
    n = F.size(toks)
    # greatest(...) keeps sequence() ascending even when the guard
    # branch is not taken (sequence(1, n) DESCENDS for n < 1)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))


def window_mins(hashes, w: int = WINNOW_W):
    """Column expr: robust-winnowing selection over a hash-array
    Column — the MIN md5 hex of each window of ``w`` consecutive
    k-gram hashes, de-duplicated. Arrays with fewer hashes than one
    window contribute their single overall min; empty arrays
    contribute nothing. The md5-hex min is a pure string comparison —
    identical in Spark and DuckDB."""
    nh = F.size(hashes)
    return F.when(
        nh >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(nh - w + 1, F.lit(1))),
                lambda j: F.array_min(F.slice(hashes, j, w)),
            )
        ),
    ).otherwise(
        F.when(nh > 0, F.array(F.array_min(hashes))).otherwise(
            F.array().cast("array<string>")
        )
    )


def winnow_fps_expr(text_col: str, k: int = WINNOW_K, w: int = WINNOW_W):
    """Column expr: winnowed fingerprint set (array<string>) of a
    space-tokenized text column, as ONE nested expression. Fine for
    unit tests and tiny frames; production paths must use
    ``winnow_fingerprints`` instead — higher-order-function lambdas
    get no codegen or common-subexpression elimination, so nesting
    the k-gram transform inside the window-min lambda re-evaluates
    the ENTIRE hash array at every window position (O(n²) md5s per
    doc, the round-6 183s-bench lesson)."""
    return window_mins(kgram_hashes(F.split(F.col(text_col), " "), k), w)


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """(id, text) frame → exploded (id, fp) winnowed-fingerprint
    frame, with the token array, the k-gram hash array, and the
    fingerprint set each materialized as a NAMED column in its own
    projection. Each alias is multiply-referenced and non-cheap, so
    Catalyst's CollapseProject keeps the stages separate and every
    array is computed exactly once per row — O(n·k) md5s per doc,
    versus O(n²·k) when the hash transform is re-inlined into the
    window-min lambda (HOF lambdas get no subexpression
    elimination).

    The explode is the OUTER variant plus an explicit null filter
    above the Generate: a plain ``explode`` over a staged attribute
    lets InferFiltersFromGenerate add ``size(_fps) > 0`` which
    PushDownPredicates then re-inlines through all three projections
    — one giant per-row filter recomputing the whole O(n²) nested
    expression, silently undoing the staging. ``explode_outer``
    infers nothing, and a predicate on the generate OUTPUT column
    can never be pushed below the Generate."""
    toks = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    hashed = toks.select(id_col, kgram_hashes(F.col("_toks"), k).alias("_hashes"))
    fps = hashed.select(id_col, window_mins(F.col("_hashes"), w).alias("_fps"))
    return fps.select(
        id_col, F.explode_outer("_fps").alias("fp")
    ).filter(F.col("fp").isNotNull())


def winnowing_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_df: int = WINNOW_MAX_DF,
    min_shared: int = WINNOW_MIN_SHARED,
    scratch: list | None = None,
) -> DataFrame:
    """Near-duplicate pairs by winnowed fingerprints → (doc_a, doc_b,
    shared_fps, containment) with doc_a < doc_b.

    Scale shape: fingerprinting is one embarrassingly-parallel
    JVM-only staged projection, subsampling shingles ~2/(w+1) before
    anything shuffles; the pair join is fp-keyed with a ``max_df``
    hub cap (a fingerprint shared by more docs than the cap is corpus
    boilerplate, not a dup signal — the same stop-shingle device as
    minhash_lsh_pairs), so join fan-out per key is bounded by
    construction. Containment denominators use the PRE-cap
    fingerprint counts, so a hub-capped pair can never report
    inflated similarity. The exploded fingerprint frame feeds FOUR
    plan branches (sizes, df, both join sides) — persisted so
    fingerprinting runs once, not 7-8×. Long-lived callers that run
    the result eagerly (streaming micro-batch sinks) should pass a
    ``scratch`` list and unpersist its entries after their actions,
    or each micro-batch leaks one cached fingerprint frame."""
    e = winnow_fingerprints(docs, id_col, text_col, k, w).persist()
    if scratch is not None:
        scratch.append(e)
    sizes = e.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    df_ = e.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
    good = (
        e.join(df_, "fp")
        .filter(F.col("n_docs") <= max_df)
        .select(id_col, "fp")
    )
    a = good.select(F.col(id_col).alias("doc_a"), "fp")
    b = good.select(F.col(id_col).alias("doc_b"), "fp")
    pairs = (
        a.join(b, on=[a.fp == b.fp, F.col("doc_a") < F.col("doc_b")])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("fp_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("fp_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            F.round(
                F.col("shared_fps") / F.least("fp_a", "fp_b").cast("double"),
                6,
            ).alias("containment"),
        )
    )


# ------------------------------------- exact duplicated-span coverage

_SPAN_N = 8  # tokens per shingle


def duplicated_span_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = _SPAN_N,
    min_count: int = 2,
) -> DataFrame:
    """Per-document fraction of token positions covered by a token
    ``span``-gram occurring ≥ ``min_count`` times corpus-wide — the
    exact substring-duplication metric behind span-level dedup
    (near-dup detectors miss partial template reuse; this measures
    it position-exactly).

    Scale shape: shingles are built inside the row with
    ``transform(sequence(...))`` over the token array (no shuffle,
    no UDF) and reduced to (doc, pos, hash) before anything wide
    runs; ONE hash-keyed shuffle both counts global occurrences and
    keeps the duplicated positions — a window count over ``h``
    (spill-safe for arbitrarily hot boilerplate shingles) replaces
    the previous groupBy + self-equi-join, which ran the whole
    tokenize+md5 shingling projection TWICE (r12 job profile: the
    two ~1 s single-stage jobs of the funnel's s4 stage were the two
    scans feeding the count exchange and the join exchange). The
    interval union (operators/intervals.merge_intervals) stays a
    single doc-keyed exchange. Returns (id, n_tokens,
    covered_tokens, dup_coverage) for every input doc (0.0 where
    nothing repeats)."""
    base = docs.select(
        F.col(id_col).alias("__id"), tokens_col(text_col).alias("__a")
    ).withColumn("__n", F.size("__a"))
    sh = (
        base.filter(F.col("__n") >= span)
        .select(
            "__id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(__a) - {span - 1}),"
                    f" i -> struct(i AS pos,"
                    f" md5(concat_ws(' ', slice(__a, i, {span}))) AS h))"
                )
            ).alias("sg"),
        )
        .select("__id", F.col("sg.pos").alias("pos"), F.col("sg.h").alias("h"))
    )
    w = Window.partitionBy("h")
    ints = (
        sh.withColumn("__cnt", F.count(F.lit(1)).over(w))
        .filter(F.col("__cnt") >= min_count)
        .select(
            "__id",
            F.col("pos").alias("start"),
            (F.col("pos") + span).alias("end"),
        )
    )
    cov = (
        merge_intervals(ints, "__id", "start", "end")
        .groupBy("__id")
        .agg(F.sum(F.col("end") - F.col("start")).alias("covered"))
    )
    return (
        base.join(cov, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__n").cast("bigint").alias("n_tokens"),
            F.coalesce("covered", F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
            F.round(
                F.coalesce("covered", F.lit(0))
                / F.greatest(F.col("__n"), F.lit(1)),
                12,
            ).alias("dup_coverage"),
        )
    )


# --------------------------------------- exact duplicated spans (cut)
#
# Suffix-array-style exact substring dedup (Lee et al., "Deduplicating
# Training Data Makes Language Models Better", ACL 2022): report the
# MAXIMAL duplicated token spans per doc pair — not a coverage
# fraction — so a curation pipeline can CUT the spans instead of
# dropping whole docs. The Spark-shape equivalent of the suffix array:
# seed every position with an md5 k-gram hash, join seeds, and chain
# consecutive matches along each (pos_a - pos_b) diagonal into maximal
# runs. A shared substring of L ≥ seed_n tokens contains exactly
# L - seed_n + 1 consecutive seeds on one diagonal, so the
# reconstruction is exact, maximal, and integer-only (oracle-exact).

SPAN_SEED_N = 8  #: seed n-gram width in tokens
SPAN_MIN_TOKENS = 12  #: minimal reported span length in tokens
SPAN_MAX_DF = 64  #: hub cap: seeds occurring more often are boilerplate


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_n: int = SPAN_SEED_N,
    min_span: int = SPAN_MIN_TOKENS,
    max_df: int = SPAN_MAX_DF,
) -> DataFrame:
    """(doc_a, doc_b, a_start, b_start, span_tokens, span_md5) — every
    maximal shared token run of ≥ ``min_span`` tokens, with 1-based
    token start positions in both docs and the span's content hash.
    Maximality holds for runs whose seeds all fall under ``max_df``:
    the hub cap can drop a mid-run seed of a pathologically frequent
    8-gram, reporting that run as two overlapping shorter spans (and
    losing sub-runs under ``min_span``). ``cut_duplicate_spans`` is
    unaffected — its interval merge re-joins the fragments.

    Scale shape: seeding is the winnowing staged projection (one
    md5 per position, no shuffle); the seed join is hash-keyed with a
    ``max_df`` hub cap so per-key fanout is bounded; diagonal chaining
    is one window per (pair, diagonal) — keyed on the pair, never
    global. Tokenization is plain space-split (reversible — the cut
    path reassembles text with ' '.join). ``_spread`` first: the
    per-position md5 seeding is the dominant narrow stage and must
    not run on a single small-scan partition. Seed pairing is the
    single-pass _bucket_pairs shape — one shuffle to the seed hash,
    members collected, i<j pairs emitted in place — NOT a self-join,
    which would run the whole seeding projection once per join side
    plus once for the frequency cap (the minhash_lsh_pairs lesson,
    and round 6's unpersisted-fanout regression)."""
    toks = _spread(docs, id_col).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    hashed = toks.select(
        id_col, kgram_hashes(F.col("_toks"), seed_n).alias("_hashes")
    )
    seeds = (
        hashed.select(
            id_col, F.posexplode_outer("_hashes").alias("_p0", "h")
        )
        .filter(F.col("h").isNotNull())
        .select(
            F.col(id_col).alias("id"), (F.col("_p0") + 1).alias("pos"), "h"
        )
    )
    # one shuffle on the seed hash, ONE seeding pass, and — the part
    # that matters at 100 TB — the hub cap applies BEFORE any member
    # list materializes: a window count over h is spill-safe for
    # arbitrarily hot seeds (corpus boilerplate 8-grams can post
    # millions of times), whereas collect_list-then-filter would
    # buffer the whole hot posting list in one task. The groupBy that
    # follows shares the window's hash partitioning, so no second
    # exchange of the seed stream.
    w_df = Window.partitionBy("h")
    capped = (
        seeds.withColumn("_df", F.count(F.lit(1)).over(w_df))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .drop("_df")
    )
    members = capped.groupBy("h").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("id"), F.col("pos")))
        ).alias("ms")
    )
    m = (
        _expand_sorted_members(members, "pos")
        .select(
            F.col("a")["id"].alias("doc_a"),
            F.col("a")["pos"].alias("pa"),
            F.col("b")["id"].alias("doc_b"),
            F.col("b")["pos"].alias("pb"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    w = Window.partitionBy(
        "doc_a", "doc_b", F.col("pa") - F.col("pb")
    ).orderBy("pa")
    r = m.select(
        "doc_a",
        "doc_b",
        "pa",
        "pb",
        (F.col("pa") - F.col("pb")).alias("diag"),
        (F.col("pa") - F.row_number().over(w)).alias("isl"),
    )
    runs = (
        r.groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(
            F.min("pa").cast("bigint").alias("a_start"),
            F.min("pb").cast("bigint").alias("b_start"),
            (F.count(F.lit(1)) + F.lit(seed_n - 1))
            .cast("bigint")
            .alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
    )
    return runs.join(
        toks.select(F.col(id_col).alias("doc_a"), "_toks"), "doc_a"
    ).select(
        "doc_a",
        "doc_b",
        "a_start",
        "b_start",
        "span_tokens",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(F.col("_toks"), F.col("a_start"), F.col("span_tokens")),
            )
        ).alias("span_md5"),
    )


def cut_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_n: int = SPAN_SEED_N,
    min_span: int = SPAN_MIN_TOKENS,
    max_df: int = SPAN_MAX_DF,
) -> DataFrame:
    """Rewrite ``text_col`` with every LATER occurrence of a
    duplicated span removed (the doc with the smaller id keeps its
    copy) — span-level dedup that preserves the unique remainder of
    each document instead of dropping it. Returns the input columns
    with ``text_col`` rewritten and an ``n_cut_tokens`` audit column.

    Scale shape: spans come from :func:`duplicated_spans` (bounded
    join); per-doc interval union is one doc-keyed exchange
    (operators/intervals.merge_intervals); the rewrite is a per-row
    filter over the token positions against that doc's (few, merged)
    intervals — no shuffle beyond the interval join."""
    from dasladen_spark.operators.intervals import merge_intervals

    spans = duplicated_spans(docs, id_col, text_col, seed_n, min_span, max_df)
    ints = spans.select(
        F.col("doc_b").alias("__id"),
        F.col("b_start").alias("start"),
        (F.col("b_start") + F.col("span_tokens")).alias("end"),
    )
    merged = (
        merge_intervals(ints, "__id", "start", "end")
        .groupBy("__id")
        .agg(
            F.collect_list(F.struct("start", "end")).alias("__ivs"),
        )
    )
    toks = F.split(F.col(text_col), " ")
    keep = F.filter(
        F.sequence(F.lit(1), F.size("__toks")),
        lambda p: ~F.exists(
            F.col("__ivs"),
            lambda iv: (p >= iv["start"]) & (p < iv["end"]),
        ),
    )
    out = (
        docs.join(merged, docs[id_col] == merged["__id"], "left")
        .withColumn("__toks", toks)
        .withColumn(
            "__keep",
            F.when(F.col("__ivs").isNull(), None).otherwise(keep),
        )
        .withColumn(
            "n_cut_tokens",
            F.when(
                F.col("__keep").isNull(), F.lit(0).cast("bigint")
            ).otherwise(
                (F.size("__toks") - F.size("__keep")).cast("bigint")
            ),
        )
        .withColumn(
            text_col,
            F.when(F.col("__keep").isNull(), F.col(text_col)).otherwise(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.col("__keep"),
                        lambda p: F.element_at(F.col("__toks"), p),
                    ),
                )
            ),
        )
    )
    return out.drop("__id", "__ivs", "__toks", "__keep")


# ------------------------------------------------- embedding near-dup


def _hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    rng = random.Random(_SEED)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


#: fixed-point quantum for the hyperplane dot products. Each term is
#: floor(x·c·1e6 + 0.5) as BIGINT — pure IEEE multiply/add/floor, so
#: every engine (and the DuckDB oracle) computes the same integer, and
#: integer SUM is order-independent, so the sign bit (hence every
#: bucket id) is bit-replayable regardless of partial-agg order. The
#: ≤0.5/1e6-per-term rounding only matters for dots within ~dim·5e-7
#: of zero — any deterministic tie direction is an equally valid hash.
#: Overflow headroom: |x·c·1e6| must stay ≪ 2^63/dim ≈ 1.4e17 — holds
#: for any sane embedding magnitude.
_HYPERPLANE_QUANT = 1e6


def hyperplane_table_buckets(
    df: DataFrame,
    vec_col: str,
    num_tables: int,
    bits_per_table: int,
    dim: int,
) -> DataFrame:
    """``df``'s columns + (t, bkt) — one posting row per hash table,
    ``bkt`` the table's random-hyperplane sign-bucket of ``vec_col``.
    Pure JVM (no Python worker): explode the vector's positions, then
    one codegen'd hash-aggregate computes every plane's quantized dot
    product as a SUM of ``floor(x·c·Q + 0.5)`` BIGINTs (the MinHash
    explode+agg-columns shape — map-side combine, whole-stage
    codegen); sign bits pack into per-table bucket ids.

    Scale shape: the exploded positions of one row never leave its
    input partition, so the partial aggregate finishes map-side and
    the exchange carries ONE row per input row (its columns + P
    longs) — comparable to the posting-write / bucket-join shuffle
    every caller performs right after. Deterministic: integer sums
    commute, so bucket membership replays bit-for-bit across runs,
    engines, and the SQL oracle (see _HYPERPLANE_QUANT).

    The group key is ``df``'s non-vector columns PLUS a per-row
    monotonically_increasing_id salt, so duplicate ids hash each of
    their rows independently (exactly like the per-row pandas UDF
    this replaced) instead of silently summing two vectors' plane
    dots into one garbage signature; the salt never leaves the
    kernel. The vector rides through the aggregate as
    ``dim`` separate DOUBLE columns carried by ``first()`` — doubles
    are fixed-width, so the whole thing stays one codegen'd
    HashAggregate. The two tempting simpler shapes are both traps:
    ``first(vec)`` on the ARRAY demotes the stage to an un-codegen'd
    SortAggregate (array-typed aggregation buffer; measured 4× the
    whole kernel), and re-joining the vector afterwards adds a
    broadcast + join stage whose fixed overhead dominates small
    batches. The vector comes back as array<double> (every consumer
    folds in doubles anyway). Plan: scan → posexplode → partial agg
    (map-side: one row per input row survives) → ONE exchange on the
    key → final agg → posexplode of the bucket array.

    The expression surface is built as SQL text and parsed JVM-side
    in a handful of calls: the Column-API equivalent is dim py4j
    round trips per plane literal (F.lit(list) recurses into
    per-element lit calls) — measured ~20 s of pure driver time per
    kernel construction. Each plane literal is encoded as ONE string
    literal + split + cast rather than an array(...) of per-element
    literals: ConstantFolding collapses it to the identical array
    before execution, but the ANALYZED tree is 3 nodes per plane
    instead of dim+1 — Dataset construction analyzes eagerly, and
    the 4096-literal tree cost ~0.6 s of driver time per call
    (string-encode: ~0.09 s, verified bit-identical; repr(float) and
    Spark's string→double cast are both correctly rounded)."""
    cols = df.columns
    keys = [c for c in cols if c != vec_col]
    if not keys:
        raise ValueError(
            "hyperplane_table_buckets: df needs at least one id column"
            " besides the vector (it is the aggregate's group key)"
        )
    sums_sql, firsts_sql, rebuild_sql, buckets_sql = _hyperplane_sql(
        num_tables, bits_per_table, dim
    )
    kq = [f"`{k}`" for k in keys]
    elems_sql = (
        "struct("
        + ",".join(
            f"cast(element_at(`{vec_col}`, {i + 1}) as double) as _v{i}"
            for i in range(dim)
        )
        + ") as _vs"
    )
    # per-row salt in its OWN projection: its only job is making the
    # group key row-unique (duplicate-id inputs hash per row, like
    # the pandas UDF this replaced). It MUST be assigned below the
    # explode — placed in the same select as the generator, the
    # analyzer hoists non-generator expressions into the Project
    # ABOVE the Generate, handing every exploded position its own
    # id and shattering each vector into per-element groups
    # (observed: garbage buckets, 500-row cluster explosions).
    salted = df.selectExpr("*", "monotonically_increasing_id() as _rid")
    exploded = salted.selectExpr(
        *kq,
        "_rid",
        elems_sql,
        f"posexplode(cast(`{vec_col}` as array<double>)) as (_pos, _x)",
    )
    agged = exploded.groupBy(*keys, "_rid").agg(
        F.expr(sums_sql).alias("_s"), F.expr(firsts_sql).alias("_f")
    )
    return agged.select(
        *kq,
        F.expr(rebuild_sql).alias(vec_col),
        F.posexplode(F.expr(buckets_sql)).alias("t", "bkt"),
    ).select(*cols, "t", "bkt")


def hyperplane_probes_driver(
    rows, num_tables: int, bits_per_table: int, dim: int
) -> list[tuple]:
    """[(id, probe)] for an already-collected SMALL vector batch —
    the packed ``t·2^bits + bkt`` probe keys of
    :func:`hyperplane_table_buckets`, computed driver-side in plain
    Python. Bit-identical to the kernel (same plane family, the same
    ``floor(x·c·Q + 0.5)`` term sequence, the same sign packing —
    asserted by tests/test_operators.py::
    test_hyperplane_driver_probes_match_kernel), which is exactly why
    it exists: hashing a ten-row query batch through the kernel's
    two-stage aggregate DAG costs ~1s of fixed driver/scheduling
    overhead per search, while this is microseconds. Lives NEXT TO
    the kernel and the oracle CTE so all three spellings share
    ``_hyperplanes`` and the quantum. Corpus-sized inputs should
    still use the distributed kernel."""
    import math

    planes = _hyperplanes(num_tables * bits_per_table, dim)
    q = _HYPERPLANE_QUANT
    out = []
    for rid, vec in rows:
        dots = [
            sum(
                int(math.floor(float(x) * c * q + 0.5))
                for x, c in zip(vec, plane)
            )
            for plane in planes
        ]
        for t in range(num_tables):
            bkt = 0
            for b in range(bits_per_table):
                if dots[t * bits_per_table + b] >= 0:
                    bkt |= 1 << b
            out.append((rid, t * (1 << bits_per_table) + bkt))
    return out


def hyperplane_buckets_oracle_cte(
    num_tables: int,
    bits_per_table: int,
    dim: int,
    relation: str = "e",
    id_col: str = "vec_id",
    vec_col: str = "v",
    bits_sql: str | None = None,
) -> str:
    """DuckDB CTE fragment replaying this kernel's buckets exactly:
    ``planes``/``dots``/``buckets`` CTEs over ``relation`` (which
    must expose ``id_col`` and a DOUBLE[] ``vec_col``); downstream
    SQL joins ``buckets`` on (t, bkt). Lives NEXT TO the kernel so
    the quantum, the plane family, and the bit packing can never
    drift apart from the Spark side — every oracle that verifies an
    LSH candidate set builds on this one definition.

    ``bits_sql`` makes the bucket width DYNAMIC (the
    auto_lsh_bits_sql step over COUNT(*)): ``bits_per_table`` then
    bounds the plane list (the hi clamp) and the CTE derives the
    live b, dots only the first ``num_tables·b`` planes, and packs
    ``p % b`` bits into table ``p // b`` — exactly what the Spark
    kernel computes when called with the same b (the plane stream is
    prefix-stable: _hyperplanes(n)[:k] == _hyperplanes(k))."""
    planes = _hyperplanes(num_tables * bits_per_table, dim)
    qlit = repr(float(_HYPERPLANE_QUANT))
    values = ",\n".join(
        f"({p}, [{','.join(repr(c) for c in plane)}]::DOUBLE[])"
        for p, plane in enumerate(planes)
    )
    b = f"(SELECT b FROM bparam)" if bits_sql else str(bits_per_table)
    bparam = (
        f"bparam AS (SELECT ({bits_sql}) AS b),\n    " if bits_sql else ""
    )
    plane_gate = (
        f"\n      WHERE pl.p < {num_tables} * {b}" if bits_sql else ""
    )
    return f"""{bparam}planes(p, coef) AS (
      VALUES {values}
    ), dots AS MATERIALIZED (
      SELECT r.{id_col}, pl.p // {b} AS t, pl.p % {b} AS bit,
             list_sum(list_transform(list_zip(r.{vec_col}, pl.coef),
               q -> CAST(floor(q[1] * q[2] * {qlit} + 0.5)
                         AS BIGINT))) AS dot
      FROM {relation} r CROSS JOIN planes pl{plane_gate}
    ), buckets AS MATERIALIZED (
      SELECT {id_col}, t,
             SUM(CASE WHEN dot >= 0
                      THEN 1 << bit ELSE 0 END) AS bkt
      FROM dots GROUP BY {id_col}, t
    )"""


@lru_cache(maxsize=32)
def _hyperplane_sql(
    num_tables: int, bits_per_table: int, dim: int
) -> tuple[str, str, str, str]:
    """(sums struct, vector firsts struct, vector rebuild, bucket
    array) SQL for hyperplane_table_buckets — pure strings, safe to
    cache across sessions; the plane family is seed-deterministic."""
    planes = _hyperplanes(num_tables * bits_per_table, dim)
    qlit = repr(float(_HYPERPLANE_QUANT))

    def _sum_sql(plane: list[float]) -> str:
        packed = ",".join(repr(float(c)) for c in plane)
        arr = f"cast(split('{packed}', ',') as array<double>)"
        return (
            f"sum(cast(floor(_x * element_at({arr}, _pos + 1)"
            f" * {qlit}D + 0.5D) as bigint))"
        )

    sums_sql = (
        "struct("
        + ",".join(
            f"{_sum_sql(plane)} as _s{p}" for p, plane in enumerate(planes)
        )
        + ")"
    )
    firsts_sql = (
        "struct("
        + ",".join(f"first(_vs._v{i}) as _f{i}" for i in range(dim))
        + ")"
    )
    rebuild_sql = (
        "array(" + ",".join(f"_f._f{i}" for i in range(dim)) + ")"
    )
    buckets_sql = (
        "array("
        + ",".join(
            "("
            + " + ".join(
                f"shiftleft(cast((_s._s{t * bits_per_table + b} >= 0)"
                f" as bigint), {b})"
                for b in range(bits_per_table)
            )
            + ")"
            for t in range(num_tables)
        )
        + ")"
    )
    return sums_sql, firsts_sql, rebuild_sql, buckets_sql


def semantic_dedup_survivors(
    corpus: DataFrame,
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    assigned_id: str = "id",
    threshold: float = 0.9,
    max_cluster: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 shape): semantic dedup by
    clustering the embedding space, then dropping near-identical
    documents WITHIN each cluster — the device that makes
    embedding-level dedup tractable at corpus scale (pairwise cosine
    only inside a cluster, never across the corpus).

    ``assigned`` is an (``assigned_id``, cluster) frame — in this
    repo the exact
    lattice k-means (operators/clustering.kmeans_fit), so the whole
    pipeline stays a pure function of the corpus. Within-cluster
    pairs at cosine ≥ ``threshold`` become edges; components collapse
    via per-cluster union-find (operators/graph
    partitioned_components — every edge lies inside one cluster by
    construction, so closure needs zero iterative jobs); each doc
    maps to its component's min-id survivor.

    Returns (id, cluster, survivor, kept) for EVERY corpus row —
    kept = 1 iff the doc is its own survivor (the kept-set a
    downstream filter applies; survivors of singleton docs are
    themselves).

    Scale shape: the pair join is cluster-keyed — O(Σ|cluster|²)
    work, which the SemDeDup recipe bounds by CHOOSING k ∝ corpus
    size (constant expected cluster size). That contract is
    ENFORCED: a cluster above ``max_cluster`` raises loudly (re-fit
    with larger k) instead of silently going quadratic."""
    from dasladen_spark.functions.vectors import cosine_sim_carried, l2_norm
    from dasladen_spark.operators.graph import partitioned_components

    biggest = (
        assigned.groupBy(cluster_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n").alias("_mx"))
        .collect()[0]["_mx"]
    )
    if biggest is not None and biggest > max_cluster:
        raise ValueError(
            f"semantic_dedup_survivors: largest cluster has {biggest:,}"
            f" members > max_cluster={max_cluster:,} — within-cluster"
            " pairing would go quadratic; re-fit with a larger k"
        )
    m = corpus.select(
        F.col(id_col).alias("_sid"),
        F.col(vec_col).cast("array<double>").alias("_sv"),
        l2_norm(F.col(vec_col)).alias("_sn"),
    ).join(
        assigned.select(
            F.col(assigned_id).alias("_sid"),
            F.col(cluster_col).alias("_sc"),
        ),
        "_sid",
    )
    # explicit cluster-keyed repartition: the pair join's shuffle is
    # BYTE-small (ids + one vector per row) so AQE coalesces it — the
    # r12 job profile showed the entire Σ|cluster|² cosine fold of
    # dedup_semantic_clusters running as ONE task (2.96 s of a 8.1 s
    # wall on 32 cores). A user repartition pinned to
    # defaultParallelism matches the join key, so no extra exchange
    # appears (the self-join reuses it for both sides) and the
    # compute-bound stage stays wide at every scale; interleaved A/B
    # below in plans gate. Cluster count ≫ cores by the SemDeDup
    # k ∝ n contract, so the hash spread is even.
    m = m.repartition(
        corpus.sparkSession.sparkContext.defaultParallelism, "_sc"
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a._sc") == F.col("b._sc"),
                F.col("a._sid") < F.col("b._sid"),
            ],
        )
        .select(
            F.col("a._sc").alias("cluster"),
            F.col("a._sid").alias("id_a"),
            F.col("b._sid").alias("id_b"),
            cosine_sim_carried(
                F.col("a._sv"), F.col("b._sv"), F.col("a._sn"), F.col("b._sn")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    comp = partitioned_components(pairs, "cluster", "id_a", "id_b")
    return (
        assigned.select(
            F.col(assigned_id).alias("id"),
            F.col(cluster_col).alias("cluster"),
        )
        .join(comp, "id", "left")
        .select(
            "id",
            "cluster",
            F.coalesce("component", F.col("id")).alias("survivor"),
            F.when(
                F.coalesce("component", F.col("id")) == F.col("id"), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("kept"),
        )
    )


def auto_lsh_bits(
    n: int, target_bucket: int = 16, lo: int = 8, hi: int = 16
) -> int:
    """Bucket-space width for a corpus of ``n`` vectors: the least
    ``b`` in [lo, hi] with ``n / 2^b <= target_bucket`` — expected
    occupancy stays ~constant, so LSH candidate volume grows LINEARLY
    with the corpus instead of quadratically (a fixed b measured 113×
    cost for 10× rows one decade above its tuning point). Pure
    integer step function — an oracle can replay it from COUNT(*)
    with a CASE chain, no float log anywhere. The plane family is a
    fixed seeded stream keyed by (num_tables·b, dim), so every step
    is its own exactly-replayable geometry; recall at a larger b
    comes from the table count (16 tables at b=16 still catch a
    cosine-0.99 pair with miss probability ~3e-5)."""
    b = lo
    while b < hi and n > (target_bucket << b):
        b += 1
    return b


def auto_lsh_bits_sql(
    count_sql: str, target_bucket: int = 16, lo: int = 8, hi: int = 16
) -> str:
    """``auto_lsh_bits`` as a SQL CASE chain over ``count_sql`` (a
    scalar COUNT(*) subquery) — the single-spelling rule: an oracle
    that models a dynamically-sized hash derives the SAME b from the
    SAME integer comparisons, no float log anywhere."""
    whens = "".join(
        f" WHEN ({count_sql}) > {target_bucket << (b - 1)} THEN {b}"
        for b in range(hi, lo, -1)
    )
    return f"(CASE{whens} ELSE {lo} END)"


#: hard ceiling for the brute-force pair path: n(n-1)/2 interpreted
#: cosines. 8192 rows = ~33 M pairs — tens of seconds on local[32];
#: one decade more is an hour. Above this the caller MUST block the
#: input (dedup_embedding_cosine's vec_id slice) or switch to
#: method="lsh" — the same loud-raise contract as SemDeDup's
#: max_cluster (semantic_dedup_survivors).
_BRUTE_MAX_ROWS = 8192


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    method: str = "lsh",
    dim: int | None = None,
    num_tables: int = 8,
    bits_per_table: int | str = "auto",
    max_rows: int = _BRUTE_MAX_ROWS,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold.

    method="brute": exact non-equi self-join — only for small/blocked
    inputs, enforced by a loud ``max_rows`` raise (an unguarded O(n²)
    pair join × interpreted cosine burned 23 min at 20 k rows in the
    round-11 sf1 gate). method="lsh" (default): random-hyperplane
    signatures, candidates share a (table, bucket), exact cosine
    re-check — the 100 TB shape (shuffle on buckets, no cross
    product). ``bits_per_table="auto"`` (default) sizes the bucket
    space from the corpus: the least b in [8, 16] with n/2^b ≤ 16 —
    constant expected occupancy, so candidate volume stays LINEAR in
    n (a fixed b saturates one decade up: measured 113× cost for 10×
    rows at b=8/20 k). The plane family is a fixed seeded stream, so
    any b is replayable; pass an int to pin the geometry (oracles
    that model the hash do)."""
    from dasladen_spark.functions.vectors import cosine_sim

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    if method == "brute":
        n = base.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_near_dup_pairs(method='brute'): {n:,} rows"
                f" > max_rows={max_rows:,} — {n * (n - 1) // 2:,} exact"
                " cosines would go quadratic; block the input or use"
                " method='lsh'"
            )
        # _spread the stream side: a dimension-sized table scans as
        # ONE task, and the nested-loop pair expansion × cosine is
        # per-row heavy compute — without it the whole O(n²) pass
        # runs on a single core (bit at sf1: 20k vectors = 200M
        # cosines, one task, ~30 min; spread: seconds)
        a, b = _spread(base, "id").alias("a"), base.alias("b")
        return (
            a.join(b, on=[F.col("a.id") < F.col("b.id")])
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                cosine_sim(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    base = base.persist()
    if bits_per_table == "auto":
        bits_per_table = auto_lsh_bits(base.count())
    exploded = hyperplane_table_buckets(
        _spread(base, "id"), "vec", num_tables, bits_per_table, dim
    )
    # max_bucket=None: hyperplane buckets do NOT imply similarity, so
    # the star degrade would drop true pairs whose spokes fail the
    # hub's cosine re-check — hot buckets here are a num_tables /
    # bits_per_table tuning problem, and the downstream exact
    # re-check bounds what a hot bucket can emit. Pairing is
    # payload-free (bare ids): the vectors join back onto the
    # DISTINCT candidates below, so the wide vec column crosses the
    # bucket shuffle once per ROW, not once per bucket-duplicated
    # pair (× num_tables), and the cosine re-check runs once per
    # distinct candidate.
    cand = _bucket_pairs(
        exploded, ["t", "bkt"], None, max_bucket=None
    ).dropDuplicates(["id_a", "id_b"])
    return (
        cand.join(
            base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")),
            "id_a",
        )
        .join(
            base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            cosine_sim(F.col("vec_a"), F.col("vec_b")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
