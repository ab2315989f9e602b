"""Document deduplication: exact and normalised fingerprints,
MinHash-LSH, SimHash, n-gram Jaccard, winnowing, duplicated spans,
embedding near-duplicates, incremental dedup against an index, and
entity-resolution clusters.

Every hash is md5-derived and every band is a slice-equality string
bucket, so DuckDB replays signatures, buckets, candidates and scores
bit for bit; survivor clusters replay through a recursive CTE (min
reachable id), so each fuzzy-dedup chain is exact end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dasladen_spark.functions.text import _TOK_RE, normalize_text, quality_score
from dasladen_spark.operators.dedup import (
    MAX_BUCKET as _MAX_BUCKET,
    SPAN_MAX_DF as _CUT_MAX_DF,
    SPAN_MIN_TOKENS as _CUT_MIN,
    SPAN_SEED_N as _CUT_N,
    WINNOW_K as _WIN_K,
    WINNOW_MAX_DF as _WIN_MAX_DF,
    WINNOW_MIN_SHARED as _WIN_MIN_SHARED,
    WINNOW_W as _WIN_W,
    _SPAN_N,
    _hash_coeffs as _mh_coeffs,
    duplicated_span_coverage,
    duplicated_spans,
    embedding_near_dup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    winnowing_pairs,
)
from dasladen_spark.plans.registry import query
from dasladen_spark.plans.shared import (
    FP_SQL,
    KM_ITERS,
    KM_K,
    QUALITY_SQL,
    cosine_sql,
    kmeans_ctes,
    span_coverage_ctes,
)
from dasladen_spark.session import load_table as _t


#: connected components of the undirected edge CTE ``und(a, b)`` as
#: ``lab(node, component)``, component = the smallest reachable id:
#: the DuckDB side of operators/graph's component labelling (needs
#: WITH RECURSIVE)
_COMPONENTS_SQL = """nodes AS (
      SELECT DISTINCT a AS id FROM und
    ), r(node, root) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT u.b, r.root FROM r JOIN und u ON u.a = r.node
    ), lab AS (
      SELECT node, MIN(root) AS component FROM r GROUP BY node
    )"""


# ------------------------------- entity-resolution cluster rollup


@query(
    "er_customer_clusters",
    oracle=f"""
    WITH RECURSIVE c AS (
      SELECT c_custkey AS k, c_name AS name,
             substring(c_name, 1, length(c_name) - 2) AS blk
      FROM customer
    ), e AS (
      SELECT a.k AS ka, b.k AS kb
      FROM c a JOIN c b ON a.blk = b.blk AND a.k < b.k
      WHERE levenshtein(a.name, b.name) <= 1
    ), und AS (
      SELECT ka AS a, kb AS b FROM e
      UNION SELECT kb AS a, ka AS b FROM e
    ), {_COMPONENTS_SQL}
    SELECT lab.component AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           cu.c_name AS rep_name
    FROM lab JOIN customer cu ON cu.c_custkey = lab.component
    GROUP BY lab.component, cu.c_name
    HAVING COUNT(*) >= 2
    ORDER BY cluster_id
    """,
)
def er_customer_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution clusters over customer names: blocked
    candidate pairs (all-but-last-2-characters blocking key, the
    q_fuzzy_name_match device that caps block size by construction),
    levenshtein ≤ 1 match edges, then TRANSITIVE CLOSURE — A≈B and
    B≈C put A and C in one cluster even at distance 2, which is what
    separates entity resolution from pairwise fuzzy matching. Output:
    one row per multi-member cluster with its representative (the
    minimum key's name).

    Scale shape: the candidate join is block-keyed with fan-out
    bounded by the key design (≤ 100 names per block whatever the
    table size); and because every match edge lies INSIDE one block
    (the join requires equal block keys), components can never span
    blocks — so the closure is partitioned_components
    (operators/graph.py): one shuffle grouping each block's edges,
    union-find per block in an Arrow batch, NO iterative jobs.
    connected_components (iterative label propagation) remains the
    tool for pair lists that span arbitrary rows. The stream side of
    the broadcast candidate join is explicitly repartitioned first:
    a dimension-sized table scans as ONE task, and without the
    spread every block's pair expansion × levenshtein would run on a
    single core (the _spread lesson from operators/dedup — per-row
    heavy compute after a small scan must be forced wide). The
    oracle is a recursive CTE computing the same closure, so cluster
    assignments are cross-engine verified."""
    from dasladen_spark.operators.graph import partitioned_components

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    blk = F.expr("substring(c_name, 1, length(c_name) - 2)")
    a = c.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("name_a"),
        blk.alias("blk"),
    )
    b = c.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("name_b"),
        blk.alias("blk"),
    )
    edges = (
        a.join(b, on=[a.blk == b.blk, F.col("ka") < F.col("kb")])
        .filter(F.levenshtein("name_a", "name_b") <= 1)
        .select("ka", "kb", a.blk)
    )
    labels = partitioned_components(edges, "blk", src="ka", dst="kb")
    clusters = (
        labels.groupBy("component")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .filter(F.col("n_members") >= 2)
    )
    reps = c.select(
        F.col("c_custkey").alias("component"),
        F.col("c_name").alias("rep_name"),
    )
    # the cluster rollup (≤ rows/2, in practice rows/block_size) is
    # the small side — broadcast IT onto the customer scan, never the
    # reverse
    return (
        reps.join(F.broadcast(clusters), "component")
        .select(
            F.col("component").alias("cluster_id"), "n_members", "rep_name"
        )
        .orderBy("cluster_id")
    )


# -------------------------------------------------------------- dedup


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one hash-shuffle on the text; survivor = min id."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(F.md5("text").alias("text_hash"), "keep_id", "n_copies")
    )


@query(
    "dedup_fingerprint",
    oracle=f"""
    SELECT {FP_SQL.format(t='text')} AS fp,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup: case/punct/whitespace-insensitive
    exact matching (document fingerprinting via md5 of canonical
    form)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(normalize_text(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("fp", "keep_id", "n_copies")
    )


# MinHash-LSH DuckDB oracle: the SAME seeded (a_k, b_k) permutation
# coefficients (operators/dedup._hash_coeffs), the same portable
# md5-substring 32-bit shingle hash, the same 16 slice-equality band
# buckets — candidate generation and scoring replay bit-for-bit, so
# the estimate (an n/64 dyadic rational) is exact in both engines.
_MH_P = 2147483647
_MH_MINS = ",\n        ".join(
    f"MIN(({a} * h + {b}) % {_MH_P}) AS m{k}"
    for k, (a, b) in enumerate(_mh_coeffs(64))
)
_MH_SIG = "[" + ", ".join(f"m{k}" for k in range(64)) + "]"

#: shared CTE body (no leading WITH — survivors needs WITH RECURSIVE):
#: signatures → bands → candidate pairs → scored estimates.
_MH_CTE = f"""base AS (
      SELECT doc_id, coalesce(text, '') AS t FROM documents
    ), pos AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(length(t) - 4, 1))) AS i
      FROM base
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(substr(t, i, 5)), 1, 8)) AS BIGINT) AS h
      FROM pos
    ), m AS (
      SELECT doc_id,
        {_MH_MINS}
      FROM h GROUP BY doc_id
    ), s AS (
      SELECT doc_id, {_MH_SIG} AS sig FROM m
    ), bands AS (
      SELECT doc_id, sig, band,
             array_to_string(sig[band*4+1 : band*4+4], '-') AS bucket
      FROM s, (SELECT unnest(generate_series(0, 15)) AS band)
    ), bsz AS (
      SELECT band, bucket, COUNT(*) AS cnt, MIN(doc_id) AS mn
      FROM bands GROUP BY band, bucket
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      JOIN bsz z ON z.band = a.band AND z.bucket = a.bucket
      WHERE z.cnt <= {_MAX_BUCKET} OR a.doc_id = z.mn
    ), scored AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_filter(generate_series(1, 64),
                                  i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
               / 64.0 AS est_jaccard
      FROM cand c
      JOIN s sa ON sa.doc_id = c.id_a
      JOIN s sb ON sb.doc_id = c.id_b
    )"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MH_CTE}
    SELECT id_a, id_b, est_jaccard FROM scored
    WHERE est_jaccard >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16-band LSH candidate pairs at est-Jaccard ≥ 0.5
    over 5-char shingles. Oracle-EXACT since round 8: signatures are
    explode + 64 codegen'd min-aggregates over the portable md5 hash
    (no Python anywhere — the round-7 pandas kernel is gone), buckets
    are slice-equality strings, and the n/64 estimate is a dyadic
    rational, so nothing rounds."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        num_hashes=64,
        bands=16,
        shingle_len=5,
        threshold=0.5,
    ).orderBy("id_a", "id_b")


# SimHash DuckDB oracle: same 60 md5-derived bits per token, same
# per-bit ±1 vote sums, same 4×15-bit chunk banding — integer-only
# end to end, so the match is exact by construction.
_SH_SUMS = ",\n        ".join(
    f"SUM(((h >> {k}) & 1) * 2 - 1) AS v{k}" for k in range(60)
)
_SH_FP = " + ".join(f"CAST(v{k} > 0 AS BIGINT) * {1 << k}" for k in range(60))


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM tok
    ), v AS (
      SELECT doc_id,
        {_SH_SUMS}
      FROM h GROUP BY doc_id
    ), fp0 AS (
      SELECT doc_id, ({_SH_FP}) AS fp FROM v
    ), fp AS (
      SELECT d.doc_id, coalesce(f.fp, 0) AS fp
      FROM documents d LEFT JOIN fp0 f USING (doc_id)
    ), ch AS (
      SELECT doc_id, fp, ci, (fp >> (ci * 15)) & 32767 AS cv
      FROM fp, (SELECT unnest(generate_series(0, 3)) AS ci)
    ), csz AS (
      SELECT ci, cv, COUNT(*) AS cnt, MIN(doc_id) AS mn
      FROM ch GROUP BY ci, cv
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ch a JOIN ch b
        ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
      JOIN csz z ON z.ci = a.ci AND z.cv = a.cv
      WHERE z.cnt <= {_MAX_BUCKET} OR a.doc_id = z.mn
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(fa.fp, fb.fp)) AS INT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.id_a
    JOIN fp fb ON fb.doc_id = c.id_b
    WHERE bit_count(xor(fa.fp, fb.fp)) <= 8
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 8 on 60-bit md5-derived
    fingerprints (banded candidates ∩ Hamming filter — the oracle
    mirrors the banding, so the match is exact). Oracle-EXACT since
    round 8; the round-7 numpy bit-voting kernel is gone — votes are
    60 codegen'd sum-aggregates."""
    return simhash_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=8
    ).orderBy("id_a", "id_b")


#: stop-shingle document-frequency cap for the REGISTERED jaccard
#: query, mirrored verbatim in its oracle: a shingle present in more
#: than this many documents contributes no pairs (both engines drop
#: it IDENTICALLY, so the match stays exact). Inactive through sf0.1
#: (hottest fixture shingle df ≈ 300); above that it bounds the
#: Σ df² pair expansion that a fixed synthetic vocabulary otherwise
#: grows quadratically — the conventional cost bound for inverted-
#: index similarity at corpus scale.
_JACC_MAX_DF = 1000


@query(
    "dedup_ngram_jaccard",
    # same inverted-index algorithm in DuckDB: unnest distinct word
    # 3-grams, drop shingles over the SAME df cap, self-join on the
    # shingle, count common per pair. (Spark buckets on xxhash64 of
    # the shingle rather than the raw string — identical pairs
    # barring a 64-bit collision.)
    oracle=rf"""
    WITH docs AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(
               generate_series(0, greatest(len(regexp_extract_all(trim(text), '\S+')) - 3, 0)),
               i -> array_to_string(regexp_extract_all(trim(text), '\S+')[i+1:i+3], ' ')
             )) AS sh
      FROM documents
    ),
    inv AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS shingle FROM docs),
    kept AS (
      SELECT shingle FROM inv
      GROUP BY shingle HAVING COUNT(*) <= {_JACC_MAX_DF}
    ),
    inv2 AS (SELECT inv.* FROM inv JOIN kept USING (shingle)),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             COUNT(*) AS n_common
      FROM inv2 a JOIN inv2 b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE)
             / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard
    FROM common
    WHERE CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard ≥ 0.2 via shingle inverted index
    with a document-frequency cap (df ≤ {_JACC_MAX_DF}, spelled
    identically in the oracle — stop-shingles contribute no pairs on
    either engine, the standard Σ df² bound)."""
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=3,
        threshold=0.2,
        max_df=_JACC_MAX_DF,
    ).orderBy("id_a", "id_b")


#: id slice the two brute-force gate queries audit: inactive through
#: sf0.1 (≤ 2000 vectors — results identical to the uncapped query),
#: a fixed 2048-vector block above it, keeping the registered O(n²)
#: audits at ~2M cosines forever (round-11's uncapped run: 23-29 min
#: each at sf1). The operator itself now raises above
#: dedup._BRUTE_MAX_ROWS, so an uncapped registration would refuse
#: to run rather than silently go quadratic.
_BRUTE_GATE_CAP = 2048


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < {_BRUTE_GATE_CAP} AND b.vec_id < {_BRUTE_GATE_CAP}
      AND {cosine_sql('a.embedding', 'b.embedding')} >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, brute-force exact over a BLOCKED
    input (vec_id < {_BRUTE_GATE_CAP}; the full slice at every sf the
    driver grades) — the audit shape for the exact kernel. The `lsh`
    method of the same operator is the at-scale path for the full
    corpus; brute now raises loudly above its row cap instead of
    going quadratic. The 0.4 threshold sits inside the fixture's
    cosine range (max pair ~0.5) so the gate validates real pairs — a
    production near-dup pass would run the conventional 0.8."""
    pairs = embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < _BRUTE_GATE_CAP
        ),
        "embedding",
        "vec_id",
        threshold=0.4,
        method="brute",
    )
    return pairs.withColumn("cosine", F.round("cosine", 6))


@query(
    "dedup_clusters_embedding",
    # The pair CTE spells cosine >= t as dot >= t*|a|*|b| over
    # DuckDB's native list_dot_product with per-VECTOR norms hoisted
    # into one CTE — same decision, ~20x cheaper than re-deriving
    # list_zip/list_transform per PAIR (the n^2 term: 200M pairs at
    # sf1 made the gate's oracle side dominate at ~35 min). Safe
    # because the threshold decision has enormous margin at every
    # graded sf: the fixture's true near-dups sit at cosine >= 0.99
    # (jittered replicas) and everything else below ~0.7 (measured:
    # min |cos - 0.8| = 0.199 at sf0.1, 0 pairs in [0.7, 0.9]), so
    # no summation-order ulp can flip a pair.
    oracle="""
    WITH RECURSIVE v AS (
      SELECT vec_id, embedding::DOUBLE[] AS vv,
             sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                          x -> x * x))) AS nrm
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.vv, b.vv) >= 0.8 * a.nrm * b.nrm
    ), sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), reach(id, label) AS (
      SELECT DISTINCT a, a FROM sym
      UNION
      SELECT s.b, r.label FROM reach r JOIN sym s ON r.id = s.a
    )
    SELECT id AS member, MIN(label) AS survivor
    FROM reach GROUP BY id
    """,
)
def dedup_clusters_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → transitive dedup clusters: the embedding
    cosine ≥ 0.8 pair graph resolved to (member, survivor=min id)
    by distributed min-label propagation (operators/graph.py).
    The oracle recomputes the same closure with a recursive CTE —
    feasible at oracle scale, while the Spark loop (join+groupBy per
    hop, checkpoint-truncated lineage) is the shape that survives
    billions of edges.

    Pair generation is the LSH path (hyperplane buckets → bucket
    equi-join → exact cosine re-check) with DATA-ADAPTIVE bucket
    width (operators/dedup.auto_lsh_bits: least b with n/2^b ≤ 16,
    so candidate volume grows linearly with the corpus — the fixed
    8-bit geometry measured 113× cost for 10× rows at sf1): no O(n²)
    self-join anywhere in the plan, which is the property that lets
    this run at corpus scale; 16 tables keep miss probability per
    true pair below ~1e-4 at the planted-dup cosine levels this
    fixture carries at every step's b."""
    from dasladen_spark.operators.graph import dedup_clusters

    pairs = embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        threshold=0.8,
        method="lsh",
        num_tables=16,
    ).select("id_a", "id_b")
    return dedup_clusters(pairs)


@query(
    "dedup_minhash_survivors",
    # the whole pipeline is integer-only (md5-derived signatures, n/64
    # dyadic estimates, min-id labels), so even the iterative stage is
    # exactly oracle-checkable: a recursive CTE computes true
    # transitive reachability and takes the min reachable id — the
    # fixpoint Spark's label propagation converges to.
    oracle=f"""
    WITH RECURSIVE {_MH_CTE}, p AS (
      SELECT id_a, id_b FROM scored WHERE est_jaccard >= 0.5
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM p
      UNION SELECT id_b, id_a FROM p
    ), reach(id, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ), comp AS (
      SELECT id, MIN(r) AS survivor FROM reach GROUP BY id
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT id FROM comp WHERE survivor < id)
    ORDER BY doc_id
    """,
)
def dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE fuzzy-dedup pipeline: MinHash-LSH candidate
    pairs → connected components → one survivor (min doc_id) per
    near-dup cluster → the kept-document list. What a training-data
    build actually materializes; every stage is the at-scale shape
    (banded LSH shuffle, join+groupBy label propagation, anti join).
    Oracle-exact since round 8: the portable-hash rework makes the
    pair set replayable, and a recursive CTE replays the component
    minima."""
    from dasladen_spark.operators.graph import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=64, bands=16, shingle_len=5,
        threshold=0.5,
    ).select("id_a", "id_b")
    clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("member") != F.col("survivor")).select(
        F.col("member").alias("doc_id")
    )
    return (
        docs.join(drop, "doc_id", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "dedup_rate_by_source",
    oracle=f"""
    WITH f AS (
      SELECT source, {FP_SQL.format(t='text')} AS fp
      FROM documents
    ), c AS (
      SELECT source, fp,
             COUNT(*) OVER (PARTITION BY fp) AS n_copies
      FROM f
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duplicated,
           CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM c GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate audit per source: the share of each source's
    documents whose normalized fingerprint appears more than once
    ANYWHERE in the corpus — the number that decides which feeds need
    dedup spend before training. One fingerprint shuffle (the count
    window), one source rollup; exact long→double division."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(normalize_text(F.col("text")))
    c = d.select(
        "source",
        F.count(F.lit(1)).over(Window.partitionBy(fp)).alias("n_copies"),
    )
    dup = F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dup.alias("n_duplicated"),
        (dup.cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "dup_rate"
        ),
    )


#: SemDeDup cosine ceiling, fixture-calibrated (the synthetic
#: embeddings are weakly similar — 0.4 is the same operating point
#: dedup_embedding_cosine registers; production SemDeDup runs ~0.95)
_SEMDD_TAU = 0.4

#: SemDeDup's "k ∝ corpus size" contract, concretely: one centroid
#: per ~250 vectors (floored at KM_K=8, so every sf the driver
#: grades keeps its round-11 geometry bit-for-bit). Within-cluster
#: pair work is then Σ|c|² ≈ n·250 — LINEAR in the corpus, where the
#: fixed k=8 measured 21× cost for 10× rows at sf1. Pure integer
#: step: both engines derive the same k from the same COUNT(*).
_SEMDD_TARGET = 250
_SEMDD_K_SQL = (
    f"SELECT GREATEST({KM_K}, CAST((SELECT COUNT(*) FROM embeddings)"
    f" // {_SEMDD_TARGET} AS INT))"
)


def _semdd_k(n: int) -> int:
    """Spark-side spelling of _SEMDD_K_SQL."""
    return max(KM_K, n // _SEMDD_TARGET)


@query(
    "dedup_semantic_clusters",
    # exact end-to-end: lattice k-means replay (the kmeans_ctes
    # family, with the corpus-size-derived k spliced as SQL) + the
    # SAME left-assoc cosine fold both engines evaluate +
    # recursive-CTE reachability for the per-cluster min-id
    # survivor (the dedup_minhash_survivors device)
    oracle=kmeans_ctes(k=_SEMDD_K_SQL).replace("WITH ", "WITH RECURSIVE ", 1)
    + f""", sdmem AS MATERIALIZED (
      SELECT a.vec_id, a.cluster, r.v
      FROM ka{KM_ITERS + 1} a JOIN kraw r USING (vec_id)
    ), sdp AS MATERIALIZED (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b
      FROM sdmem x JOIN sdmem y
        ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE {cosine_sql('x.v', 'y.v')} >= {_SEMDD_TAU}
    ), sdedges AS (
      SELECT id_a AS a, id_b AS b FROM sdp
      UNION SELECT id_b, id_a FROM sdp
    ), sdreach(id, r) AS (
      SELECT a, a FROM sdedges
      UNION
      SELECT e.a, sdreach.r FROM sdedges e JOIN sdreach
        ON sdreach.id = e.b
    ), sdcomp AS (
      SELECT id, MIN(r) AS surv FROM sdreach GROUP BY id
    )
    SELECT m.vec_id AS id, m.cluster,
           COALESCE(c.surv, m.vec_id) AS survivor,
           CAST(CASE WHEN COALESCE(c.surv, m.vec_id) = m.vec_id
                THEN 1 ELSE 0 END AS INT) AS kept
    FROM sdmem m LEFT JOIN sdcomp c ON c.id = m.vec_id
    ORDER BY m.vec_id
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic dedup by k-means-clustering the embedding
    space and dropping near-identical docs WITHIN clusters
    (operators/dedup.semantic_dedup_survivors) — the method that
    bounds embedding-level dedup at corpus scale (pairwise cosine
    only inside a cluster; k GROWS WITH THE CORPUS — one centroid
    per ~{_SEMDD_TARGET} vectors, _semdd_k — so expected cluster
    size is constant and within-cluster pair work stays linear; the
    operator additionally raises loudly if a cluster exceeds its
    cap). Exact oracle for the WHOLE chain: the corpus-size-derived
    k, lattice k-means assignment, the shared cosine fold, and
    per-cluster components all replay bit-for-bit."""
    from dasladen_spark.operators.clustering import kmeans_fit
    from dasladen_spark.operators.dedup import semantic_dedup_survivors

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_fit(
        emb,
        "embedding",
        "vec_id",
        k=_semdd_k(emb.count()),
        iterations=KM_ITERS,
    )
    return semantic_dedup_survivors(
        emb, assigned, threshold=_SEMDD_TAU
    ).orderBy("id")


@query(
    "dedup_source_priority",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY {FP_SQL.format(t='text')}
               ORDER BY CAST(substr(source, 4) AS INTEGER), doc_id
             ) AS rn
      FROM documents
    )
    SELECT source, COUNT(*) AS n_kept
    FROM ranked WHERE rn = 1 GROUP BY source
    """,
)
def dedup_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-priority dedup: when the same (normalized) content
    arrives from several sources, keep the copy from the most trusted
    one (lowest source rank; doc_id tiebreak) — the cross-source
    merge step of corpus assembly, where a curated dump must beat its
    web-crawl duplicates. Same single-shuffle fingerprint-window
    shape as text_corpus_cleanup, with the survivor rule made a
    priority ORDER BY instead of plain min-id."""
    d = _t(spark, sf_dir, "documents")
    rank = F.substring("source", 4, 10).cast("int")
    w = Window.partitionBy(F.md5(normalize_text(F.col("text")))).orderBy(
        rank, "doc_id"
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


@query(
    "dedup_best_quality_survivor",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source,
             {FP_SQL.format(t='text')} AS fp,
             {QUALITY_SQL.format(t='text')} AS quality
      FROM documents
    ), c AS (
      SELECT doc_id, source, quality,
             CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_copies,
             ROW_NUMBER() OVER (
               PARTITION BY fp ORDER BY quality DESC, doc_id
             ) AS rn
      FROM f
    )
    SELECT doc_id, source, quality, n_copies
    FROM c WHERE rn = 1
    """,
)
def dedup_best_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivors: within each exact-duplicate
    cluster (normalized-text fingerprint) keep the HIGHEST-quality
    copy (tiebreak lowest doc_id) instead of the naive min-id — the
    policy a curation pipeline actually wants when near-identical
    scrapes differ in mojibake or boilerplate.

    Emits every cluster's survivor with its copy count (clusters of 1
    pass through — the keep-list a downstream join applies directly).
    One fingerprint shuffle serves both the copy count and the
    survivor pick (same window key, Catalyst reuses the exchange);
    quality scores compute in the scan projection."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(normalize_text(F.col("text")))
    base = d.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality"),
        fp.alias("fp"),
    )
    wc = Window.partitionBy("fp")
    wr = Window.partitionBy("fp").orderBy(F.col("quality").desc(), "doc_id")
    return (
        base.select(
            "doc_id",
            "source",
            "quality",
            F.count(F.lit(1)).over(wc).cast("bigint").alias("n_copies"),
            F.row_number().over(wr).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ------------------------------------- exact duplicated-span coverage

@query(
    "dedup_span_coverage",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id, source,
             regexp_extract_all(lower(text), '{_TOK_RE}') AS a
      FROM documents
    ), {span_coverage_ctes('base')}, per_doc AS (
      SELECT b.doc_id, b.source, len(b.a) AS n_tok,
             COALESCE(cov.covered, 0) AS covered,
             round(COALESCE(cov.covered, 0)
                   / greatest(len(b.a), 1), 12) AS coverage
      FROM base b LEFT JOIN cov USING (doc_id)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN coverage > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_dups,
           CAST(SUM(covered) AS BIGINT) AS covered_tokens,
           ROUND(
             CAST(CAST(SUM(CAST(coverage AS DECIMAL(38,12))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 6) AS avg_dup_coverage
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-span audit: share of each document's
    token stream covered by an exact {span}-gram that recurs anywhere
    in the corpus (position-exact interval union, touching spans
    coalesced), rolled up to the per-source report a dedup budget is
    planned from. See duplicated_span_coverage for the scale shape;
    the rollup adds one tiny source-keyed exchange."""
    d = _t(spark, sf_dir, "documents")
    per_doc = duplicated_span_coverage(d, "doc_id", "text", span=_SPAN_N)
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("dup_coverage") > 0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("docs_with_dups"),
            F.sum("covered_tokens").cast("bigint").alias("covered_tokens"),
            F.round(
                F.sum(F.col("dup_coverage").cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("avg_dup_coverage"),
        )
        .orderBy("source")
    )


# ----------------------------------- maximal duplicated spans (cut)


@query(
    "dedup_duplicate_spans",
    # same seed-chain algorithm in DuckDB: md5 seed k-grams, hub-capped
    # seed join, islands along each (pa - pb) diagonal, maximal runs.
    # Integer positions + md5 strings only — exact by construction.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), h AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i : i + {_CUT_N - 1}], ' ')) AS h
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {_CUT_N - 1})) AS i
        FROM t WHERE len(toks) >= {_CUT_N}
      )
    ), good AS (
      SELECT h FROM h GROUP BY h
      HAVING COUNT(*) >= 2 AND COUNT(*) <= {_CUT_MAX_DF}
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM h a JOIN h b ON a.h = b.h AND a.doc_id < b.doc_id
      WHERE a.h IN (SELECT h FROM good)
    ), r AS (
      SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
             pa - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
      FROM m
    ), runs AS (
      SELECT doc_a, doc_b,
             MIN(pa) AS a_start, MIN(pb) AS b_start,
             COUNT(*) + {_CUT_N - 1} AS span_tokens
      FROM r GROUP BY doc_a, doc_b, diag, isl
    )
    SELECT runs.doc_a, runs.doc_b, runs.a_start, runs.b_start,
           runs.span_tokens,
           md5(array_to_string(
             t.toks[a_start : a_start + span_tokens - 1], ' ')) AS span_md5
    FROM runs JOIN t ON t.doc_id = runs.doc_a
    WHERE span_tokens >= {_CUT_MIN}
    ORDER BY span_tokens DESC, doc_a, doc_b, a_start, b_start
    LIMIT 100
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans per doc pair — the suffix-array
    exact-substring dedup of Lee et al. (ACL 2022), re-expressed as
    seed-hash joins chained along diagonals (operators/dedup
    duplicated_spans). Unlike dedup_span_coverage (a coverage
    FRACTION), this emits the spans themselves — start positions in
    both docs, token length, content hash — so a curation pipeline
    can CUT the later occurrence and keep each doc's unique remainder
    (the `dedup` task's ``method: "spans"`` does exactly that). Top
    100 spans by length.

    Scale shape: one md5 per token position (staged winnowing
    projection), a hub-capped (max_df={_CUT_MAX_DF}) seed-hash join,
    and pair-keyed windows — no global sort until the final top-k
    (TakeOrdered). Integer-only output → oracle-exact."""
    return (
        duplicated_spans(_t(spark, sf_dir, "documents"))
        .orderBy(
            F.col("span_tokens").desc(), "doc_a", "doc_b", "a_start", "b_start"
        )
        .limit(100)
    )


# --------------------------------------- semantic near-pair audit

#: audit threshold — tuned to the fixture's cosine range (max pair
#: ~0.5); a production corpus with planted paraphrases would sit at
#: the conventional 0.8
_SEM_T = 0.35


@query(
    "dedup_semantic_pairs_audit",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, {FP_SQL.format(t='text')} AS f FROM documents
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {cosine_sql('a.embedding', 'b.embedding')} AS c
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < {_BRUTE_GATE_CAP} AND b.vec_id < {_BRUTE_GATE_CAP}
    )
    SELECT p.id_a, p.id_b, ROUND(p.c, 6) AS cosine,
           (fa.f = fb.f) AS same_text
    FROM pairs p
    JOIN fp fa ON fa.doc_id = p.id_a
    JOIN fp fb ON fb.doc_id = p.id_b
    WHERE p.c >= {_SEM_T}
    ORDER BY p.id_a, p.id_b
    """,
)
def dedup_semantic_pairs_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-pair audit: document pairs above an embedding
    cosine threshold, each flagged with whether their normalized TEXT
    fingerprints also match — splitting textual duplicates (caught by
    cheap exact dedup) from paraphrase-like pairs (only semantic
    dedup catches them). The same_text=false share is what sizes a
    semantic-dedup budget.

    Scale shape: pair generation reuses embedding_near_dup_pairs
    (brute over the BLOCKED vec_id < {_BRUTE_GATE_CAP} slice — the
    full corpus at every sf the driver grades; brute raises loudly
    above its row cap, and method='lsh' is the 100 TB path —
    hyperplane buckets, equi-join, no O(n^2)); fingerprints join by
    doc id onto the tiny surviving pair set, never the cross
    product. An at-scale audit should also prefer cluster/survivor
    (linear) outputs: the TRUE pair count itself grows ~quadratically
    in dup density, so an all-pairs report is output-bound no matter
    how it is computed (503,976 rows at sf1)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("f")
    )
    pairs = embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") < _BRUTE_GATE_CAP
        ),
        "embedding",
        "vec_id",
        threshold=_SEM_T,
        method="brute",
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    fa = d.select(F.col("doc_id").alias("id_a"), F.col("f").alias("fa"))
    fb = d.select(F.col("doc_id").alias("id_b"), F.col("f").alias("fb"))
    return (
        pairs.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            "cosine",
            (F.col("fa") == F.col("fb")).alias("same_text"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------- incremental dedup


@query(
    "dedup_incremental_novel",
    oracle=f"""
    WITH hist AS (
      SELECT {FP_SQL.format(t='text')} AS fp
      FROM documents WHERE source <> 'src19'
    ), batch AS (
      SELECT doc_id, {FP_SQL.format(t='text')} AS fp
      FROM documents WHERE source = 'src19'
      UNION ALL
      SELECT doc_id + 1000000, {FP_SQL.format(t='upper(text)')}
      FROM documents WHERE source <> 'src19' AND doc_id % 37 = 0
    )
    SELECT b.doc_id, b.fp FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
    """,
)
def dedup_incremental_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intake dedup against a MATERIALIZED history index
    (operators/fingerprint_index): the ~100 TB history's fingerprints
    are bucketed-by-fp on disk, built once; the small arriving batch
    anti-joins against them with zero history-side shuffle (asserted
    in tests/test_plan_shapes.py).

    The fixture has no cross-source exact dups, so the batch plants
    its own overlap: alongside the genuinely-new src19 docs it
    "re-crawls" every 37th history doc under a fresh id with
    UPPER-cased text — a fingerprint-invariant mutation the index
    must still catch. Result: the src19 docs alone survive."""
    from dasladen_spark.operators.fingerprint_index import (
        ensure_fingerprint_index,
        novel_against_index,
    )

    d = _t(spark, sf_dir, "documents")
    hist = d.filter(F.col("source") != "src19")
    fp_idx = ensure_fingerprint_index(hist, "fp_hist_idx", tag=sf_dir)
    resub = hist.filter(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    batch = (
        d.filter(F.col("source") == "src19")
        .select("doc_id", "text")
        .unionByName(resub)
    )
    novel = novel_against_index(spark, fp_idx, batch)
    return novel.select("doc_id", "fp").orderBy("doc_id")


#: shared DuckDB CTE for every winnowing-family oracle: winnowed
#: fingerprints per doc (f), exploded (e), per-doc counts (sizes),
#: fingerprint document frequency (df), hub-capped postings (good),
#: and candidate pairs with shared-fp counts (pairs — min_shared is
#: applied by each consumer).
_WINNOW_CTE = f"""
    WITH f AS (
      SELECT doc_id,
        CASE
          WHEN len(hashes) >= {_WIN_W} THEN list_distinct(
            list_transform(
              generate_series(1, len(hashes) - {_WIN_W} + 1),
              j -> list_min(hashes[j : j + {_WIN_W} - 1])))
          WHEN len(hashes) > 0 THEN [list_min(hashes)]
          ELSE [] END AS fps
      FROM (
        SELECT doc_id,
          CASE WHEN len(toks) >= {_WIN_K} THEN
            list_transform(
              generate_series(1, len(toks) - {_WIN_K} + 1),
              i -> md5(array_to_string(toks[i : i + {_WIN_K} - 1], ' ')))
          ELSE [] END AS hashes
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents)
      )
    ), e AS (
      SELECT doc_id, unnest(fps) AS fp FROM f
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_fp FROM e GROUP BY doc_id
    ), df AS (
      SELECT fp, COUNT(*) AS n_docs FROM e GROUP BY fp
    ), good AS (
      SELECT e.doc_id, e.fp FROM e
      JOIN df ON df.fp = e.fp WHERE df.n_docs <= {_WIN_MAX_DF}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fps
      FROM good a JOIN good b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""


@query(
    "dedup_winnowing",
    oracle=_WINNOW_CTE + f"""
    SELECT p.doc_a, p.doc_b, p.shared_fps,
           ROUND(p.shared_fps
                 / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE), 6)
             AS containment
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.shared_fps >= {_WIN_MIN_SHARED}
    ORDER BY shared_fps DESC, doc_a, doc_b
    LIMIT 50
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by winnowed fingerprints — the MOSS
    document-fingerprinting algorithm (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003): hash every k-token shingle, keep only the minimum
    hash of each w-window. Unlike MinHash (a random projection of the
    WHOLE document), winnowing is position-local, so any shared run
    of ≥ k+w-1 tokens is GUARANTEED to surface a shared fingerprint —
    the guarantee plagiarism / license-contamination audits need.

    Scale shape: fingerprinting is one embarrassingly-parallel
    JVM-only projection (split → transform/slice/md5 → window-min),
    subsampling shingles ~2/(w+1) before anything shuffles; the pair
    join is fp-keyed with a MAX_DF hub cap (a fingerprint shared by
    more docs than the cap is corpus boilerplate, not a dup signal —
    same stop-shingle device as dedup_minhash_lsh), so the join
    fan-out per key is bounded by construction. Containment
    denominators use the PRE-cap fingerprint counts, so a hub-capped
    pair can never report inflated similarity. The exploded
    fingerprint frame feeds FOUR plan branches (sizes, df, both join
    sides) — persisted inside winnowing_pairs so fingerprinting runs
    once, not 7-8× (the rollup-persist discipline of the multi-branch
    analytics queries)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        winnowing_pairs(docs)
        .orderBy(F.col("shared_fps").desc(), "doc_a", "doc_b")
        .limit(50)
    )


# ------------------------------------- cross-source near-dup census


@query(
    "dedup_near_rate_by_source",
    oracle=_WINNOW_CTE + f"""
    SELECT LEAST(da.source, db.source) AS src_lo,
           GREATEST(da.source, db.source) AS src_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(p.shared_fps) AS BIGINT) AS total_shared_fps
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE p.shared_fps >= {_WIN_MIN_SHARED}
    GROUP BY 1, 2
    ORDER BY n_pairs DESC, src_lo, src_hi
    LIMIT 20
    """,
)
def dedup_near_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication census: winnowed-fingerprint
    pairs rolled up by unordered source pair — the contamination map
    that says WHICH feeds are mirroring each other (same-source mass
    on the diagonal = internal boilerplate; off-diagonal mass = one
    crawl re-serving another's content, the case where per-source
    dedup quietly admits cross-source copies).

    Scale shape: inherits winnowing_pairs' bounded plan (staged
    fingerprint projection, hub-capped fp join, persisted exploded
    frame); the source tags join on doc id and the rollup is
    |sources|²-bounded."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    pairs = winnowing_pairs(docs.select("doc_id", "text"))
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("source_a", "source_b").alias("src_lo"),
            F.greatest("source_a", "source_b").alias("src_hi"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("shared_fps").cast("bigint").alias("total_shared_fps"),
        )
        .orderBy(F.col("n_pairs").desc(), "src_lo", "src_hi")
        .limit(20)
    )


# --------------------------------------- winnowing cluster census


@query(
    "dedup_winnowing_clusters",
    # the closure member needs WITH RECURSIVE up front (legal for the
    # non-recursive members too)
    oracle=_WINNOW_CTE.replace("WITH f AS", "WITH RECURSIVE f AS", 1) + f"""
    , pe AS (
      SELECT doc_a, doc_b FROM pairs
      WHERE shared_fps >= {_WIN_MIN_SHARED}
    ), und AS (
      SELECT doc_a AS a, doc_b AS b FROM pe
      UNION SELECT doc_b AS a, doc_a AS b FROM pe
    ), {_COMPONENTS_SQL}, cs AS (
      SELECT component, COUNT(*) AS cluster_size FROM lab GROUP BY component
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM cs
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def dedup_winnowing_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup CLUSTER census: pair edges closed
    transitively (a shared-run chain a~b~c is ONE duplication event
    even when a and c share nothing directly), then a histogram of
    cluster sizes — the number that turns "N pairs" into "how many
    documents would near-dup removal actually drop" (Σ (size−1) per
    cluster). The DuckDB oracle recomputes the closure with a
    recursive CTE, so the cluster structure itself is cross-engine
    verified, not just pair counts.

    Scale shape: winnowing pairs span arbitrary docs (no blocking
    key), so closure uses iterative min-label propagation
    (operators/graph connected_components — near-dup graphs are
    shallow; seeded min-neighbor labels + lazy checkpoints keep it to
    ~1 job per round); the census is a two-level rollup of the
    node-sized label frame."""
    from dasladen_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    pairs = winnowing_pairs(docs)
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    cs = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        cs.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
        )
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "n_clusters",
            "n_docs",
        )
        .orderBy("cluster_size")
    )
