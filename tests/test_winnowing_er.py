"""Winnowing fingerprint guarantees and entity-resolution closure.

The oracle sweep proves cross-engine value parity; these tests pin
the SEMANTIC guarantees the oracle can't express: the winnowing
coverage theorem (any shared token run of length ≥ k+w-1 yields a
shared fingerprint) and ER transitivity (A≈B≈C clusters A with C
even though levenshtein(A, C) exceeds the match threshold).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from dasladen_spark.operators.dedup import WINNOW_K as _WIN_K
from dasladen_spark.operators.dedup import WINNOW_W as _WIN_W
from dasladen_spark.operators.dedup import winnow_fps_expr as _winnow_fps
from dasladen_spark.plans.registry import ORACLES, QUERIES


def _fps(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    rows = df.select("doc_id", _winnow_fps("text").alias("fps")).collect()
    return {r["doc_id"]: set(r["fps"]) for r in rows}


def test_winnowing_coverage_guarantee(spark):
    """Docs sharing a run of k+w-1 tokens MUST share a fingerprint
    (Schleimer et al. theorem 1) — whatever surrounds the run."""
    run = " ".join(f"shared{i}" for i in range(_WIN_K + _WIN_W - 1))
    a = "alpha beta gamma delta " + run + " epsilon zeta"
    b = "one two " + run + " three four five six seven"
    fps = _fps(spark, [a, b])
    assert fps[0] & fps[1], "guaranteed shared fingerprint missing"


def test_winnowing_disjoint_docs_share_nothing(spark):
    a = " ".join(f"left{i}" for i in range(30))
    b = " ".join(f"right{i}" for i in range(30))
    fps = _fps(spark, [a, b])
    assert fps[0] and fps[1]
    assert not (fps[0] & fps[1])


def test_winnowing_short_doc_boundaries(spark):
    """< k tokens → no fingerprints; ≥ k tokens but fewer hashes than
    one window → exactly the single overall-min fingerprint."""
    too_short = " ".join(f"t{i}" for i in range(_WIN_K - 1))
    # exactly k tokens → 1 k-gram hash → below the w-window → 1 fp
    one_gram = " ".join(f"u{i}" for i in range(_WIN_K))
    fps = _fps(spark, [too_short, one_gram, ""])
    assert fps[0] == set()
    assert len(fps[1]) == 1
    assert fps[2] == set()


def test_winnowing_real_document_lengths_density_and_linearity(spark):
    """The sf fixtures' ≤100-token docs barely exercise the k-gram
    explosion — this drives ``winnow_fingerprints`` (the production
    staged-projection path) at REAL document lengths:

    - density: distinct fingerprints per k-gram hash ≈ 2/(w+1), the
      Schleimer et al. expected winnowing density for random hashes;
    - linearity: quadrupling tokens-per-doc must scale wall time with
      slope < 1.2 (log-time over log-size) — the round-6 re-inlined
      plan was O(n²) per doc and would show slope ≈ 2 here.
    """
    import random
    import time

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]

    def corpus(n_docs, n_tok):
        return spark.createDataFrame(
            [
                (i, " ".join(rng.choice(vocab) for _ in range(n_tok)))
                for i in range(n_docs)
            ],
            "doc_id LONG, text STRING",
        )

    from dasladen_spark.operators.dedup import winnow_fingerprints

    # density at a real length (one doc is enough — the ratio is per-doc)
    n_tok = 5000
    d = corpus(4, n_tok)
    n_fps = winnow_fingerprints(d).count() / 4
    n_hashes = n_tok - _WIN_K + 1
    density = n_fps / n_hashes
    expected = 2.0 / (_WIN_W + 1)
    assert 0.6 * expected <= density <= 1.4 * expected, density

    # linearity: same doc count, 4× tokens per doc
    small, big = corpus(24, 2500), corpus(24, 10000)
    winnow_fingerprints(small).count()  # codegen/JIT warmup
    t0 = time.time()
    winnow_fingerprints(small).count()
    t_small = time.time() - t0
    t0 = time.time()
    winnow_fingerprints(big).count()
    t_big = time.time() - t0
    import math

    slope = math.log(max(t_big, 1e-3) / max(t_small, 1e-3)) / math.log(4.0)
    assert slope < 1.2, (t_small, t_big, slope)


def test_er_clusters_are_transitive(spark, tmp_path):
    """A≈B and B≈C (each levenshtein 1) must land in ONE cluster with
    the min-key representative, even though A→C is distance 2; an
    unmatched name in its own block yields no cluster row. The DuckDB
    recursive-CTE oracle must agree on the same planted fixture."""
    from tools.check_oracles import compare

    rows = [
        (1, "Chain#X00", 0, 0.0, "SEG"),
        (2, "Chain#X01", 0, 0.0, "SEG"),  # dist 1 from X00, X11
        (3, "Chain#X11", 0, 0.0, "SEG"),  # dist 2 from X00
        (9, "Alone#Z99", 0, 0.0, "SEG"),
    ]
    df = spark.createDataFrame(
        rows,
        "c_custkey LONG, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    got = QUERIES["er_customer_clusters"](spark, str(tmp_path))
    pdf = got.toPandas()
    assert len(pdf) == 1
    assert int(pdf.loc[0, "cluster_id"]) == 1
    assert int(pdf.loc[0, "n_members"]) == 3
    assert pdf.loc[0, "rep_name"] == "Chain#X00"

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"'{tmp_path / 'customer.parquet'}/*.parquet'"
    )
    ddf = con.execute(ORACLES["er_customer_clusters"]).df()
    assert compare("er_customer_clusters", pdf, ddf) == []


def test_curriculum_phases_are_monotone(spark, sf_dir):
    """Phase must be non-decreasing in n_tokens: sort the schedule by
    n_tokens and the phase column may never step down — the property
    that makes it a curriculum."""
    full = QUERIES["train_curriculum_order"](spark, sf_dir)
    pdf = full.toPandas().sort_values(["n_tokens", "doc_id"])
    phases = pdf["phase"].tolist()
    assert phases == sorted(phases)
    assert set(phases) <= {1, 2, 3, 4}
