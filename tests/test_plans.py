"""Plan-library smoke + spot value checks at sf0.001 (the full
oracle sweep lives in tools/check_oracles.py; these keep pytest
self-contained and fast)."""

import duckdb
import pytest

from dasladen_spark.functions.text import fingerprint, quality_score
from dasladen_spark.plans import ORACLES, QUERIES
from dasladen_spark.plans.shared import FP_SQL, QUALITY_SQL
from dasladen_spark.session import TABLES

SPOT = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q_window_topk_per_group",
    "q_asof_join",
    "dedup_exact",
    "text_token_count",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def test_every_query_has_callable():
    # 276 queries, 271 of them with a DuckDB oracle (5 are rows-only)
    assert len(QUERIES) == 276
    assert len(ORACLES) == 271
    for name in ORACLES:
        assert name in QUERIES


@pytest.mark.parametrize("name", SPOT)
def test_spot_query_matches_oracle(spark, sf_dir, duck, name):
    from tools.check_oracles import compare

    sdf = QUERIES[name](spark, sf_dir).toPandas()
    ddf = duck.execute(ORACLES[name]).df()
    assert compare(name, sdf, ddf) == []


def test_rows_only_queries_run(spark, sf_dir):
    for name in set(QUERIES) - set(ORACLES):
        n = QUERIES[name](spark, sf_dir).count()
        assert n >= 0


@pytest.mark.parametrize(
    "column_fn, spelling",
    [(fingerprint, FP_SQL), (quality_score, QUALITY_SQL)],
    ids=["fingerprint", "quality_score"],
)
def test_fingerprint_oracle_matches_spark_on_punctuated_text(spark, column_fn, spelling):
    """Each oracle spelling in plans/shared must agree with its
    functions.text Column on punctuated / multi-space / blank text — a
    doubled-backslash spelling once made the oracle's whitespace
    collapse a no-op, and a blank document once scored 0.25 in Spark
    against 0.0 in DuckDB, both vacuously green on the fixtures."""
    from pyspark.sql import functions as F

    texts = [
        "Hello,  world",
        "Tabs\tand\nnewlines  +  punct!!!",
        "MiXeD CaSe -- dashes & amps",
        "trailing spaces   ",
        "unicode é accents…",
        "",
        "   ",
        "1234 5678",
        "!!! ???",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id BIGINT, text STRING"
    )
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", column_fn(F.col("text")).alias("fp")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO docs VALUES (?, ?)", [(i, t) for i, t in enumerate(texts)]
    )
    want = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT doc_id, {spelling.format(t='text')} FROM docs"
        ).fetchall()
    }
    assert got == want


def test_mixture_sample_keeps_whole_source_at_rate_one(spark, tmp_path):
    """A source whose equal-share budget exceeds its token count gets
    sample_rate 1.0 and must be kept WHOLE — the lexicographic
    threshold compare alone would silently drop ~15/16 of it. Spark
    and the DuckDB oracle must also still agree on this skewed mix."""
    rows = [(i, "web", "alpha beta gamma delta " * 50) for i in range(40)]
    rows += [(i, "books", "tiny doc words here") for i in range(40, 45)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING, text STRING")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["source"]: (r["kept_docs"], r["kept_tokens"])
        for r in QUERIES["corpus_mixture_sample"](spark, str(tmp_path)).collect()
    }
    assert got["books"] == (5, 20)  # rate clamps to 1.0 → all kept

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(ORACLES["corpus_mixture_sample"]).fetchall()
    }
    assert got == want


def test_cdc_diff_apply_roundtrip_reconstructs_new_snapshot(spark):
    """Closure property tying the CDC producer to the consumer:
    applying snapshot_diff's output to the old snapshot (upsert
    inserts+updates, anti-join deletes) reconstructs the new snapshot
    exactly — no change lost, none invented."""
    from pyspark.sql import functions as F

    from dasladen_spark.operators.merge import merge_upsert, snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], ["k", "v"]
    )
    new = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (4, 40.0), (5, 50.0)], ["k", "v"]
    )  # 2 updated, 3 deleted, 5 inserted
    diff = snapshot_diff(old, new, "k").persist()
    upserts = diff.filter("change_type != 'delete'").select(
        "k", F.col("new_values")["v"].alias("v")
    )
    deletes = diff.filter("change_type = 'delete'").select("k")
    rebuilt = merge_upsert(old, upserts, "k").join(deletes, "k", "left_anti")
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, new.collect())
    )
    diff.unpersist()


def test_lm_perplexity_survives_short_docs(spark, tmp_path):
    """Docs tokenizing to 0 or 1 tokens must not crash the bigram
    builder: Spark's sequence(2, n) DESCENDS for n < 2 and element_at
    then throws — the guard short-circuits them to no bigrams, same
    as the oracle's generate_series semantics."""
    from dasladen_spark.plans.text import text_lm_perplexity

    import hashlib

    def is_test(i):  # the md5 hash split text_lm_perplexity uses
        return hashlib.md5(f"lm{i}".encode()).hexdigest()[:8] < "33333333"

    test_ids = [i for i in range(100) if is_test(i)]
    train_ids = [i for i in range(100) if not is_test(i)][:3]
    rows = [
        (test_ids[0], "", "en", "s", 0),            # test slice, empty
        (test_ids[1], "word", "en", "s", 4),        # test, 1 token
        (test_ids[2], "alpha beta gamma alpha beta", "en", "s", 29),
        (train_ids[0], "alpha beta gamma delta", "en", "s", 22),
        (train_ids[1], "beta gamma alpha beta", "en", "s", 21),
        (train_ids[2], "!", "en", "s", 1),          # train, 0 tokens
    ]
    spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING,"
        " n_chars LONG"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r["n_bigrams"]
        for r in text_lm_perplexity(spark, str(tmp_path)).collect()
    }
    # token-less test docs simply have no bigram rows; the real doc does
    assert test_ids[0] not in got and test_ids[1] not in got
    assert got[test_ids[2]] == 4
