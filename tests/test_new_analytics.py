"""Cross-query differentials and invariants for the round-7 analytic
additions — properties the DuckDB oracle (same formula, other engine)
cannot establish on its own."""

import pandas as pd

from dasladen_spark.plans import QUERIES


def test_bloom_prefilter_hits_equal_exact_join(spark, sf_dir):
    """The bloom stage must be a pure PREFILTER: verified hit counts
    per doc equal the exact decontaminate_ngrams join (same gram
    width, same benchmark split) — if a true hit ever misses, the
    bloom admitted the wrong candidate set."""
    bloom = (
        QUERIES["decontaminate_bloom_prefilter"](spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
    )
    exact = (
        QUERIES["decontaminate_ngrams"](spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
    )
    assert set(exact.index) == set(bloom[bloom.n_hits > 0].index)
    joined = bloom.join(
        exact.rename(columns={"n_hits": "n_hits_exact"}), how="inner"
    )
    assert (joined.n_hits == joined.n_hits_exact).all()
    # candidate set is a superset of the verified set, never smaller
    assert (bloom.n_candidates >= bloom.n_hits).all()
    assert (bloom.n_false_pos == bloom.n_candidates - bloom.n_hits).all()


def test_kaplan_meier_curve_invariants(spark, sf_dir):
    km = (
        QUERIES["q_kaplan_meier"](spark, sf_dir)
        .toPandas()
        .sort_values("months")
        .reset_index(drop=True)
    )
    assert len(km) > 5
    # survival is a probability and non-increasing in duration
    assert km.survival.between(0.0, 1.0).all()
    assert (km.survival.diff().dropna() <= 1e-12).all()
    # the risk set can only shrink as duration grows
    assert (km.n_at_risk.diff().dropna() <= 0).all()
    # deaths never exceed the at-risk count
    assert (km.n_churned <= km.n_at_risk).all()
    # first point is exactly 1 - d/n (fold of a single factor)
    first = km.iloc[0]
    expected = round(1.0 - first.n_churned / first.n_at_risk, 6)
    assert abs(first.survival - expected) < 1e-9


def test_bradley_terry_accounting_and_closed_form(spark, sf_dir):
    bt = QUERIES["pref_bradley_terry"](spark, sf_dir).toPandas()
    # every match contributes one win and appears in both players'
    # game counts: Σwins = Σgames / 2
    assert bt.n_wins.sum() * 2 == bt.n_games.sum()
    # iteration 1 from the uniform start is exactly 2·wins/games
    for _, r in bt.iterrows():
        assert abs(r.rating_iter1 - round(2 * r.n_wins / r.n_games, 6)) < 1e-9
    # ratings are positive and the frame covers ≥ 2 event types
    assert (bt.rating_iter1 > 0).all() and (bt.rating_iter2 > 0).all()
    assert len(bt) >= 2


def test_quantile_normalize_bounds_and_population(spark, sf_dir):
    qn = QUERIES["quality_quantile_normalize"](spark, sf_dir).toPandas()
    assert len(qn) == 20  # one row per fixture source
    # quality scores live in [0, 1]; so must their quantile images
    for col in ("mean_raw", "mean_normalized"):
        assert qn[col].between(0.0, 1.0).all(), col
    assert (qn.mean_abs_shift >= 0).all()
    # normalization must not change the corpus size
    docs = QUERIES["text_quality"](spark, sf_dir).toPandas()
    assert qn.n_docs.sum() == len(docs)


def test_forecast_backtest_error_geometry(spark, sf_dir):
    bt = QUERIES["q_forecast_backtest"](spark, sf_dir).toPandas()
    assert len(bt) == 25
    # MAE dominates |bias| (triangle inequality over the error series)
    assert (bt.mae >= bt.bias.abs() - 1e-9).all()
    assert (bt.mape >= 0).all() and (bt.n_weeks > 0).all()


def test_xmr_limits_and_flags_recompute(spark, sf_dir):
    xmr = (
        QUERIES["q_xmr_control_limits"](spark, sf_dir)
        .toPandas()
        .sort_values("day")
        .reset_index(drop=True)
    )
    assert (xmr.ucl > xmr.center).all() and (xmr.center > xmr.lcl).all()
    # limits are constant across the chart (one global (x̄, mR̄))
    assert xmr.ucl.nunique() == 1 and xmr.lcl.nunique() == 1
    # recompute the flag from the published limits: the exact-decimal
    # flag may only disagree with the rounded-limit flag on rows that
    # sit within rounding distance of a limit
    recomputed = (xmr.x > xmr.ucl) | (xmr.x < xmr.lcl)
    disagree = xmr[recomputed != (xmr.out_of_control == 1)]
    near = (disagree.x - disagree.ucl).abs().lt(1e-5) | (
        disagree.x - disagree.lcl
    ).abs().lt(1e-5)
    assert disagree.empty or near.all()


def test_quantile_normalize_nulls_do_not_distort_and_names_guarded(spark):
    import pytest
    from pyspark.sql import functions as F

    from dasladen_spark.operators.scoring import quantile_normalize_map

    base = spark.createDataFrame(
        [("a", 0.1), ("a", 0.2), ("a", 0.3), ("b", 0.2), ("b", 0.4)],
        "grp string, score double",
    )
    clean = quantile_normalize_map(base, "grp", "score").toPandas()
    with_nulls = quantile_normalize_map(
        base.unionByName(
            spark.createDataFrame(
                [("a", None), (None, 0.05)], "grp string, score double"
            )
        ),
        "grp",
        "score",
    ).toPandas()
    # NULL score / NULL group rows must not shift anyone's mapping
    key = lambda df: df.sort_values(["grp", "score"]).reset_index(drop=True)
    assert key(clean).equals(key(with_nulls))
    # internal names are reserved, loudly
    with pytest.raises(ValueError, match="reserved"):
        quantile_normalize_map(
            base.withColumnRenamed("score", "nq"), "grp", "nq"
        )
    with pytest.raises(ValueError, match="must differ"):
        quantile_normalize_map(base, "grp", "grp")


def test_retrieval_ndcg_mrr_bounds_and_self_consistency(spark, sf_dir):
    """nDCG@10 must sit in [0, 1] for every query, reciprocal rank in
    {0} ∪ [1/10, 1], plus the sanity floor that the 1-bit pass agrees
    with exact cosine on a reasonable share of queries (it is a real
    first-pass, not noise)."""
    rows = QUERIES["retrieval_ndcg_mrr"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["ndcg_10"] <= 1.0 + 1e-12, r
        assert r["reciprocal_rank"] == 0.0 or (
            1.0 / 10 - 1e-12 <= r["reciprocal_rank"] <= 1.0
        ), r
    mean_ndcg = sum(r["ndcg_10"] for r in rows) / len(rows)
    assert mean_ndcg > 0.2, mean_ndcg  # 64 sign bits carry real signal


def test_quantile_normalize_localize_rollup_cap_enforced(spark):
    """An unrounded score column makes the counts rollup corpus-sized;
    the localize path must refuse to collect it, loudly, BEFORE the
    driver-side fetch (VERDICT r7 'What's wrong' #1)."""
    import pytest
    from pyspark.sql import functions as F

    from dasladen_spark.operators.scoring import (
        quantile_normalize_map_from_counts,
    )

    # 1000 distinct (group, value) rows — "unrounded" relative to the
    # tiny cap below
    counts = spark.range(1000).select(
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id").cast("double") / 7.0).alias("score"),
        F.lit(1).cast("bigint").alias("c"),
    )
    with pytest.raises(ValueError, match="bounded cardinality"):
        quantile_normalize_map_from_counts(
            counts, "grp", "score", max_rollup_rows=100
        )
    # under the cap the same frame normalizes fine
    ok = quantile_normalize_map_from_counts(
        counts, "grp", "score", max_rollup_rows=100_000
    )
    assert ok.count() == 1000


def test_semantic_contamination_matches_numpy_brute_force(spark, sf_dir):
    """decontaminate_semantic vs a numpy dense cosine matrix: same
    flagged set, same nearest-benchmark assignment, cosines equal to
    1e-9 (numpy's pairwise/SIMD summation is allowed to differ from
    the sequential fold in the last ulp, never more)."""
    import numpy as np

    res = (
        QUERIES["decontaminate_semantic"](spark, sf_dir)
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").toPandas()
    mat = np.stack(emb.embedding.map(np.asarray)).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    bench = (ids % 11 == 0) & (ids < 500)
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat[~bench] @ mat[bench].T) / np.outer(
        norms[~bench], norms[bench]
    )
    best = cos.max(axis=1)
    nearest = ids[bench][cos.argmax(axis=1)]
    flagged = {
        int(i): (int(n), float(c))
        for i, n, c in zip(ids[~bench], nearest, best)
        if c >= 0.35
    }
    assert set(res.index) == set(flagged)
    for vid, row in res.iterrows():
        nb, mc = flagged[vid]
        assert row.nearest_bench_id == nb
        assert abs(row.max_cosine - mc) < 1e-9
        assert row.max_cosine >= 0.35
    # flagged rows are training rows only (not in the fixed bench)
    assert all(not (v % 11 == 0 and v < 500) for v in res.index)


def test_kcenter_coreset_matches_numpy_greedy(spark, sf_dir):
    """sample_coreset_kcenter vs a numpy greedy reference (same seed
    rule, same smaller-id tie-break): identical pick trajectory, and
    the farthest-point distance sequence is non-increasing — the
    defining property of greedy k-center."""
    import numpy as np

    res = (
        QUERIES["sample_coreset_kcenter"](spark, sf_dir)
        .toPandas()
        .sort_values("pick_order")
        .reset_index(drop=True)
    )
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    mat = np.stack(emb.embedding.map(np.asarray)).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    picks = [0]  # row index of the lowest id (sorted)
    d2 = ((mat - mat[0]) ** 2).sum(axis=1)
    order = [int(ids[0])]
    sel_d2 = [None]
    for _ in range(1, 8):
        far = int(np.argmax(d2))  # first max = smallest id on ties
        order.append(int(ids[far]))
        sel_d2.append(float(d2[far]))
        d2 = np.minimum(d2, ((mat - mat[far]) ** 2).sum(axis=1))
        picks.append(far)
    assert list(res.vec_id) == order
    assert res.d2.iloc[0] is None or pd.isna(res.d2.iloc[0])
    got = res.d2.iloc[1:].to_numpy()
    want = np.array(sel_d2[1:])
    assert np.allclose(got, want, atol=1e-9)
    # farthest-point distances are non-increasing
    assert (np.diff(got) <= 1e-12).all()
    # picks are distinct corpus members
    assert res.vec_id.is_unique and set(res.vec_id) <= set(ids)


def test_kcenter_coreset_guards_empty_and_exhausted(spark):
    import pytest as _pytest

    from dasladen_spark.operators.sampling import kcenter_coreset

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="empty"):
        kcenter_coreset(empty, k=3)
    # three rows, two DISTINCT vectors: the third pick would re-pick
    # a center with d2=0 — must fail loudly, not duplicate ids
    dup = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="distinct vectors"):
        kcenter_coreset(dup, k=3)


def test_semantic_contamination_string_bench_ids(spark):
    """The argmax tie-break must not assume numeric bench ids — a
    string question_id would cast to NULL under id negation and
    silently break nearest_bench_id (the min(struct(-cos, id))
    encoding handles any orderable id type)."""
    from dasladen_spark.operators.decontaminate import (
        semantic_contamination,
    )

    train = spark.createDataFrame(
        [(10, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    bench = spark.createDataFrame(
        # two bench vectors with IDENTICAL cosine to the train vec:
        # tie must break to the LESSER string id
        [("q-b", [2.0, 0.0]), ("q-a", [3.0, 0.0]), ("q-z", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    got = semantic_contamination(train, bench, threshold=0.5).collect()
    assert len(got) == 1
    assert got[0]["nearest_bench_id"] == "q-a"
    assert abs(got[0]["max_cosine"] - 1.0) < 1e-12


def test_kcenter_coreset_rejects_nan_null_and_bad_k(spark):
    import pytest as _pytest

    from dasladen_spark.operators.sampling import kcenter_coreset

    nan = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [float("nan"), 0.0]), (3, [5.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="non-finite"):
        kcenter_coreset(nan, k=3)
    nulls = spark.createDataFrame(
        [(None, [0.0]), (2, [1.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="NULL id"):
        kcenter_coreset(nulls, k=2)
    ok = spark.createDataFrame(
        [(1, [0.0]), (2, [1.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="k must be"):
        kcenter_coreset(ok, k=0)


def test_hll_portable_rollup_accuracy_and_merge(spark, sf_dir):
    """The portable HLL: estimates land within the m=16 error
    envelope of the exact counts, and the monthly row (built by
    MERGING daily sketches) is as accurate as the daily ones — the
    mergeable-rollup property the query exists to demonstrate. The
    DuckDB oracle already pins every bit; this checks the sketch is
    a USEFUL estimator, not just a replayable one."""
    df = (
        QUERIES["q_hll_portable_rollup"](spark, sf_dir)
        .toPandas()
        .assign(
            rel_err=lambda d: (d.est_distinct - d.exact_distinct).abs()
            / d.exact_distinct
        )
    )
    assert (df.exact_distinct > 0).all()
    assert set(df.level) == {"day", "month"}
    # raw HLL (no linear-counting correction — ln() isn't
    # engine-portable, and the correction would cost the exact
    # oracle) is only calibrated above ~3m distinct; hold those rows
    # to the 1.04/sqrt(16)=26% envelope (3 sigma worst-row), and the
    # small-range rows to a loose known-bias sanity bound
    big = df[df.exact_distinct >= 3 * 16]
    if len(big):
        assert big.rel_err.mean() < 0.2, big.rel_err.mean()
        assert big.rel_err.max() < 0.8, big.rel_err.max()
    assert df.rel_err.max() < 1.5, df.rel_err.max()
    # monthly covers at least as many users as its busiest day
    mx_day = df[df.level == "day"].exact_distinct.max()
    assert (df[df.level == "month"].exact_distinct >= mx_day).all()


def test_kmv_overlap_estimates_within_envelope(spark, sf_dir):
    """KMV sketch accuracy: the union and intersection estimates land
    within the k=256 relative-error envelope (~1/sqrt(k) ≈ 6.3%, give
    3 sigma) of the exact counts the same query reports — the oracle
    pins the bits; this pins the statistics."""
    row = QUERIES["text_kmv_gram_overlap"](spark, sf_dir).collect()[0]
    assert row["exact_union"] > 256  # sketch is genuinely lossy here
    rel_u = abs(row["est_union"] - row["exact_union"]) / row["exact_union"]
    assert rel_u < 0.2, rel_u
    # the intersection estimator divides by a smaller effective k —
    # allow a wider band, but it must be in the right ballpark
    rel_i = (
        abs(row["est_intersection"] - row["exact_intersection"])
        / max(row["exact_intersection"], 1)
    )
    assert rel_i < 0.5, rel_i
    assert row["exact_intersection"] <= row["exact_union"]


def test_kmv_overlap_not_full_sketch_is_exact(spark, sf_dir, monkeypatch):
    """With k raised above every source's gram count the sketches are
    wholly known, and the fallback must return the EXACT union and
    intersection (effective theta = full hash space, union = merged
    size) — not an extrapolation, and never zero rows (the
    under-filled union rank bug)."""
    import dasladen_spark.plans.sketches as sketches

    monkeypatch.setattr(sketches, "_KMV_K", 1 << 20)
    row = sketches.text_kmv_gram_overlap(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r["est_union"] == float(r["exact_union"])
    assert r["est_intersection"] == float(r["exact_intersection"])
