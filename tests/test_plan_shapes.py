"""Physical-plan invariants — the 100 TB guardrails.

Correctness tests prove the small-SF answer; these prove the *plan*
is the one we'd want on a 1000-executor cluster: filters reach the
parquet scan, projections prune columns, small dims broadcast, big
joins shuffle on keys (not nested loops), signature UDFs run exactly
once, and nothing funnels through a single partition unless the
result is provably tiny.
"""

import re

import pytest

from dasladen_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_scan_filter_project_pushdown(spark):
    plan = plan_of(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan or "GreaterThan" in plan
    # column pruning: the lineitem scan must read only the 4 needed
    # columns plus filter columns, never the full 11-column schema
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    assert len(m.group(1).split(",")) <= 5


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q7_nation_volume",
        "q8_market_share",
        "q9_profit_proxy",
        "q13_custdist",
        "q17_small_qty_revenue",
    ],
)
def test_fact_joins_are_hash_joins_not_nested_loops(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_q5_region_nation_broadcast(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert "BroadcastExchange" in plan


def test_q1_partial_aggregation(spark):
    # partial (map-side) aggregation before the exchange: two
    # HashAggregate levels around one shuffle
    plan = plan_of(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_simhash"])
def test_signature_dedup_is_pure_jvm_with_partial_agg(spark, name):
    """Since round 8 the signature stage is explode + codegen'd
    aggregates: NO Python anywhere in the plan, and the signature
    aggregate must partial-combine map-side (two HashAggregate levels)
    so the shuffle carries one signature per doc, not the shingles."""
    plan = plan_of(spark, name)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_topk_uses_limit_not_global_sort_materialization(spark):
    # deterministic top-k should end in TakeOrderedAndProject (limit
    # pushed into the sort), not a full global Sort + CollectLimit
    plan = plan_of(spark, "q_topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_window_topk_partitions_by_group(spark):
    # the per-group top-k must window over the group key — a global
    # (empty-partition) window would single-thread the sort
    plan = plan_of(spark, "q_window_topk_per_group")
    assert "SinglePartition" not in plan


def test_asof_join_no_cartesian(spark):
    plan = plan_of(spark, "q_asof_join")
    assert "CartesianProduct" not in plan


def test_exact_dedup_single_shuffle(spark):
    # one hash exchange on the dedup key — no sort-based re-shuffle
    plan = plan_of(spark, "dedup_exact")
    assert plan.count("Exchange hashpartitioning") == 1


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed on the join key -> SortMergeJoin with zero
    Exchange nodes: the write-once-shuffle-never layout for repeated
    100 TB fact joins."""
    from pyspark.sql import functions as F

    from dasladen_spark.session import load_table
    from dasladen_spark.sinks.bucketed import read_table, write_bucketed

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    for t in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    l = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_orderdate")
    write_bucketed(l, "b_lineitem", "l_orderkey", 8, sort_cols="l_orderkey")
    write_bucketed(o, "b_orders", "o_orderkey", 8, sort_cols="o_orderkey")

    bl, bo = read_table(spark, "b_lineitem"), read_table(spark, "b_orders")
    # disable broadcast so the tiny test tables take the same SMJ
    # path a 100 TB fact-fact join would
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).groupBy(
            "o_orderdate"
        ).agg(F.sum("l_quantity").alias("q"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        pre_agg = plan.split("HashAggregate")[-1]  # below the partial agg
        assert "Exchange" not in pre_agg, pre_agg
        # and it computes the same thing as the unbucketed plan
        plain = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderdate")
            .agg(F.sum("l_quantity").alias("q"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("b_lineitem", "b_orders"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """A filter on the partition key must become a PartitionFilter
    (directory pruning before any I/O) — and the pruned scan must
    read fewer files than the full dataset has."""
    from pyspark.sql import functions as F

    from dasladen_spark.session import load_table
    from dasladen_spark.sinks.partitioned import write_partitioned

    ev = load_table(spark, SF, "events").withColumn(
        "day", F.to_date("ts").cast("string")
    )
    out = str(tmp_path / "ev_part")
    write_partitioned(ev, out, "day")

    scan = spark.read.parquet(out).filter(F.col("day") == "2024-01-01")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    m = [seg for seg in plan.split("PartitionFilters: [")[1:]]
    assert any("day" in seg.split("]")[0] for seg in m), plan


def test_compact_reduces_file_count(spark, tmp_path):
    import os

    from dasladen_spark.session import load_table
    from dasladen_spark.sinks.partitioned import compact

    out = str(tmp_path / "frag")
    # fragment: 64 small files
    load_table(spark, SF, "orders").repartition(64).write.parquet(out)
    n_before = sum(
        1 for _r, _d, fs in os.walk(out) for f in fs if f.endswith(".parquet")
    )
    assert n_before == 64
    rows_before = spark.read.parquet(out).count()
    n_after = compact(spark, out, target_mb=128)
    assert n_after < 8
    assert spark.read.parquet(out).count() == rows_before


def test_compact_crash_between_renames_keeps_data_readable(
    spark, tmp_path, monkeypatch
):
    """Kill the swap between rename-to-backup and rename-into-place:
    the canonical path must still hold the complete original data
    (rolled back), never a missing/partial dataset."""
    import os as _os

    from dasladen_spark.session import load_table
    from dasladen_spark.sinks.partitioned import compact

    out = str(tmp_path / "frag2")
    load_table(spark, SF, "orders").repartition(16).write.parquet(out)
    rows_before = spark.read.parquet(out).count()

    real_rename = _os.rename

    def failing_rename(src, dst):
        if src.endswith(".compact.tmp"):
            raise OSError("simulated crash mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        compact(spark, out, target_mb=128)
    monkeypatch.undo()

    assert spark.read.parquet(out).count() == rows_before
    # and a clean retry still compacts
    assert compact(spark, out, target_mb=128) < 8
    assert spark.read.parquet(out).count() == rows_before


def test_write_sorted_produces_globally_ordered_files(spark, tmp_path):
    """Part files from write_sorted must tile the keyspace: each
    file internally sorted AND file ranges non-overlapping — global
    order without a single-task sort."""
    import os

    from dasladen_spark.session import load_table
    from dasladen_spark.sinks.partitioned import write_sorted

    out = str(tmp_path / "sorted")
    write_sorted(
        load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice"),
        out,
        "o_totalprice",
        num_files=8,
    )
    files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(files) >= 2
    ranges = []
    total = 0
    for f in files:
        vals = [r["o_totalprice"] for r in spark.read.parquet(f).collect()]
        if not vals:
            continue
        assert vals == sorted(vals)          # sorted within file
        ranges.append((min(vals), max(vals)))
        total += len(vals)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2                    # files tile the keyspace
    assert total == load_table(spark, SF, "orders").count()


def test_write_zordered_skips_files_on_any_clustered_column(spark, tmp_path):
    """Z-order clustering must deliver multi-column data skipping: a
    predicate on the NON-sort column prunes (by footer min/max) most
    z-ordered files, while a single-column-sorted layout leaves every
    file overlapping that predicate's range. Also: clustering must
    never lose rows."""
    import os

    import pyarrow.parquet as pq

    from dasladen_spark.session import load_table
    from dasladen_spark.sinks.partitioned import write_sorted
    from dasladen_spark.sinks.zorder import write_zordered

    from pyspark.sql import functions as F

    df = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    n_rows = df.count()
    lin, zo = str(tmp_path / "linear"), str(tmp_path / "zorder")
    write_sorted(df, lin, "l_orderkey", num_files=16)
    write_zordered(df, zo, ("l_orderkey", "l_partkey"), n_files=16)

    bounds = df.agg(
        F.min("l_partkey").alias("lo"), F.max("l_partkey").alias("hi")
    ).collect()[0]
    span = bounds["hi"] - bounds["lo"]
    # probe: a partkey-only slice covering ~1/8 of the value range
    q_lo = bounds["lo"] + span * 0.5
    q_hi = bounds["lo"] + span * 0.625

    def overlap_fraction(path):
        hit, total = 0, 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }["l_partkey"]
            fmin = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            total += 1
            if fmax >= q_lo and fmin <= q_hi:
                hit += 1
        return hit / total, total

    lin_frac, lin_n = overlap_fraction(lin)
    zo_frac, zo_n = overlap_fraction(zo)
    assert lin_n >= 8 and zo_n >= 8
    assert lin_frac >= 0.9          # single-col sort: no skipping on col 2
    assert zo_frac <= 0.5           # z-order: most files pruned
    assert spark.read.parquet(zo).count() == n_rows


def test_text_corpus_cleanup_two_wide_stages_only(spark):
    """The cleanup pipeline's docstring claims exactly two shuffles
    (fingerprint dedup window + final rollup); a refactor that adds a
    third wide stage silently doubles the 100 TB bill."""
    plan = plan_of(spark, "text_corpus_cleanup")
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_ann_cosine_topk_broadcasts_queries(spark):
    """Exact ANN baseline: the query set must BROADCAST against the
    corpus scan. The only allowed wide exchanges are (a) the final
    per-query top-k on query_id and (b) the explicit local-mode
    spread (REPARTITION_BY_NUM — a no-op when the corpus scan already
    yields enough splits); any ENSURE_REQUIREMENTS shuffle of the
    corpus would be the scale-killer."""
    plan = plan_of(spark, "ann_cosine_topk")
    assert "BroadcastExchange" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "REPARTITION_BY_NUM" not in line:
            assert "query_id" in line, "unexpected corpus shuffle:\n" + line


def test_dedup_minhash_lsh_single_wide_bucket_join(spark):
    """MinHash-LSH pair generation: one banded-bucket shuffle feeds
    the in-bucket pair expansion; the signature UDF must not force a
    second full-corpus exchange."""
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_cluster_pairs_use_lsh_not_allpairs(spark):
    """dedup_clusters_embedding generates candidate pairs with the
    LSH bucket equi-join; the sweep test below can't see inside the
    label-propagation loop (checkpointed lineage), so assert the pair
    stage directly: no cartesian/non-equi self-join anywhere."""
    from dasladen_spark.operators.dedup import embedding_near_dup_pairs
    from dasladen_spark.session import load_table

    pairs = embedding_near_dup_pairs(
        load_table(spark, SF, "embeddings"),
        "embedding",
        "vec_id",
        threshold=0.8,
        method="lsh",
        num_tables=16,
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_decontaminate_broadcasts_benchmark_ngrams(spark):
    """The benchmark n-gram set must broadcast — the training side of
    a 100 TB corpus never shuffles for the contamination probe."""
    plan = plan_of(spark, "decontaminate_ngrams")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name", ["doc_chunks", "text_repetition", "pii_redact"]
)
def test_narrow_llm_transforms_have_no_shuffle(spark, name):
    """Chunking / repetition flags / redaction are pure map stages:
    any Exchange would mean a scale-breaking accidental shuffle."""
    plan = plan_of(spark, name)
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize(
    "name", ["train_shuffle_shards", "pack_sequences"]
)
def test_global_order_queries_avoid_single_partition(spark, name):
    """Global shard order / prefix sums must come from the range-
    partitioned ranking operators, never a one-task global window."""
    plan = plan_of(spark, name)
    assert "SinglePartition" not in plan, plan


# Queries where a "red-flag" plan node is the *intended* shape: the
# offending side is provably tiny (a scalar aggregate row, a broadcast
# query set, a month spine) or the op is definitionally cartesian.
_EXPECTED_FLAGS = {
    "q_cross_join": {"cartesian", "bnlj"},  # definitionally cartesian
    # brute-force ANN: tiny query set broadcast against the corpus
    "ann_cosine_topk": {"bnlj"},
    "dedup_embedding_cosine": {"bnlj"},
    # fixed-size benchmark slice broadcast against one corpus scan
    "decontaminate_semantic": {"bnlj"},
    # k-sized sketch scalars (thetas, union theta, match count)
    # cross-joined into the single result row — all 1-row frames
    "text_kmv_gram_overlap": {"bnlj", "single-partition"},
    "dedup_semantic_pairs_audit": {"bnlj"},  # brute pairs for oracle exactness
    # exact baseline is the broadcast brute scan; per-method 1-row summaries
    "ann_recall_report": {"bnlj", "single-partition"},

    # scalar-subquery thresholds: 1-row aggregate broadcast-compared
    "q11_important_stock": {"bnlj", "single-partition"},
    "q22_idle_customers": {"bnlj", "single-partition"},
    "q_funnel": {"bnlj", "single-partition"},
    # global scalar aggregates: only partial sums cross the exchange
    "q6_forecast_revenue": {"single-partition"},
    "q14_promo_revenue": {"single-partition"},
    "q15_top_supplier": {"single-partition"},
    "q17_small_qty_revenue": {"single-partition"},
    "q19_or_predicates": {"single-partition"},
    "q_union_all_counts": {"single-partition"},
    "q_profile_table": {"single-partition"},
    # running total over the days-sized rollup (calendar-bounded)
    "q_cumulative_distinct_users": {"single-partition"},
    # share normalizer over the 9-row digit table
    "q_benford_digits": {"single-partition"},
    # five 1-row stage summaries (scalar rollups by construction)
    "corpus_clean_funnel": {"single-partition"},
    # budget window over the S-row source rollup (source-count bounded)
    "corpus_mixture_plan": {"single-partition"},
    "corpus_mixture_sample": {"single-partition"},
    # three 1-row scalar-subquery counts; NOT IN needs the null-aware
    # broadcast anti join (NAAJ)
    "q_not_in_null_trap": {"single-partition", "bnlj"},
    # LAG(12) over the months-sized spine (calendar-bounded)
    "q_yoy_revenue": {"single-partition"},
    # 1-row percentile summary of the lag deltas
    "q_purchase_intervals": {"single-partition"},
    # 1-row Gini summary after the distributed global rank
    "q_gini_spend": {"single-partition"},
    # 1-row latency percentile summary
    "q_conversion_latency": {"single-partition"},
    # 1-row min/max bounds feeding the month spine
    "q_gapfill_monthly": {"single-partition"},
    # OLS over the K-bounded (500-row) vocabulary frame
    "text_zipf_slope": {"single-partition"},
    # 1-row triangle census scalar (only partial counts cross)
    "q_triangle_count": {"single-partition"},
    # same 1-row census scalar, over the Doulion-sampled edge set
    "q_triangle_count_estimate": {"single-partition"},
    # dense ranker: 1 query vector broadcast against the corpus (the
    # same tiny-side shape as ann_cosine_topk); fusion join is 100×100.
    # single-partition: bm25_scored's avgdl/n_docs corpus stats are a
    # lazy 1-row aggregate broadcast (crossJoin) — only partial sums
    # cross the exchange, same class as q6_forecast_revenue
    "retrieval_rrf_hybrid": {"bnlj", "single-partition"},
    # same 1-row avgdl/n_docs scalar broadcast: the bnlj IS the 1-row
    # crossJoin (build side is one row by construction), replacing an
    # eager collect that cost an extra tokenize action per plan build
    "text_bm25_topk": {"bnlj", "single-partition"},
    # bounded probe sample broadcast against the corpus (exact-scan
    # audit; the ANN index is the at-scale path)
    "embedding_knn_label_agreement": {"bnlj"},
    # 1-row confusion summary (only partial sums cross the exchange)
    "q_rater_agreement_kappa": {"single-partition"},
    # 1-row normalizer (Σ N_h·σ_h) broadcast back over the 5-row
    # stratum table
    "sample_neyman_allocation": {"bnlj", "single-partition"},
    # 1-row (total, z) normalizer broadcast over the S-row source table
    "corpus_mixture_temperature": {"bnlj", "single-partition"},
    # 1-row (count, hash-sum) checksum — only partial sums cross
    "q_dataset_fingerprint": {"single-partition"},
    # inherits the classifier's 2-row-label broadcast cross; the
    # confusion summary is two 1-row aggregates
    "nb_eval_report": {"bnlj", "single-partition"},
    # LAG over the days-sized rollup (calendar-bounded, like
    # q_cumulative_distinct_users)
    "q_daily_quality_scorecard": {"single-partition"},
    # two 1-row summaries (totals + top-10 sum) broadcast-crossed
    "q_user_concentration": {"bnlj", "single-partition"},
    # label list (2 rows) broadcast-crossed onto doc tokens; 1-row
    # grand-total doc count for the prior
    "text_nb_quality_score": {"bnlj", "single-partition"},
    # 1-row moment stats broadcast back over the norms projection
    "embedding_norm_outliers": {"single-partition", "bnlj"},
    # 1-row basket-total broadcast-crossed onto the rule pairs
    "q_association_rules": {"bnlj", "single-partition"},
    # 1-row (slack, alarm) moments broadcast over the days-sized
    # rollup; CUSUM windows are calendar-bounded
    "q_cusum_drift": {"bnlj", "single-partition"},
    # 1-row grand-total broadcast over the 7-row weekday rollup
    "q_weekday_seasonality": {"bnlj", "single-partition"},
    # 1-row vocabulary-size broadcast-crossed onto the scoring terms
    "text_lm_perplexity": {"bnlj", "single-partition"},
    # inherits the NB scorer's label broadcast; 1-row AUC summary
    "nb_quality_auc": {"bnlj", "single-partition"},
    # bounded probe set broadcast against the corpus (exact-scan
    # audit; ANN index + label post-filter is the at-scale path)
    "embedding_hard_negatives": {"bnlj"},
    # 1-row grand-total + two 1-row marginal-count broadcasts over the
    # ≤ 7×|types|-cell contingency table
    "q_weekday_type_mutual_info": {"bnlj", "single-partition"},
    # 4-row lag spine + 1-row moments broadcast over the weeks-sized
    # rollup
    "q_autocorrelation": {"bnlj", "single-partition"},
    # 1-row audit summary of the QI-group rollup
    "q_k_anonymity_audit": {"single-partition"},
    # inherits the LM scorer's 1-row vocab broadcast; corpus-total +
    # weight-sum normalizers are 1-row broadcasts over the S-row table
    "corpus_mixture_excess_loss": {"bnlj", "single-partition"},
    # 1-row totals broadcast over the bucket-cardinality cells; the
    # PSI itself is a 1-row summary
    "q_population_stability": {"bnlj", "single-partition"},
    # inherits the NB scorer's label broadcast; cumulative sweep over
    # the distinct-margin frame (eval-audit bound)
    "nb_threshold_calibration": {"bnlj", "single-partition"},
    # inherits the LM scorer's vocab broadcast; 1-row correlation
    # summary of five sufficient statistics
    "quality_signal_correlation": {"bnlj", "single-partition"},
    # 1-row funnel summary of the per-session marks rollup
    "q_session_conversion": {"single-partition"},
    # 1-row vitals summary (exact percentile over per-session rows)
    "q_session_quality": {"single-partition"},
    # 1-row quartile-bounds broadcast-crossed onto the doc scan
    "train_curriculum_order": {"bnlj", "single-partition"},
    # 1-row audit summary of the QI-group rollup (k-anonymity's twin)
    "q_l_diversity_audit": {"single-partition"},
    # ECDF sweep over the distinct ROUNDED scores (≤ 10⁴ rows by
    # construction) + 1-row cohort-total broadcast cross
    "quality_ks_drift": {"bnlj", "single-partition"},
    # 1-row corpus-totals broadcast over the vocabulary-sized λ table
    "corpus_dsir_weights": {"bnlj", "single-partition"},
    # 1-row fold of four exact counts (the z-test inputs)
    "q_ab_conversion_ztest": {"single-partition"},
    # inherits the NB scorer's label broadcast; decile ranking windows
    # over the eval slice only (doc_id % 5 audit sample)
    "nb_reliability_bins": {"bnlj", "single-partition"},
    # 1-row observation-cutoff broadcast; survival fold runs on the
    # duration-bucket frame (calendar-bounded, ≤ ~100 rows)
    "q_kaplan_meier": {"bnlj", "single-partition"},
    # 1-row global min/max bounds broadcast onto the scan; the cell
    # rollup itself hash-partitions over ≤ 2^10 cells
    "q_zorder_locality": {"bnlj", "single-partition"},
    # 1-row corpus-total broadcast; the inverse-CDF merge windows over
    # DISTINCT rounded scores (≤ 10⁴ rows by construction, the
    # quality_ks_drift bound) before broadcasting the mapping back
    "quality_quantile_normalize": {"bnlj", "single-partition"},
    # 1-row (x̄, mR̄) limits broadcast over the days-sized series;
    # the lag runs on the calendar-bounded day frame
    "q_xmr_control_limits": {"bnlj", "single-partition"},
    # brute 1-bit first-pass: tiny probe set broadcast against the
    # packed corpus (the ann_cosine_topk shape, 16 bytes/vector)
    "ann_hamming_topk": {"bnlj"},
    # both rankings are the broadcast-probe shape (tiny query set
    # against the corpus scan), the eval join is |queries|·k rows
    "retrieval_ndcg_mrr": {"bnlj"},
}


def test_no_query_has_unexpected_scale_red_flags(spark):
    """Sweep EVERY registered query's physical plan: cartesian
    products, nested-loop joins, and single-partition exchanges are
    only allowed where the whitelist documents why the tiny side
    makes them the right plan. A new query accidentally windowing
    the whole input through one task fails here, not at 100 TB."""
    bad = {}
    for name, fn in sorted(QUERIES.items()):
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        flags = set()
        if "CartesianProduct" in plan:
            flags.add("cartesian")
        if "BroadcastNestedLoopJoin" in plan:
            flags.add("bnlj")
        if "SinglePartition" in plan:
            flags.add("single-partition")
        extra = flags - _EXPECTED_FLAGS.get(name, set())
        if extra:
            bad[name] = sorted(extra)
    assert not bad, f"unexpected scale red flags: {bad}"


#: function tokens whose re-evaluation per array element is the
#: O(n²)-per-row signature (md5-per-kgram was the round-6
#: dedup_winnowing 183s lesson)
_EXPENSIVE_FN = (
    "md5(",
    "sha2(",
    "levenshtein(",
    "regexp_extract_all(",
    "regexp_replace(",
    "regexp_count(",
)

_NODE_KIND = re.compile(r"^[\s:+|-]*([A-Za-z]+)")


def test_no_expensive_expression_reinlined_into_lambdas_or_filters(spark):
    """Sweep EVERY registered query's OPTIMIZED plan for the two
    re-inlining shapes the structural red-flag sweep cannot see —
    exactly how dedup_winnowing shipped 46× slow in round 6:

    - *nested-hof*: an expensive function inside ≥2 nested
      ``lambdafunction`` bodies on one plan node. Higher-order
      function lambdas get no codegen or common-subexpression
      elimination, so an inner ``transform(... md5 ...)`` re-runs at
      EVERY outer window position — O(n²) md5s per row. (A flat
      Project repeating md5 N times is fine: whole-stage codegen CSE
      dedups it — e.g. text_lang_id's 35 regexp_counts fold to 5.)
    - *filter-hof*: a Filter node computing an array ``transform`` —
      the InferFiltersFromGenerate size-guard pushed through a staged
      projection, rebuilding the whole array (and re-running split
      per lambda element) just to test its size. Cure: explode_outer
      + an isNotNull filter on the generate OUTPUT column.
    - *inferred-notnull-hof*: a Filter whose ``isnotnull(...)``
      argument contains a lambda — join constraint propagation
      inferred isnotnull on a DERIVED join key and predicate pushdown
      inlined the whole producing expression (e.g. the lattice argmin
      kernel) below the projection: the kernel evaluated twice per
      row, and on the raw scan side of the spread (caught live in
      r12: dedup_semantic_clusters at sf1 ran the k=80 kernel on a
      2-task stage for 22 s). Cure: make derived join keys
      non-nullable (COALESCE(expr, sentinel)) so the constraint is
      never generated. A plain cosine-threshold filter (HOF compared
      to a constant, no isnotnull wrap) is the query's real work and
      does NOT flag.
    """

    def _isnotnull_wraps_lambda(line: str) -> bool:
        for m in re.finditer(r"isnotnull\(", line):
            depth, i = 1, m.end()
            while i < len(line) and depth:
                if line[i] == "(":
                    depth += 1
                elif line[i] == ")":
                    depth -= 1
                i += 1
            if "lambdafunction(" in line[m.end(): i]:
                return True
        return False

    bad = {}
    for name, fn in sorted(QUERIES.items()):
        plan = fn(spark, SF)._jdf.queryExecution().optimizedPlan().toString()
        flags = set()
        for line in plan.splitlines():
            m = _NODE_KIND.match(line)
            kind = m.group(1) if m else ""
            n_lam = line.count("lambdafunction(")
            n_exp = sum(line.count(t) for t in _EXPENSIVE_FN)
            if n_lam >= 2 and n_exp >= 2:
                flags.add("nested-hof")
            if kind == "Filter" and "transform(" in line:
                flags.add("filter-hof")
            if kind == "Filter" and _isnotnull_wraps_lambda(line):
                flags.add("inferred-notnull-hof")
        if flags:
            bad[name] = sorted(flags)
    assert not bad, f"expensive expressions re-inlined: {bad}"


def test_mixture_sample_broadcasts_rates(spark):
    """The S-row rate table must broadcast onto the corpus scan — a
    sort-merge join here would shuffle the whole corpus to apply a
    20-row filter."""
    plan = plan_of(spark, "corpus_mixture_sample")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_int8_quantize_broadcasts_scales(spark):
    """Per-dim scales (64 rows) broadcast back onto the exploded
    stream; the corpus must not re-shuffle for the error join."""
    plan = plan_of(spark, "embedding_int8_quantize")
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_span_coverage_no_cartesian(spark):
    """Span-coverage joins are hash equi-joins on shingle hash and
    doc id — never a nested loop."""
    plan = plan_of(spark, "dedup_span_coverage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_indexed_ann_search_has_no_corpus_side_shuffle(spark):
    """The point of the materialized ANN index: at query time the
    bucketed posting scan feeds the broadcast probe join directly —
    zero Exchange and zero Python UDF on the corpus side (signatures
    were precomputed at build time)."""
    plan = plan_of(spark, "ann_indexed_topk")
    assert "BroadcastHashJoin" in plan
    # children of the join print after it: streamed (corpus) side
    # first, then the BroadcastExchange of the query probes
    corpus_side = plan.split("BroadcastHashJoin", 1)[1].split(
        "BroadcastExchange", 1
    )[0]
    assert "Exchange" not in corpus_side, corpus_side
    assert "EvalPython" not in corpus_side, corpus_side
    assert "Scan" in corpus_side


def test_fingerprint_index_anti_join_no_history_shuffle(spark):
    """The point of the materialized fingerprint index: the batch
    anti-joins the bucketed history scan in place — every index scan
    is bucketed and the only hash Exchanges in the plan are the batch
    side shuffling INTO the bucket layout (at 100 TB the history
    never moves; re-shuffling it per intake batch is the cost this
    operator exists to remove)."""
    plan = plan_of(spark, "dedup_incremental_novel")
    assert "SortMergeJoin" in plan and "LeftAnti" in plan
    scans = [
        ln
        for ln in plan.splitlines()
        if "fp_hist_idx" in ln and "FileScan" in ln
    ]
    assert scans, plan
    assert all("Bucketed: true" in ln for ln in scans), scans
    # exactly one hash Exchange per anti-join (its batch side), plus
    # the final output range sort — nothing feeding an index scan
    n_joins = plan.count("SortMergeJoin")
    n_hash_ex = plan.count("Exchange hashpartitioning")
    assert n_hash_ex == n_joins, plan
    assert plan.count("Exchange") == n_joins + plan.count(
        "Exchange rangepartitioning"
    ), plan


def test_pq_indexed_search_scans_codes_only(spark):
    """The PQ-compressed index's probe scan reads CODE BYTES, never
    vectors: the posting FileScan projects (probe, neighbor_id,
    codes) — full embeddings appear only in the shortlist re-rank's
    corpus fetch."""
    plan = plan_of(spark, "ann_pq_indexed_topk")
    scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "ann_idx_pq" in ln and "_pqbooks" not in ln
    ]
    assert scans, plan
    for ln in scans:
        assert "codes" in ln, ln
        assert "cv" not in ln.replace("cv_", ""), ln
    # probe join is broadcast — the posting scan feeds it in place
    assert "BroadcastHashJoin" in plan


def test_brute_cosine_pairs_spread_before_nested_loop(spark, sf_dir):
    """The brute-force cosine pair join must repartition its stream
    side before the nested-loop pair expansion: a dimension-sized
    file scans as ONE task, and without the spread the entire O(n^2)
    cosine pass runs on a single core (bit at sf1: 20k vectors =
    200M cosines on one thread)."""
    from dasladen_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_dup_pairs(
        emb, "embedding", "vec_id", threshold=0.4, method="brute"
    )
    plan = pairs._sc._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted"
    )
    nlj = plan.split("BroadcastNestedLoopJoin", 1)
    assert len(nlj) == 2, "brute path should plan a BNLJ"
    # the stream side (printed before the BroadcastExchange child)
    # must carry an Exchange — the _spread repartition
    stream_side = nlj[1].split("BroadcastExchange", 1)[0]
    assert "Exchange" in stream_side, "stream side not spread"
    # and the partition count must match the cluster, not the file
    assert (
        pairs.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )


def test_lattice_assignment_is_shuffle_free(spark, sf_dir):
    """r12: the lattice cell assignment is per-row column expressions
    (HOF distance folds + argmin), so assign_cells must plan ZERO
    exchanges and ZERO generators, and with_cells must attach the
    cell without any join. The round-11 shape shuffled one k-cell row
    per vector through a groupBy exchange, and with_cells re-joined
    the assignment onto the corpus by id — two corpus-scale shuffles
    that a projection now replaces."""
    import numpy as np
    from pyspark.sql import functions as F

    from dasladen_spark.operators.similarity import (
        assign_cells,
        with_cells,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = np.asarray(
        [r["embedding"] for r in emb.orderBy("vec_id").limit(4).collect()],
        np.float64,
    )

    def fmt(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    cells = assign_cells(emb, cent, "vec_id", "embedding")
    plan = fmt(cells)
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan

    wc = with_cells(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
        ),
        cent,
        "cv",
    )
    plan2 = fmt(wc)
    assert "Exchange" not in plan2, plan2
    assert "Join" not in plan2, plan2
    # and the attach keeps every input column plus the cell
    assert set(wc.columns) == {"neighbor_id", "cv", "cell"}
