"""Generate PLANS.md — a physical-plan audit of the headline queries.

For each bench headline query: join strategies chosen, exchange
(shuffle) count, scan pushdown/pruning summary, Python stage count.
Run after plan-affecting changes; the report is committed so plan
regressions show up in diffs.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dasladen_spark.session import get_spark  # noqa: E402


def audit(plan: str) -> dict:
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    return {
        "joins": {
            j: plan.count(j)
            for j in (
                "BroadcastHashJoin",
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
                "CartesianProduct",
            )
            if plan.count(j)
        },
        "shuffles": plan.count("Exchange hashpartitioning"),
        "broadcasts": plan.count("BroadcastExchange"),
        "aggregates": plan.count("HashAggregate"),
        "python_stages": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "scan_cols": [len(s.split(",")) for s in scans],
        "pushdown": sum(1 for p in pushed if p.strip()),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from bench import HEADLINE
    from dasladen_spark.plans import QUERIES

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of the bench headline queries",
        "",
        f"Auto-generated by tools/plan_report.py at {sf_dir}. Regenerate",
        "after plan-affecting changes; diffs here = plan regressions.",
        "",
        "| query | joins | shuffles | bcasts | aggs | py stages | scan widths | pushdown scans |",
        "|---|---|---|---|---|---|---|---|",
    ]
    # showcase queries beyond the bench headline: the flagship
    # operator shapes a plan reviewer should see audited too
    SHOWCASE = [
        "q_fuzzy_name_match", "q_ntile_spend", "q_gini_spend",
        "q_hhi_concentration", "q_merge_intervals", "q_longest_streak",
        "q_weighted_median", "q_time_weighted_avg", "q_event_transitions",
        "q_copurchase_pairs", "q_skew_diagnostics", "text_tfidf_topk",
        "text_collocations_pmi", "text_oov_rate", "dedup_source_priority",
        "sample_split", "sample_balanced", "q_union_by_name",
        # round-6 shapes worth auditing alongside the headline
        "text_gopher_rules", "q_session_paths", "q_session_conversion",
        "embedding_dispersion", "embedding_centroid_drift",
        "q_population_stability", "q_fulfillment_latency",
        "q_seasonal_anomaly_days", "q_autocorrelation",
        "q_weekday_type_mutual_info", "nb_quality_auc",
        "text_tokenizer_fertility", "q_duplicate_events_audit",
        # round-7 shapes (dedup_winnowing / er_customer_clusters /
        # quality_ks_drift / q_cohort_retention / corpus_dsir_weights
        # are in the bench HEADLINE already)
        "train_curriculum_order", "q_l_diversity_audit",
        "dedup_near_rate_by_source", "dedup_winnowing_clusters",
        "q_ab_conversion_ztest",
        # round-9 shapes: the ANN-prefiltered decontamination (not a
        # bench line — see bench.py's note) and the LSH pair path,
        # both now pure-JVM via the quantized hyperplane kernel
        "decontaminate_semantic_ann", "dedup_clusters_embedding",
        # round-10: SemDeDup (cluster-bounded embedding dedup)
        "dedup_semantic_clusters",
    ]
    # the chained task-file composite EXECUTES its pipeline eagerly
    # and returns a LocalRelation of stage counts — nothing to audit
    # here (its stage plans are the individual task kinds, audited
    # above and in test_plan_shapes; its per-stage cost is the
    # perfbench curation_chain workload's tasks.<kind>_s)
    SKIP = {"pipeline_corpus_e2e"}
    for name in [
        q for q in HEADLINE + [q for q in SHOWCASE if q in QUERIES]
        if q not in SKIP
    ]:
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        a = audit(plan)
        joins = ", ".join(f"{k.replace('Join','')}×{v}" for k, v in a["joins"].items()) or "—"
        lines.append(
            f"| {name} | {joins} | {a['shuffles']} | {a['broadcasts']} |"
            f" {a['aggregates']} | {a['python_stages']} |"
            f" {a['scan_cols']} | {a['pushdown']} |"
        )
    lines.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
