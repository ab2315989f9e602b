"""bench.py's timing loop: the median, the per-rep record and the A/B
pair order, on the sf0.001 fixture."""

import pytest

import bench
from dasladen_spark.plans import QUERIES
from test_tasks import _next_job_id


def test_time_query_median_of_two_is_their_mean(spark, sf_dir):
    res = bench.time_query(spark, "scan_filter_project", sf_dir, reps=2)["A"]
    a, b = res["samples"]
    assert res["median_s"] == pytest.approx((a + b) / 2, abs=1e-3)
    assert res["rows"] == QUERIES["scan_filter_project"](spark, sf_dir).count()


@pytest.mark.parametrize(
    "name",
    [
        "scan_filter_project",
        "q1_pricing_summary",
        "q5_local_supplier_volume",
        "dedup_exact",
    ],
)
def test_rep_record_counts_the_jobs_the_rep_launched(spark, sf_dir, name):
    fn = QUERIES[name]
    fn(spark, sf_dir).count()  # warm
    before = _next_job_id(spark)
    _, _, record = bench._rep(spark, fn, sf_dir)
    assert record["jobs"] == _next_job_id(spark) - before
    assert record["jobs"] >= 1
    assert record["tasks"] >= record["stages"] >= 1
    assert record["build_s"] >= 0 and record["count_s"] > 0


def test_ab_pairs_alternate_which_arm_goes_first(spark, sf_dir):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    res = bench.time_query(
        spark, "scan_filter_project", sf_dir, reps=2, ab=(key, "4", "8")
    )
    assert res["order"] == ["A", "B", "B", "A"]
    assert len(res["A"]["samples"]) == len(res["B"]["samples"]) == 2
    assert spark.conf.get(key) == before
