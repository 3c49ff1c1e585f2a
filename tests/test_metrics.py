"""Metrics helper (reference O18 stats report)."""

from __future__ import annotations

from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.metrics import run_with_metrics


def test_metrics_capture_jobs_and_tasks(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    result, stats = run_with_metrics(
        spark, lambda: li.groupBy("l_returnflag").count().collect()
    )
    assert len(result) > 0
    assert stats.num_jobs >= 1
    assert stats.num_stages >= 2  # partial agg + exchange-fed final agg
    assert stats.num_tasks >= 2
    assert stats.num_failed_tasks == 0
    assert stats.elapsed_s > 0


def test_metrics_isolated_per_run(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    _, first = run_with_metrics(spark, lambda: li.limit(5).collect())
    _, second = run_with_metrics(spark, lambda: li.limit(5).collect())
    # each snapshot only sees its own job group
    assert set(first.job_ids).isdisjoint(second.job_ids)
