"""Job/runtime metrics (reference O18, SURVEY.md §2).

The reference tracks per-node sort/merge task counts, running-average
task latency, good/bad/redundant counters, and job elapsed time in
hand-rolled maps (``Server.java:29-48``, reported at
``ServerHandler.java:54,67-75``).  Spark already measures all of this in
the DAG scheduler; this helper snapshots it through the public
``StatusTracker`` so engine callers get the same stats report without
any listener plumbing.

Usage::

    result, stats = run_with_metrics(spark, lambda: df.count())
    stats.num_tasks, stats.num_failed_tasks, stats.elapsed_s
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class JobMetrics:
    """The reference's stats report (task counts, failures, elapsed),
    aggregated over every Spark job an action triggered."""

    elapsed_s: float = 0.0
    num_jobs: int = 0
    num_stages: int = 0
    num_tasks: int = 0
    num_failed_tasks: int = 0  # reference "bad jobs" counter
    job_ids: list[int] = field(default_factory=list)


def run_with_metrics(spark: SparkSession, action):
    """Run ``action`` (a zero-arg callable triggering Spark actions) and
    return ``(result, JobMetrics)``.

    Jobs are isolated via a unique job group, so concurrent sessions
    don't pollute the snapshot.  Reading the tracker is driver-local and
    O(#stages) — free at any data scale.
    """
    sc = spark.sparkContext
    group = f"msfs-metrics-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "run_with_metrics", interruptOnCancel=False)
    t0 = time.perf_counter()
    try:
        result = action()
    finally:
        elapsed = time.perf_counter() - t0
        sc.setJobGroup(None, None)

    tracker = sc.statusTracker()
    m = JobMetrics(elapsed_s=elapsed)
    seen_stages: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        m.num_jobs += 1
        m.job_ids.append(jid)
        for sid in info.stageIds:
            if sid in seen_stages:
                # A stage shared between jobs (AQE reuses shuffle
                # stages; later jobs list them as skipped) reports its
                # ONE real execution's counts in every listing job —
                # summing per job double-counted tasks.
                continue
            seen_stages.add(sid)
            sinfo = tracker.getStageInfo(sid)
            if sinfo is None:
                continue
            m.num_stages += 1
            m.num_tasks += sinfo.numCompletedTasks
            m.num_failed_tasks += sinfo.numFailedTasks
    return result, m
