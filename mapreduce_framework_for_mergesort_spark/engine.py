"""``MergeSortEngine`` — facade mirroring the reference's job API.

The reference client submits one blocking job:
``sortFile(fileName, chunkSize, mergeJobs) -> result filename``
(``Client.java:20-39``, ``Server.thrift:4``).  The facade keeps that
surface (so a user of the reference can switch 1:1) while the body is the
idiomatic Spark pipeline: read text → parse ints → global sort → write
text.  ``chunk_size`` is the FileScan split size: the text source's
records are space-delimited, so it splits the reference's one-line file
into ``chunk_size`` byte ranges cut at spaces, as the reference's chunk
planning does (SURVEY.md O1/O2).  ``merge_jobs`` is accepted and ignored,
for signature parity only: the reduce side merges its sorted spills in
one pass of unbounded fan-in, where the reference's merge tree
(``Server.java:290-405``; SURVEY.md O8) bounds each merge to
``mergeJobs`` runs.  Bounding that fan-in is ROADMAP §1's open item.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from mapreduce_framework_for_mergesort_spark.io import scoped_session_confs
from mapreduce_framework_for_mergesort_spark.metrics import (
    JobMetrics,
    run_with_metrics,
)
from mapreduce_framework_for_mergesort_spark.operators import ingest, sort


class MergeSortEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def sort_file(
        self,
        file_name: str,
        chunk_size: int | None = None,
        merge_jobs: int | None = None,  # noqa: ARG002 — reference parity
        output_path: str | None = None,
    ) -> str:
        """Reference ``SNService.sortFile`` (``ServerHandler.java:23-80``).

        Returns the output path, like the reference returns the final
        merged filename (``ServerHandler.java:79``).
        """
        out = output_path or f"{file_name}_sorted"
        # chunkSize (bytes, README.md:57) is the scan split size, which
        # Spark consults at execution time; write_ints_text is the
        # action, so the whole job runs inside the scope and the conf is
        # restored instead of leaking onto the shared session.
        confs = (
            (("spark.sql.files.maxPartitionBytes", str(chunk_size)),)
            if chunk_size else ()
        )
        with scoped_session_confs(self.spark, confs):
            ints = ingest.drop_invalid(ingest.read_ints_text(self.spark, file_name))
            ingest.write_ints_text(sort.sort_global(ints, ["value"]), out)
        return out

    def sort_file_with_stats(self, file_name: str) -> tuple[str, JobMetrics]:
        """``sort_file`` plus the reference's post-job stats report
        (task counts / failures / elapsed — ``ServerHandler.java:64-75``
        prints the same after every job)."""
        return run_with_metrics(self.spark, lambda: self.sort_file(file_name))
