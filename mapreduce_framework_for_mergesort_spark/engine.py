"""``MergeSortEngine`` — facade mirroring the reference's job API.

The reference client submits one blocking job:
``sortFile(fileName, chunkSize, mergeJobs) -> result filename``
(``Client.java:20-39``, ``Server.thrift:4``).  The facade keeps that
surface (so a user of the reference can switch 1:1) while the body is the
idiomatic Spark pipeline: read text → parse ints → global sort → write
text.  ``chunk_size`` is the FileScan split size: the text source's
records are space-delimited, so it splits the reference's one-line file
into ``chunk_size`` byte ranges cut at spaces, as the reference's chunk
planning does (SURVEY.md O1/O2).  ``merge_jobs``
is accepted-and-ignored: Spark's shuffle merges sorted spills in a single
pass, subsuming the reference's multi-round merge tree
(``Server.java:290-405``; SURVEY.md O8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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
        merge_jobs: int | None = None,  # noqa: ARG002 — reference parity, subsumed by shuffle
        output_path: str | None = None,
    ) -> str:
        """Reference ``SNService.sortFile`` (``ServerHandler.java:23-80``).

        Returns the output path, like the reference returns the final
        merged filename (``ServerHandler.java:79``).
        """
        out = output_path or f"{file_name}_sorted"
        if chunk_size:
            # chunk_size maps to the scan split conf, which Spark
            # consults at EXECUTION time — and the whole job executes
            # inside this block (write_ints_text is the action), so
            # the setting can be scoped and restored instead of
            # leaking onto the shared session for every later read
            # (round-4+ review; ``ingest`` alone cannot scope it
            # because it returns a lazy DataFrame — its docstring
            # carries the warning)
            from mapreduce_framework_for_mergesort_spark.io import (
                scoped_session_confs,
            )

            with scoped_session_confs(
                self.spark,
                (("spark.sql.files.maxPartitionBytes", str(chunk_size)),),
            ):
                df = self.sort_ints(self.ingest(file_name, chunk_size))
                ingest.write_ints_text(df, out)
            return out
        df = self.sort_ints(self.ingest(file_name, chunk_size))
        ingest.write_ints_text(df, out)
        return out

    def sort_file_with_stats(
        self,
        file_name: str,
        chunk_size: int | None = None,
        merge_jobs: int | None = None,
        output_path: str | None = None,
    ) -> tuple[str, JobMetrics]:
        """``sort_file`` plus the reference's post-job stats report
        (task counts / failures / elapsed — ``ServerHandler.java:64-75``
        prints the same after every job)."""
        return run_with_metrics(
            self.spark,
            lambda: self.sort_file(file_name, chunk_size, merge_jobs, output_path),
        )

    def ingest(self, file_name: str, chunk_size: int | None = None) -> DataFrame:
        """.. warning:: ``chunk_size`` sets
        ``spark.sql.files.maxPartitionBytes`` GLOBALLY on the shared
        session (same justification as ``io.load_table``'s documented
        mutations: the conf is consulted when the returned LAZY
        DataFrame executes, so this method cannot scope it).  Prefer
        ``sort_file``, which executes its whole job inside a scoped
        block and restores the conf."""
        if chunk_size:
            # Reference chunkSize (bytes, README.md:57) == input split size.
            self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(chunk_size))
        return ingest.drop_invalid(ingest.read_ints_text(self.spark, file_name))

    def sort_ints(self, df: DataFrame) -> DataFrame:
        return sort.sort_global(df, ["value"])
