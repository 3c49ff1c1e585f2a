"""Incremental Count-Min maintenance over a stream.

The CMS is mergeable by elementwise addition (``operators/sketches``),
which makes the streaming composition trivial AND exactly-once: each
microbatch's sketch is written to its own ``epoch=N`` partition with
``overwrite`` — a retried epoch overwrites its own partition
idempotently, so double-counting is structurally impossible (contrast
the ``append``-based ingest path, whose at-least-once caveat is
documented in ``streaming/ingest.py``).  Reads merge all epochs with
one bounded aggregation: every epoch partition is ≤ d·w rows BY
CONSTRUCTION, so the stored sketch grows by at most d·w rows per
microbatch regardless of stream volume, and ``compact_frequency_
sketch`` folds history back to a single ≤ d·w-row partition whenever
the epoch count itself gets long.

This is the 100 TB shape for streaming frequency monitoring (token /
domain / user-id heavy hitters over an unbounded stream): per-batch
work is one map-side-combined count capped at d·w cells, state is
bounded metadata, and the whole thing stays value-verifiable because
the batch operator it composes is (``cms_*`` grains of
``q_profile_stats``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.operators.sketches import (
    CMS_D,
    CMS_W,
    cms_sketch,
)


def update_frequency_sketch(
    batch: DataFrame, epoch: int, sketch_path: str, key: str
) -> None:
    """One microbatch step (the ``foreachBatch`` body, callable
    directly for backfills): sketch the batch and overwrite THIS
    epoch's partition.  Idempotent under retries — a replayed epoch
    replaces its own cells, never appends."""
    cms_sketch(batch, key).write.mode("overwrite").parquet(
        f"{sketch_path}/epoch={epoch}"
    )


def read_frequency_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The merged sketch across all stored epochs: one bounded
    aggregation (≤ d·w cells per epoch).  Equal, cell-for-cell, to
    ``cms_sketch`` over the concatenated batches — pinned in tests."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact_frequency_sketch(
    spark: SparkSession, sketch_path: str, out_path: str
) -> None:
    """Fold all epochs into a single ``epoch=0`` partition at a NEW
    location (the merged sketch is itself ≤ d·w rows).  Reads are
    already correct without this; compaction just bounds the file
    count after long streams.

    Deliberately NOT in-place: the source directory is never touched,
    so a crash mid-compaction cannot lose the live sketch (the caller
    repoints readers to ``out_path`` and deletes the old directory at
    leisure), and everything goes through Spark IO — no local-
    filesystem ``shutil`` calls that would break on hdfs://-style
    paths (round-4+ review; the first cut did an in-place rmtree+move
    with exactly both problems)."""
    # normalize trivial aliases (trailing slashes, '.'/'..' segments)
    # so 'dir/' vs 'dir' can't sneak past the in-place guard; distinct
    # spellings that resolve to one directory only through the
    # filesystem (symlinks, relative-vs-absolute) are the caller's
    # responsibility — resolving them here would need local-FS calls
    # that break on hdfs://-style paths
    import posixpath

    def _norm(p: str) -> str:
        scheme, sep, rest = p.rpartition("://")
        return scheme + sep + posixpath.normpath(rest) if sep else posixpath.normpath(p)

    if _norm(out_path) == _norm(sketch_path):
        raise ValueError(
            "compact_frequency_sketch is copy-based: out_path must "
            "differ from sketch_path (in-place compaction could lose "
            "the live sketch on a mid-write crash)"
        )
    read_frequency_sketch(spark, sketch_path).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{out_path}/epoch=0")


def frequency_sketch_stream(
    stream: DataFrame, sketch_path: str, checkpoint_dir: str, key: str
):
    """Wire a streaming DataFrame into the incremental sketch: one
    ``foreachBatch`` writer, epoch-keyed idempotent updates.  Returns
    the started query (``availableNow`` trigger, same harness contract
    as ``ingest_documents_stream``)."""

    def step(batch: DataFrame, epoch: int) -> None:
        update_frequency_sketch(batch, epoch, sketch_path, key)

    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
