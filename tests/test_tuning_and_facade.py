"""Engine facade stats and chunking, and streaming checkpoint
(exactly-once restart) semantics."""

from __future__ import annotations

import glob
import random
import shutil

from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark import plans
from mapreduce_framework_for_mergesort_spark.engine import MergeSortEngine
from mapreduce_framework_for_mergesort_spark.io import (
    scoped_session_confs,
    table_path,
)
from mapreduce_framework_for_mergesort_spark.operators import ingest


def test_sort_file_with_stats(spark, tmp_path):
    vals = [5, 3, 999999, 1, 1000000]
    path = tmp_path / "ints.txt"
    path.write_text(" ".join(map(str, vals)))
    out, stats = MergeSortEngine(spark).sort_file_with_stats(str(path))
    toks = []
    for p in sorted(glob.glob(out + "/part-*")):
        toks.extend(int(t) for t in open(p).read().split())
    assert toks == sorted(vals)
    assert stats.num_jobs >= 1 and stats.num_tasks >= 1
    assert stats.num_failed_tasks == 0


def test_stream_checkpoint_exactly_once_across_restart(spark, sf_smoke, tmp_path):
    """File-source streaming with a checkpoint: restart after new files
    arrive must process only the new files — no duplicates, no loss
    (the engine-level form of the reference's 'job completes correctly
    after failure' scenarios)."""
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    events_file = table_path(sf_smoke, "events")
    shutil.copy(events_file, src / "batch1.parquet")

    schema = spark.read.parquet(str(src)).schema
    n_one = spark.read.parquet(str(src)).count()

    def drain():
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(str(out)).count() == n_one

    shutil.copy(events_file, src / "batch2.parquet")
    drain()  # restart from checkpoint: only batch2 is new
    assert spark.read.parquet(str(out)).count() == 2 * n_one


def test_sort_file_chunk_size_conf_is_scoped(spark, tmp_path):
    """sort_file(chunk_size=...) must not leak the split-size conf
    onto the shared session: the whole job executes inside a scoped
    block and the previous value is restored (round-4+ review — the
    first cut pinned tiny scan splits for the session's lifetime)."""
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    path = tmp_path / "ints.txt"
    path.write_text("5 3 999999 1 4")
    out = MergeSortEngine(spark).sort_file(str(path), chunk_size=4096)
    assert spark.conf.get(key) == before
    from glob import glob

    toks = [
        t
        for p in sorted(glob(f"{out}/part-*"))
        for t in open(p).read().split()
    ]
    assert toks == ["1", "3", "4", "5", "999999"]


def test_sort_file_chunks_one_line_file(spark, tmp_path):
    """The reference's O1/O2 chunking: a one-line file splits into
    ``chunk_size`` scan tasks at spaces, parsed with no Python."""
    rng = random.Random(7)
    vals = [rng.randint(-(2**31), 2**31 - 1) for _ in range(8000)]
    vals += [999999, 1000000, 999999]
    path = tmp_path / "ints.txt"
    path.write_text(" ".join(map(str, vals)))
    assert path.stat().st_size >= 64 * 1024
    with scoped_session_confs(
        spark, (("spark.sql.files.maxPartitionBytes", "4096"),)
    ):
        df = ingest.read_ints_text(spark, str(path))
        counts = df.groupBy(F.spark_partition_id()).count().collect()
    assert len([r for r in counts if r["count"] > 0]) >= 2
    assert plans.audit(df).python_evals == 0

    out = MergeSortEngine(spark).sort_file(str(path), chunk_size=4096)
    toks = [
        int(t)
        for p in sorted(glob.glob(f"{out}/part-*"))
        for t in open(p).read().split()
    ]
    assert toks == sorted(vals)
