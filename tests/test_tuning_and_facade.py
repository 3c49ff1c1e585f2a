"""Sizing advisor, engine facade stats, SQL view registration, and
streaming checkpoint (exactly-once restart) semantics."""

from __future__ import annotations

import glob
import random
import shutil

from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark import plans, tuning
from mapreduce_framework_for_mergesort_spark.engine import MergeSortEngine
from mapreduce_framework_for_mergesort_spark.io import (
    register_views,
    scoped_session_confs,
    table_path,
)
from mapreduce_framework_for_mergesort_spark.operators import ingest


def test_scan_split_sizing_scales():
    # tiny input on the local profile: shrink splits to keep cores busy
    small = tuning.scan_split_bytes(64 * tuning.MiB, tuning.LOCAL32)
    assert 4 * tuning.MiB <= small < 128 * tuning.MiB
    # 100 TB on a 1000x4 cluster: default 128 MiB splits are fine
    big = tuning.scan_split_bytes(100 * 1024 * tuning.GiB, tuning.CLUSTER_1000X4)
    assert big == 128 * tuning.MiB


def test_shuffle_partition_sizing_scales():
    p = tuning.CLUSTER_1000X4
    n_small = tuning.shuffle_partitions(10 * tuning.GiB, p)
    assert n_small == 8000  # 2x cores floor, rounded
    # 100 TB shuffle: memory budget dominates, each partition must fit
    n_big = tuning.shuffle_partitions(100 * 1024 * tuning.GiB, p)
    budget = int(p.executor_mem_per_core * p.shuffle_mem_fraction)
    assert n_big * budget >= 100 * 1024 * tuning.GiB
    assert n_big >= n_small


def test_advise_returns_conf_dict():
    conf = tuning.advise(1 * tuning.GiB, tuning.LOCAL32)
    assert set(conf) == {
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.shuffle.partitions",
    }
    assert all(v.isdigit() for v in conf.values())


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


def test_register_views_enables_adhoc_sql(spark, sf_smoke):
    register_views(spark, sf_smoke)
    got = spark.sql(
        "SELECT COUNT(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey"
    ).collect()[0]["n"]
    assert got > 0


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
