"""Structured Streaming: batch/stream result unification + oracle parity.

The strongest invariant a streaming operator can offer: drained over
static input with ``availableNow``, it must produce exactly the batch
result of the same algebra.  Oracle tests additionally pin both modes to
DuckDB SQL (the driver's t2 gate).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.queries import ORACLE, QUERIES
from mapreduce_framework_for_mergesort_spark.streaming import (
    run_to_memory,
    sessionize_stream,
    stream_events,
    windowed_event_aggregate,
)
from mapreduce_framework_for_mergesort_spark.streaming.sources import (
    run_to_memory_with_progress,
)
from mapreduce_framework_for_mergesort_spark.streaming.stateful import (
    _gap_to_us,
    sessionize_batch,
)
from tests.oracle import compare_query


def test_stream_windowed_equals_batch(spark, sf_smoke):
    stream = windowed_event_aggregate(stream_events(spark, sf_smoke))
    got = run_to_memory(stream, "t_win_unify", output_mode="complete")
    want = windowed_event_aggregate(load_table(spark, sf_smoke, "events"))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def _closed_batch_sessions(spark, sf_dir, gap):
    """``sessionize_batch``'s sessions that the stream emits: those that
    end more than ``gap`` before their user's last event."""
    sessions = sessionize_batch(load_table(spark, sf_dir, "events"), gap)
    by_user = Window.partitionBy("user_id")
    return (
        sessions.withColumn("__mx", F.max("session_end").over(by_user))
        .where(
            F.unix_micros("session_end") + _gap_to_us(gap)
            < F.unix_micros("__mx")
        )
        .drop("__mx")
    )


def _events_in_files(sf_dir, out, n_files: int) -> str:
    """Write the events table, sorted by time, as ``n_files`` files
    named ``events*.parquet`` under ``out`` with increasing mtimes (the
    file stream source takes files in mtime order); return ``out``."""
    import os

    import pyarrow.parquet as pq

    out.mkdir(parents=True, exist_ok=True)
    table = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        path = out / ("events.parquet" if i == 0 else f"events_{i}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        os.utime(path, (1_700_000_000 + i * 100,) * 2)
    return str(out)


def test_stream_sessionize_emits_closed_sessions(spark, sf_smoke):
    gap = "30 minutes"
    got = run_to_memory(
        sessionize_stream(stream_events(spark, sf_smoke), gap=gap),
        "t_sess_unify",
    )
    closed = _closed_batch_sessions(spark, sf_smoke, gap)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, closed.collect())
    )


def test_stream_multibatch_state_carries(spark, sf_smoke, tmp_path):
    """The events, in time order, cut into three files and drained one
    file per micro-batch: state carries each user's open session across
    the batches, so the drain equals the single-batch drain and the
    batch operator's closed sessions, with no ordering violation."""
    gap = "30 minutes"
    src = _events_in_files(sf_smoke, tmp_path / "events", 3)
    late = spark.sparkContext.accumulator(0)
    multi, progress = run_to_memory_with_progress(
        sessionize_stream(
            stream_events(spark, src, max_files_per_trigger=1),
            gap=gap,
            late_counter=late,
        ),
        "t_sess_multibatch",
    )
    assert sum(p["numInputRows"] > 0 for p in progress) >= 3
    one, progress = run_to_memory_with_progress(
        sessionize_stream(stream_events(spark, src), gap=gap),
        "t_sess_singlebatch",
    )
    assert sum(p["numInputRows"] > 0 for p in progress) == 1
    rows = sorted(map(tuple, multi.collect()))
    assert rows == sorted(map(tuple, one.collect()))
    assert rows == sorted(
        map(tuple, _closed_batch_sessions(spark, sf_smoke, gap).collect())
    )
    assert late.value == 0


def test_sessionize_restart_under_other_bucket_count_fails(
    spark, sf_smoke, tmp_path
):
    """A restarted drain keeps its checkpoint's state partition count,
    but the sessionizer plans its user-bucket count from the session's
    ``spark.sql.shuffle.partitions``.  When the two differ the drain
    fails loudly instead of splitting sessions across buckets."""
    from mapreduce_framework_for_mergesort_spark.io import (
        scoped_session_confs,
    )

    src = _events_in_files(sf_smoke, tmp_path / "events", 2)
    later = tmp_path / "events" / "events_1.parquet"
    held = later.rename(tmp_path / "held.parquet")
    checkpoint = str(tmp_path / "ckpt")

    def drain(partitions: int) -> None:
        with scoped_session_confs(
            spark, (("spark.sql.shuffle.partitions", str(partitions)),)
        ):
            q = (
                sessionize_stream(stream_events(spark, src))
                .writeStream.format("noop")
                .option("checkpointLocation", checkpoint)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    drain(2)
    held.rename(later)
    with pytest.raises(Exception, match="B=2 but this plan buckets users by B=3"):
        drain(3)


def test_q_sessionize_gap_oracle(spark, sf_oracle):
    compare_query(spark, "q_sessionize_gap", sf_oracle, QUERIES, ORACLE)


def test_q_stream_windowed_agg_oracle(spark, sf_oracle):
    compare_query(spark, "q_stream_windowed_agg", sf_oracle, QUERIES, ORACLE)


def test_q_stream_sessionize_oracle(spark, sf_oracle):
    compare_query(spark, "q_stream_sessionize", sf_oracle, QUERIES, ORACLE)


def test_q_stream_dedup_oracle(spark, sf_oracle):
    compare_query(spark, "q_stream_dedup", sf_oracle, QUERIES, ORACLE)


def test_q_stream_static_join_oracle(spark, sf_oracle):
    compare_query(spark, "q_stream_static_join", sf_oracle, QUERIES, ORACLE)


def test_q_stream_interval_join_oracle(spark, sf_oracle):
    compare_query(spark, "q_stream_interval_join", sf_oracle, QUERIES, ORACLE)


def test_file_sink_exactly_once_across_restarts(spark, sf_smoke, tmp_path):
    """Durable stream->parquet with checkpointing: a re-drain over
    already-committed input must be a no-op (no duplicate rows), and the
    sink contents must equal the batch result of the same algebra."""
    from mapreduce_framework_for_mergesort_spark.streaming import run_to_parquet

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    agg = windowed_event_aggregate(stream_events(spark, sf_smoke))
    run_to_parquet(agg, out, ckpt)            # first drain commits all input
    first = sorted(map(tuple, spark.read.parquet(out).collect()))
    run_to_parquet(
        windowed_event_aggregate(stream_events(spark, sf_smoke)), out, ckpt
    )                                          # restart: nothing new -> no-op
    second = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert first == second
    # append mode emits only watermark-FINALIZED windows: those whose end
    # is at or below max(ts) - 2h (the declared watermark).  The trailing
    # windows stay in state — that is the append-mode contract, and why
    # the hash-checked memory-sink queries use complete mode instead.
    ev = load_table(spark, sf_smoke, "events")
    from pyspark.sql import functions as F

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=2)
    want = sorted(
        map(tuple, windowed_event_aggregate(ev)
            .where(F.col("window_start") + F.expr("INTERVAL 1 HOUR")
                   <= F.lit(cutoff))
            .collect())
    )
    assert second == want


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _tiny_stream(spark, tmp_path):
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir(parents=True)
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(src / "part.parquet")
    return spark.readStream.schema("x bigint").parquet(str(src))


def test_drains_restore_checkpoint_manager_conf(spark, tmp_path):
    """Local drains switch the checkpoint manager for the drain only:
    afterwards the conf is as it was, whether unset or preset."""
    from mapreduce_framework_for_mergesort_spark.streaming import run_to_parquet

    preset = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    for before in (None, preset):
        if before is None:
            spark.conf.unset(_MANAGER_KEY)
        else:
            spark.conf.set(_MANAGER_KEY, before)
        try:
            tag = "unset" if before is None else "preset"
            got = run_to_memory(
                _tiny_stream(spark, tmp_path / f"m_{tag}"),
                f"t_ckpt_manager_{tag}",
                output_mode="append",
            )
            assert sorted(r.x for r in got.collect()) == [1, 2, 3]
            assert spark.conf.get(_MANAGER_KEY, None) == before
            out = str(tmp_path / f"out_{tag}")
            run_to_parquet(
                _tiny_stream(spark, tmp_path / f"p_{tag}"),
                out,
                str(tmp_path / f"ckpt_{tag}"),
            )
            assert sorted(r.x for r in spark.read.parquet(out).collect()) == [
                1, 2, 3,
            ]
            assert spark.conf.get(_MANAGER_KEY, None) == before
        finally:
            spark.conf.unset(_MANAGER_KEY)


def test_checkpoint_scheme_picks_manager(spark):
    """Only ``file:`` checkpoints take the FileSystem manager; the
    scheme of a bare path, or of no path, comes from the session."""
    from mapreduce_framework_for_mergesort_spark.streaming.sources import (
        _checkpoint_is_local,
    )

    assert _checkpoint_is_local(spark, "/tmp/ck")
    assert _checkpoint_is_local(spark, "file:/tmp/ck")
    assert _checkpoint_is_local(spark, "file:///tmp/ck")
    assert not _checkpoint_is_local(spark, "hdfs://nn/ck")
    assert not _checkpoint_is_local(spark, "s3a://b/ck")

    root_key = "spark.sql.streaming.checkpointLocation"
    assert spark.conf.get(root_key, None) is None
    assert _checkpoint_is_local(spark, None)
    spark.conf.set(root_key, "hdfs://nn/ckroot")
    try:
        assert not _checkpoint_is_local(spark, None)
        assert _checkpoint_is_local(spark, "/tmp/ck")
    finally:
        spark.conf.unset(root_key)

    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    default_fs = hconf.get("fs.defaultFS")
    hconf.set("fs.defaultFS", "hdfs://nn:8020")
    try:
        assert not _checkpoint_is_local(spark, "/tmp/ck")
        assert not _checkpoint_is_local(spark, None)
        assert _checkpoint_is_local(spark, "file:/tmp/ck")
    finally:
        hconf.set("fs.defaultFS", default_fs)


def test_footer_schema_matches_batch_inference(spark, sf_smoke, tmp_path):
    """The driver-side footer read gives the schema Spark's inference
    job gives: on every fixture table under the events read confs (the
    fixture's events table is TIMESTAMP(NANOS)), on a micros-encoded
    events file, and on a multi-file directory Spark wrote."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_framework_for_mergesort_spark.io import (
        parquet_footer_schema,
        set_events_read_confs,
    )

    set_events_read_confs(spark)
    paths = [
        os.path.join(sf_smoke, f) for f in sorted(os.listdir(sf_smoke))
    ]
    assert len(paths) == 10
    micros = tmp_path / "micros"
    micros.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([0, 1], pa.int64()),
                "ts": pa.array(
                    np.array([1704067798778549, 1704068166738090],
                             dtype="datetime64[us]")
                ),
                "user_id": pa.array([13, 12], pa.int64()),
                "value": pa.array([185.22, 106.03]),
            }
        ),
        str(micros / "events.parquet"),
    )
    multi = str(tmp_path / "multi")
    spark.range(30).selectExpr(
        "id", "cast(id AS decimal(10,2)) AS v", "cast(id AS string) AS s"
    ).repartition(3).write.parquet(multi)
    assert len([f for f in os.listdir(multi) if f.startswith("part-")]) == 3
    paths += [str(micros / "events.parquet"), multi]
    for p in paths:
        assert parquet_footer_schema(spark, p) == spark.read.parquet(p).schema, p
    # the micros file streams as a timestamp column, like the fixture
    assert dict(stream_events(spark, str(micros)).dtypes)["ts"] == "timestamp"


def test_stream_events_starts_no_job(spark, sf_smoke):
    """``stream_events`` and ``load_table`` of a table other than
    ``events`` read their schema without a Spark job; the batch
    inference they replaced shows up in the same probe."""
    tracker = spark.sparkContext.statusTracker()

    def new_jobs(call) -> set:
        before = set(tracker.getJobIdsForGroup(None))
        call()
        return set(tracker.getJobIdsForGroup(None)) - before

    assert new_jobs(lambda: stream_events(spark, sf_smoke)) == set()
    assert new_jobs(lambda: load_table(spark, sf_smoke, "customer")) == set()
    path = f"{sf_smoke}/events.parquet"
    assert new_jobs(lambda: spark.read.parquet(path).schema)


def test_warm_stream_keys_hit_the_codegen_cache(spark, sf_smoke):
    """The session's codegen cache holds the streaming keys' working
    set: a second round of the 5 ``q_stream_*`` keys recompiles almost
    nothing (Spark's default of 100 entries recompiled ~45 classes per
    round)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    keys = sorted(k for k in QUERIES if k.startswith("q_stream_"))
    assert len(keys) == 5

    def compiles_in_one_round() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for k in keys:
            QUERIES[k](spark, sf_smoke).collect()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compiles_in_one_round()
    assert compiles_in_one_round() <= 2
