"""Streaming sources/sinks for the test tables.

``stream_events`` is the streaming twin of ``io.load_table(..,
"events")``: same schema, same ns→µs timestamp rebuild, but through the
file *stream* source.  At scale the file source is swapped for Kafka /
event-hub readers — every downstream operator is source-agnostic
because it sees the same (ts, user_id, event_type, value, props) schema.
"""

from __future__ import annotations

from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from mapreduce_framework_for_mergesort_spark import sizing
from mapreduce_framework_for_mergesort_spark.io import (
    normalize_events_ts,
    parquet_footer_schema,
    scoped_session_confs,
    set_events_read_confs,
    table_path,
)


def stream_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Shuffle/state partition count for a bounded streaming drain over
    the events table, sized from INPUT BYTES (round 12 optimization).

    Every stateful streaming operator instantiates one state store per
    shuffle partition per stateful operator, and each micro-batch pays
    a per-store fixed cost (load, commit, delta file) regardless of
    rows — so a fixed ``spark.sql.shuffle.partitions`` wildly
    overpartitions small inputs: the interval join over the 2 MB
    fixture measured 8.3 s at 32 partitions vs 2.5 s at 4, identical
    results and state totals.  Rule: one partition per
    ``sizing.STREAM_STATE_BYTES_PER_PARTITION`` (2 MiB, calibrated
    there from measured state expansion) of compressed input, clamped
    to [min(cores, 4), 2×cores].  Measured across all 5 streaming
    keys: at ×10 (11.7 MB → 6 partitions) min-of-2 totals 15.4 s @4 vs
    13.7 s @6 with 6 ≥ on every key; at ×1 (1.2 MB → still the
    4-partition clamp) 4 beats 6/8 (10.9 vs 15.0/19.3 s); past the
    need the cost explodes (interval join @×10: 17.7 s @32, 38.9 s
    @64 — 433 s of summed state-commit time on near-empty stores).  A
    64 GB/day topic still sizes to the 2×cores cap (parallelism-bound),
    where ≥2 MiB input/partition means stores are no longer fixed-cost
    bound.  Parameterised, not local-tuned: follows data and cores,
    never a constant.
    The figures above were measured while local checkpoints went
    through Spark's FileContext manager, whose forked ``readlink`` per
    file lookup inflated each store's fixed cost (see ``_drain``).
    Re-measured on the FileSystem manager over 0.67 MB of events (the
    benchmark's 50,000-event input; 5-key total, min of 2 passes):
    11.5 s at 1 partition, 6.2 s at 2, 5.8 s at 4 — the clamp stands.
    The bytes are ``sizing.input_bytes`` of the events path; an
    unmeasurable path (missing, or an object store with no filesystem
    configured) falls back to 2×cores — at that scale the input is
    never state-store-fixed-cost bound."""
    cores = spark.sparkContext.defaultParallelism
    size = sizing.input_bytes(table_path(sf_dir, "events"), spark)
    if size is None:
        return 2 * cores
    by_bytes = -(-size // sizing.STREAM_STATE_BYTES_PER_PARTITION)
    return max(min(cores, 4), min(by_bytes, 2 * cores))


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over the events table.

    The file stream source needs an explicit schema (no inference on
    unbounded input); ``parquet_footer_schema`` reads it from the
    parquet footer on the driver, so the call starts no Spark job — in
    production this is the registered catalog/registry schema.
    ``maxFilesPerTrigger`` bounds per-microbatch intake (backpressure).

    .. warning:: like ``io.load_table("events")``, this GLOBALLY pins
       ``spark.sql.session.timeZone=UTC`` and the nanos-as-long legacy
       conf on the caller's session for its remaining lifetime (see
       ``io.load_table`` for why the mutation cannot be scoped).
    """
    path = table_path(sf_dir, "events")
    # Runtime-set (not session-factory) so a vanilla SparkSession — the
    # correctness driver's calling convention — can read the events
    # parquet whatever its timestamp encoding; mirrors io.load_table.
    set_events_read_confs(spark)
    schema = parquet_footer_schema(spark, path)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # The file stream source wants a directory or glob (a bare file path
    # fails basePath resolution); the test tables are single files, so
    # turn the exact name into a one-match glob.
    df = reader.parquet(path.replace("events.parquet", "events*.parquet"))
    # Same ns-long / NTZ→LTZ normalization as io.load_table.
    return normalize_events_ts(df)


_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _checkpoint_is_local(spark: SparkSession, checkpoint: str | None) -> bool:
    """Whether a drain's checkpoint lands on the ``file:`` filesystem.

    ``checkpoint`` is the drain's location; None means the root in
    ``spark.sql.streaming.checkpointLocation`` or, when that is unset,
    Spark's local temp dir.  Spark qualifies a path without a scheme
    against ``fs.defaultFS``, and so does this check."""
    root = checkpoint or spark.conf.get(
        "spark.sql.streaming.checkpointLocation", None
    )
    scheme = urlparse(root or "").scheme
    if not scheme:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///"
        )
        scheme = urlparse(default_fs).scheme
    return scheme == "file"


def _drain(
    writer: DataStreamWriter, spark: SparkSession, checkpoint: str | None
) -> StreamingQuery:
    """Start ``writer`` with ``availableNow`` and wait for it to finish.

    A local checkpoint is written through Spark's FileSystem-based
    checkpoint manager for the drain.  Spark's default for ``file:`` is
    the FileContext manager; without the native Hadoop library, Hadoop's
    local FileContext forks a ``readlink`` process for every link-status
    lookup, and state-store commits and delta-file creates wait on them.
    One pass of the 5 ``q_stream_*`` keys over 50,000 events forked
    1,405 processes before and forks 349 now (the ``chmod`` per created
    file remains).  A local rename is atomic, so the temp-file-then-
    rename commit keeps its guarantee, and Spark's checksum manager
    still wraps the base manager.  Other schemes keep the default
    manager.  The setting is scoped: the query ends inside the block."""
    confs = (
        ((_CHECKPOINT_MANAGER_KEY, _FS_CHECKPOINT_MANAGER),)
        if _checkpoint_is_local(spark, checkpoint)
        else ()
    )
    with scoped_session_confs(spark, confs):
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    return q


def run_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
) -> None:
    """Drain a stream into a parquet directory with exactly-once
    semantics: the checkpoint records source offsets + the file-sink
    manifest transactionally, so a crashed/re-run query resumes from
    the last committed batch and never duplicates or loses rows (a
    re-drain over already-committed input is a no-op).  This is the
    durable counterpart of ``run_to_memory`` — the shape a production
    pipeline uses for stream → table materialization; readers see only
    manifest-committed files, so a mid-write crash is invisible.  The
    output mode is ``append``.
    """
    _drain(
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append"),
        stream_df.sparkSession,
        checkpoint,
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "update"
) -> DataFrame:
    """Drain a stream with ``availableNow`` into the in-memory sink.

    availableNow processes everything currently available (across as
    many microbatches as the source's trigger options dictate) and
    stops — the deterministic test/CI form of a continuous run.
    Returns the sink contents as a DataFrame (``SELECT * FROM name``).
    """
    df, _ = run_to_memory_with_progress(stream_df, name, output_mode)
    return df


def run_to_memory_with_progress(
    stream_df: DataFrame, name: str, output_mode: str = "update"
) -> tuple[DataFrame, list]:
    """``run_to_memory`` that ALSO returns the query's per-microbatch
    progress dicts — the observability hook for state-store assertions
    (``stateOperators[].numRowsTotal`` is how a test proves an
    eviction policy actually bounds state).  ``run_to_memory`` delegates
    here so the drain mechanics exist exactly once."""
    q = _drain(
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        stream_df.sparkSession,
        None,
    )
    prog = list(q.recentProgress)
    # Expose the LAST microbatch's executed physical plan for the
    # PLANS.md audit (bench.py --plans): a drained streaming query's
    # plan is otherwise invisible to batch-side .explain tooling.
    global LAST_MICROBATCH_PLAN, LAST_STATE_ROWS
    try:
        LAST_MICROBATCH_PLAN = q._jsq.explainInternal(False)
    except Exception:
        LAST_MICROBATCH_PLAN = None
    # Final state-store footprint (summed over state operators of the
    # last progress entry that carries any): the measured number behind
    # "state is bounded by watermark + interval" claims — read by
    # bench.py --scale into SCALE_r*.json and by the state-bound tests.
    LAST_STATE_ROWS = None
    for p in reversed(prog):
        ops = p.get("stateOperators") or []
        if ops:
            LAST_STATE_ROWS = {
                "rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
                "rows_removed": sum(
                    o.get("numRowsRemoved", 0) for o in ops
                ),
            }
            break
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}"), prog


# Physical plan of the most recently drained memory-sink query (see
# run_to_memory_with_progress); read by bench.py --plans.
LAST_MICROBATCH_PLAN: str | None = None

# Final state-store row counts of the most recently drained query
# ({"rows_total": N, "rows_removed": M}, None for stateless queries);
# read by bench.py --scale so stateful streaming cost is a measured
# artifact row, not prose.
LAST_STATE_ROWS: dict | None = None
