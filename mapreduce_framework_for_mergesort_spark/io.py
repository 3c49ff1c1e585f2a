"""Loaders for the driver-generated parquet test tables (``TESTDATA.md``).

All reads go through ``spark.read.parquet`` so Catalyst keeps predicate
pushdown and column pruning — at 100 TB these scans are where most time
goes, and a projection that reaches the parquet footer (``ReadSchema`` in
``.explain``) is the difference between reading 2 columns and reading 11.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_json_string

from mapreduce_framework_for_mergesort_spark import sizing

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Serializes EVERY writer of the session-global events-read confs —
# load_table's scoped nanos window, set_events_read_confs, and the
# whole scoped_session_confs block (round-7 review: locking only
# load_table left scoped_session_confs able to capture another
# thread's transient value as "previous" and re-pin it on exit, or to
# have its confs stripped mid-stream).  Re-entrant so code inside a
# scoped_session_confs block can still call load_table on the same
# thread; a cross-thread load_table simply waits for the scope to
# close, which is exactly the serialization the shared key needs.
_EVENTS_READ_LOCK = threading.RLock()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table.

    Every table but ``events`` reads with the schema of its parquet
    footer (``parquet_footer_schema``), so the load starts no Spark job.

    The batch ``events`` read leaves the session untouched: the
    nanos-as-long legacy conf (without which Spark's parquet reader
    rejects a TIMESTAMP(NANOS) footer outright) is consulted only at
    schema-inference time — probed: a DataFrame created under the conf
    keeps executing correctly after the conf is restored, including the
    executor-side footer reads — so it is set around the eager
    ``spark.read.parquet`` and restored in a ``finally``.  The session
    timezone is NOT touched either: ``normalize_events_ts`` rebuilds the
    LTZ column from integer epoch microseconds (timezone-free
    constructors only), and every downstream batch consumer computes in
    epoch-micros arithmetic, so results match the timezone-naive DuckDB
    oracle under ANY session timezone.  Only the *rendering* of the LTZ
    values at ``collect()`` follows the session timezone — inherent to
    TIMESTAMP_LTZ, not a property of this loader.

    (The streaming twin, ``streaming.sources.stream_events``, still pins
    the confs globally: a running query re-plans microbatches for its
    whole lifetime, so a scoped restore would corrupt it mid-stream.)
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name != "events":
        path = table_path(sf_dir, name)
        return spark.read.schema(parquet_footer_schema(spark, path)).parquet(
            path
        )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    # The conf is session-global, so the set/restore is serialized: two
    # threads interleaving on one session could otherwise unset the
    # conf under the other's in-flight schema inference, or "restore"
    # the other thread's transient value permanently (the repo's own
    # query builders run on ThreadPoolExecutors).  In-process lock only
    # — the conf is per-SparkSession, which is per-process here.
    with _EVENTS_READ_LOCK:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(table_path(sf_dir, name))
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    return normalize_events_ts(df)


def parquet_footer_schema(spark: SparkSession, path: str) -> StructType:
    """The Spark schema of the parquet file (or directory) at ``path``,
    read from one footer on the driver.

    ``spark.read.parquet(path).schema`` runs a Spark job to read the
    footer; this reads the same footer with the session's Hadoop conf
    and converts it with Spark's own converter under the session's SQL
    conf (so ``nanosAsLong`` still maps TIMESTAMP(NANOS) to ``bigint``).
    With ``mergeSchema`` off Spark's inference also reads one footer.
    A directory is read through its first data file in name order;
    ``_``/``.`` names are skipped, as in ``sizing.input_bytes``.
    On the sf0.001 events table, the median of 12 calls on a 4-vCPU
    host is 14–19 ms here against 98–124 ms for the job."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    status = fs.getFileStatus(p)
    if status.isDirectory():
        files = fs.listFiles(p, True)
        names = []
        while files.hasNext():
            f = files.next().getPath()
            if not f.getName().startswith(("_", ".")):
                names.append(f.toString())
        if not names:
            raise FileNotFoundError(f"no parquet data file under {path}")
        p = jvm.org.apache.hadoop.fs.Path(min(names))
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS,
    )
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(p, footer),
        parquet.ParquetToSparkSchemaConverter(state.conf()),
    )
    # Spark's file readers treat every column as nullable.
    return _parse_datatype_json_string(schema.asNullable().json())


def scan_parallelism(df: DataFrame) -> int:
    """Estimated task count of ``df``'s file scan: Spark splits a
    parquet read at `spark.sql.files.maxPartitionBytes` granularity
    (bounded below by row-group layout, which this estimate cannot
    see — fine: production files are written multi-row-group, and the
    estimate is only used to detect *starvation*, not to size work).
    The bytes are ``sizing.input_bytes(df)``; an unmeasurable input
    (no file scan, listing error) reports a huge count = never
    starved, so the fan-out is a guaranteed no-op there."""
    size = sizing.input_bytes(df)
    if size is None:
        return 1 << 30  # unmeasurable → assume wide, never fan out
    spark = df.sparkSession
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    max_split = int(
        spark._jvm.org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(raw)
    )
    return max(1, -(-size // max_split))


def fan_out_starved_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a parallelism-starved scan (guide
    §2.5 'input skew': one huge unsplittable file → repartition right
    after the read).  The driver test fixtures are single-row-group
    parquet files, so every scan is ONE task and any CPU-heavy
    projection/partial-aggregate above it runs on 1 of N cores; at
    production scale the same starvation appears whenever the split
    count of an input is below the cluster's core count (a handful of
    big gzip shards, a freshly-compacted small table).

    Scale-adaptive, not tuned to local[32]: the target is the
    session's ``defaultParallelism`` (= total cores on any master) and
    the repartition only fires when the ESTIMATED split count of the
    scan is below it — a 100 TB table scans as tens of thousands of
    splits and passes through untouched, plan unchanged.  The shuffle
    this inserts moves the scan's (column-pruned) output once; it is
    only applied at call sites whose per-row compute dwarfs a row's
    shuffle bytes (measured per key in OPTIMIZATION_r12.md)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if scan_parallelism(df) >= target:
        return df
    return df.repartition(target)


# The runtime confs the STREAMING events read depends on (see
# ``streaming.sources.stream_events``).  The batch path no longer needs
# them: ``load_table`` scopes the nanos conf around schema inference and
# ``normalize_events_ts`` is timezone-free.  Exposed as data so streaming
# callers can scope them explicitly.
EVENTS_READ_CONFS: tuple[tuple[str, str], ...] = (
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.session.timeZone", "UTC"),
)


def set_events_read_confs(spark: SparkSession) -> None:
    """Runtime confs the *streaming* events read depends on, set
    idempotently (a running streaming query re-plans microbatches for
    its whole lifetime, so these cannot be scoped there — see
    ``streaming.sources.stream_events``)."""
    with _EVENTS_READ_LOCK:
        for k, v in EVENTS_READ_CONFS:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)


@contextmanager
def scoped_session_confs(
    spark: SparkSession,
    confs: tuple[tuple[str, str], ...] = EVENTS_READ_CONFS,
):
    """Set session confs for the scope of a ``with`` block and restore
    the previous values (or unset, if a key was unset) on exit — the
    library-polite alternative to ``stream_events``'s global mutation
    for callers who fully consume a *bounded* streaming run inside the
    block (``trigger(availableNow=...)`` + ``awaitTermination``)::

        with scoped_session_confs(spark):
            run_bounded_stream(spark, ...)

    .. warning:: only safe when every query whose execution depends on
       these confs FULLY TERMINATES inside the block.  Spark consults
       session confs at *execution* time, not plan time, so a streaming
       query still running when the scope exits re-plans its next
       microbatch under the RESTORED confs — a rejected
       TIMESTAMP(NANOS) read or window() results shifted by the local
       timezone.  (The batch ``load_table`` path no longer needs any of
       this: its confs are scoped internally and its timestamp algebra
       is timezone-free.)
    """
    # Hold the events-conf lock for the WHOLE scope: capturing "prev"
    # outside it could snapshot another thread's transient value and
    # re-pin it on exit, and another thread's scoped restore could
    # strip the confs from under this block's running queries.  The
    # lock is re-entrant, so load_table("events") inside the block
    # still works; cross-thread writers wait for the scope to close.
    with _EVENTS_READ_LOCK:
        prev = {k: spark.conf.get(k, None) for k, _ in confs}
        try:
            for k, v in confs:
                spark.conf.set(k, v)
            yield spark
        finally:
            for k, old in prev.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)


def epoch_ntz() -> F.Column:
    """Timezone-free NTZ epoch literal — the zero point for epoch-micros
    algebra over TIMESTAMP_NTZ columns (string→NTZ cast parses the wall
    clock with no timezone consultation).  A function, not a module
    constant: building a Column requires the live py4j gateway."""
    return F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")


def ntz_epoch_micros(col) -> F.Column:
    """Epoch microseconds of a TIMESTAMP_NTZ column, treating its wall
    clock as UTC — timezone-free (NTZ−NTZ difference never consults the
    session timezone; ``unix_micros`` only accepts LTZ)."""
    return F.timestamp_diff(
        "MICROSECOND", epoch_ntz(), F.col(col) if isinstance(col, str) else col
    )


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a microsecond TIMESTAMP_LTZ whatever
    the on-disk encoding was — via TIMEZONE-FREE constructors only, so
    the result is identical under any session timezone:

    * TIMESTAMP(NANOS) read as raw ns longs via
      ``spark.sql.legacy.parquet.nanosAsLong`` → rebuild with exact
      integer division (DuckDB truncates the same nanos to µs, so both
      engines agree bit-for-bit).  ``timestamp_micros`` is epoch-based,
      no timezone consulted.
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) read as TIMESTAMP_NTZ →
      relabel the wall clock as UTC by going through integer epoch
      micros (NTZ−NTZ diff, then the epoch-based LTZ constructor).  A
      plain ``.cast("timestamp")`` would interpret the wall clock in
      the *session* timezone — the historical reason the loader had to
      pin ``spark.sql.session.timeZone=UTC`` globally.  DuckDB reads
      the same column timezone-naive, so epoch arithmetic matches
      exactly.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.timestamp_micros(ntz_epoch_micros("ts")))
    return df


def publish_rename(fs, jvm, tmp: str, final: str) -> bool:
    """Publish ``tmp`` as ``final`` via one filesystem rename, safe
    against a concurrent publisher of the same id (round-8 review;
    shared by the IVFADC batch/tombstone publishes and the LSH-index
    tombstones): Hadoop ``FileSystem.rename(tmp, final)`` with an
    EXISTING final directory does not fail — it moves tmp INSIDE final
    as a hidden child and returns true, so a naive check hands the
    losing writer a 'published' True plus residue in the winner's dir.
    After the rename, the loser is detected by its tmp basename having
    landed under final; the residue is deleted (dot-prefixed, so
    readers never saw it) and the no-op False path taken.

    Boolean contract under a same-id race: the durable invariant is
    that ``final`` holds exactly one complete copy and no residue —
    guaranteed.  Which of two racing writers sees True can cross in
    one interleaving (the loser's rewrite of the SHARED temp lands
    between the winner's rename and its swallow check: the winner then
    finds residue and reports False, the loser finds it already gone
    and reports True).  Same id means same logical content by the
    idempotence contract, so the crossed booleans never misreport WHAT
    was published — only who gets credit."""
    Path = jvm.org.apache.hadoop.fs.Path
    tmp_p, final_p = Path(tmp), Path(final)
    if not fs.exists(tmp_p):
        # a twin already renamed our shared temp away (some Hadoop
        # filesystems RAISE on a missing rename source, not false)
        if fs.exists(final_p):
            return False
        raise OSError(f"could not publish {final!r}: temp {tmp!r} missing")
    if not fs.rename(tmp_p, final_p):
        if fs.exists(final_p):  # lost the race before our rename ran
            fs.delete(tmp_p, True)
            return False
        raise OSError(f"could not publish {final!r}")
    swallowed = Path(f"{final}/{tmp_p.getName()}")
    if fs.exists(swallowed):
        fs.delete(swallowed, True)
        return False
    return True


def write_small_file(spark: SparkSession, path: str, data: str) -> None:
    """Create/overwrite one tiny UTF-8 metadata file via the Hadoop FS
    API (works on any scheme, no Spark job).  For the engine's
    marker/sidecar files only — never data."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(data.encode("utf-8")))
    finally:
        out.close()


def read_small_file(spark: SparkSession, path: str) -> str | None:
    """Contents of one tiny UTF-8 metadata file, or None if absent.
    One py4j call for the whole body (commons-io, guaranteed on
    Spark's classpath via hadoop-common) — a byte-at-a-time py4j loop
    is one blocking JVM round trip PER BYTE, which turns a
    few-dozen-KB decision record into seconds of driver stall on every
    replay (round-9 review)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def publish_small_file(spark: SparkSession, path: str, data: str) -> None:
    """Two-phase publish of one tiny metadata file: write to a hidden
    sibling temp, delete any previous version, rename into place —
    and RAISE if the rename reports failure (an unchecked ``rename``
    silently leaves the OLD file in place, which for a decision
    record means a replay validating against a stale tombstone set
    with no error; round-9 review).  The ONE tiny-file publisher, for
    the same reason ``publish_tombstone_batch`` is the one batch
    publisher: hand-rolled variants drift.

    The delete→rename window is the caller's documented trade: for
    the engine's marker files a crash there re-derives the record
    (decision records are rewritten by the replay itself; fold state
    re-treats batches as active — one extra fold, never data loss)."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    parent, name = os.path.split(path)
    tmp = Path(f"{parent}/.{name}.tmp")
    final = Path(path)
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    write_small_file(spark, f"{parent}/.{name}.tmp", data)
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise OSError(f"could not publish small file {path!r}")


def publish_tombstone_batch(
    spark: SparkSession,
    root: str,
    schema: str,
    ids,
    batch_id: str,
    meta: dict[str, str] | None = None,
) -> bool:
    """The ONE tombstone-batch publisher (round-8 review: the IVFADC
    index, the LSH dedup index, and the ingest corpus each had a
    hand-copied ~40-line variant — slug rules and hidden-dir filters
    must not drift apart).  Writes ``ids`` (a list of ints or a
    single-column DataFrame named by ``schema``'s one column) to
    ``<root>/.tmp-<batch_id>`` and publishes with one rename
    (``publish_rename``).  Idempotent: a published ``batch_id``
    returns False; a crash before the rename leaves only an invisible
    temp the retry overwrites.  ``schema`` is explicit (e.g.
    ``"doc_id bigint"``) so an EMPTY batch — a takedown round that
    matched nothing still publishes its audit trail — reads back as
    zero rows, never an inference failure.

    ``meta``: optional tiny sidecar files (name → UTF-8 contents)
    written into the temp BEFORE the rename, so they publish
    atomically with the batch (a sidecar written after the rename
    could be lost to a crash, silently changing downstream policy —
    the reason the ingest fold's high-water mark rides here).  Names
    must start with ``_`` or ``.`` so parquet partition discovery and
    the batch read never see them."""
    id_col = schema.split()[0]
    if not batch_id or "/" in batch_id or batch_id.startswith((".", "_")):
        # '_' is the marker/sidecar namespace (``_RETRACTION_FOLDS``
        # lives directly under the tombstone root): a batch_id there
        # would collide with a marker file — the later marker publish
        # fails against a directory, and a pre-existing marker makes
        # this publish return False as if it were an idempotent retry,
        # silently dropping the takedown (round-9 review)
        raise ValueError(f"batch_id must be a plain slug, got {batch_id!r}")
    for name in meta or {}:
        if not name.startswith(("_", ".")):
            raise ValueError(
                f"meta sidecar {name!r} must start with '_' or '.' to "
                "stay invisible to parquet reads"
            )
    jvm = spark._jvm
    final = jvm.org.apache.hadoop.fs.Path(f"{root}/{batch_id}")
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(final):
        return False
    if isinstance(ids, DataFrame):
        df = ids.select(F.col(id_col).cast("bigint"))
    else:
        df = spark.createDataFrame([(int(v),) for v in ids], schema)
    tmp = f"{root}/.tmp-{batch_id}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    for name, data in (meta or {}).items():
        write_small_file(spark, f"{tmp}/{name}", data)
    return publish_rename(fs, jvm, tmp, str(final))


def list_tombstone_batch_ids(spark: SparkSession, root: str) -> list[str]:
    """Sorted ids of the PUBLISHED tombstone batches under ``root``
    (filesystem listing only; unpublished ``.tmp-*`` dirs and marker
    FILES invisible).  Split out of ``read_tombstone_batches`` so a
    caller that both records and reads the set (the ingest quiesce
    check) can do it from ONE listing — two listings could straddle a
    concurrent publish and record a set that differs from the rows the
    decision actually read."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(root)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isDirectory() and not st.getPath().getName().startswith(".")
    )


def read_tombstone_batches(
    spark: SparkSession,
    root: str,
    schema: str,
    batch_ids: list[str] | None = None,
) -> DataFrame | None:
    """Union of the PUBLISHED tombstone batches under ``root``, or None
    when no takedown has ever run — the common case, which must cost
    readers nothing.  ``batch_ids`` (e.g. a snapshot from
    ``list_tombstone_batch_ids``) pins the exact set read; the default
    lists afresh.

    NOT deduplicated: every consumer is a broadcast anti-join, for
    which an id repeated across batches is harmless — a ``.distinct()``
    here would add a shuffle stage to every probe for nothing (it cost
    the bucketed band probe its zero-index-exchange plan shape before
    round 9).  Repeats only inflate the broadcast, bounded by takedown
    volume."""
    if batch_ids is None:
        batch_ids = list_tombstone_batch_ids(spark, root)
    if not batch_ids:
        return None
    return spark.read.schema(schema).parquet(
        *(f"{root}/{b}" for b in batch_ids)
    )
