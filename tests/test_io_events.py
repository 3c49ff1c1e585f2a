"""The batch events path is timezone-free and leaves the session alone.

Round-6 verdict item 8: ``io.load_table("events")`` used to pin
``spark.sql.session.timeZone=UTC`` and the parquet nanos legacy conf
GLOBALLY on the caller's session.  The batch path now (a) scopes the
nanos conf around the eager schema inference (probed: it is consulted
only at plan time) and (b) does all timestamp algebra through
timezone-free epoch-micros constructors, so every batch events query
returns identical internal values under ANY session timezone.  The
global mutation survives only on the streaming path
(``streaming.sources.stream_events``), where a running query re-plans
microbatches for its whole lifetime and a scoped restore would corrupt
it mid-stream.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.queries import QUERIES

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"
TZ_KEY = "spark.sql.session.timeZone"

# Every batch registry key that consumes the events table, with the
# names of its timestamp output columns (compared via unix_micros —
# the timezone-free internal value — because LTZ *rendering* at
# collect() is session-scoped by definition).
EVENTS_BATCH_KEYS = {
    "q_events_sessionize": ["hour"],
    "q_sessionize_gap": ["session_start", "session_end"],
    "q_asof_join": [],  # asof_orderdate is NTZ (naive) — renders tz-free
    "q_window_time_range": [],
    "q_salted_agg": [],
    "q_json_extract": [],
}


class _SessionTZ:
    """Set/restore the session timezone around a block."""

    def __init__(self, spark, tz):
        self.spark, self.tz = spark, tz

    def __enter__(self):
        self.prev = self.spark.conf.get(TZ_KEY)
        self.spark.conf.set(TZ_KEY, self.tz)
        return self

    def __exit__(self, *exc):
        self.spark.conf.set(TZ_KEY, self.prev)


def _internal_rows(spark, key, ts_cols, sf_dir):
    """Collect a query with LTZ columns reduced to epoch micros."""
    df = QUERIES[key](spark, sf_dir)
    cols = [
        F.unix_micros(c).alias(c) if c in ts_cols else F.col(c)
        for c in df.columns
    ]
    rows = [tuple(r) for r in df.select(*cols).collect()]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return rows


@pytest.mark.parametrize("key", sorted(EVENTS_BATCH_KEYS))
def test_events_batch_keys_are_timezone_free(spark, sf_smoke, key):
    """Internal values identical under UTC and America/New_York, with
    no reliance on any globally-pinned conf."""
    ts_cols = EVENTS_BATCH_KEYS[key]
    with _SessionTZ(spark, "UTC"):
        utc = _internal_rows(spark, key, ts_cols, sf_smoke)
    with _SessionTZ(spark, "America/New_York"):
        ny = _internal_rows(spark, key, ts_cols, sf_smoke)
    assert utc == ny, f"{key}: result depends on the session timezone"
    assert len(utc) > 0


def test_load_table_events_restores_nanos_conf(spark, sf_smoke):
    """The legacy nanos conf is scoped to schema inference: restored to
    its prior value — including 'previously unset'."""
    prev = spark.conf.get(NANOS_KEY, None)
    try:
        spark.conf.unset(NANOS_KEY)
        df = load_table(spark, sf_smoke, "events")
        assert spark.conf.get(NANOS_KEY, None) is None
        # and the DataFrame executes fine after the restore
        assert df.count() > 0
        spark.conf.set(NANOS_KEY, "false")
        load_table(spark, sf_smoke, "events")
        assert spark.conf.get(NANOS_KEY, None) == "false"
    finally:
        if prev is None:
            spark.conf.unset(NANOS_KEY)
        else:
            spark.conf.set(NANOS_KEY, prev)


def test_load_table_events_does_not_touch_session_tz(spark, sf_smoke):
    with _SessionTZ(spark, "Asia/Tokyo"):
        load_table(spark, sf_smoke, "events").count()
        assert spark.conf.get(TZ_KEY) == "Asia/Tokyo"


def test_nanos_encoded_events_scoped_read(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file — which Spark rejects outright
    without the legacy conf — loads through the scoped path, executes
    after the conf is restored to unset, and truncates ns→µs exactly
    like DuckDB."""
    ns = np.array(
        [1704067798778549123, 1704068166738090456, 1704070000000000789],
        dtype="datetime64[ns]",
    )
    t = pa.table(
        {
            "event_id": pa.array([0, 1, 2], pa.int64()),
            "ts": pa.array(ns),
            "user_id": pa.array([13, 12, 11], pa.int64()),
            "event_type": ["error", "signup", "click"],
            "value": pa.array([185.22, 106.03, 1.0]),
            "props": ['{"k":87}', '{"k":0}', '{"k":1}'],
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    prev = spark.conf.get(NANOS_KEY, None)
    try:
        spark.conf.unset(NANOS_KEY)
        df = load_table(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS_KEY, None) is None
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = sorted(
            r[0] for r in df.select(F.unix_micros("ts")).collect()
        )
        want = sorted(int(x) // 1000 for x in ns.astype("int64"))
        assert got == want
    finally:
        if prev is None:
            spark.conf.unset(NANOS_KEY)
        else:
            spark.conf.set(NANOS_KEY, prev)


def test_hour_truncation_floors_pre_epoch_timestamps(spark):
    """Round-7 review: epoch-modulo hour truncation must FLOOR for
    negative epoch micros too (Spark's ``%`` follows the dividend's
    sign; ``pmod`` floors) — a 1969 event belongs to its own 23:00
    bucket, not to 1970-01-01 00:00."""
    from datetime import datetime

    from mapreduce_framework_for_mergesort_spark.operators.relational import (
        hourly_event_agg,
    )

    ev = spark.createDataFrame(
        [
            (1, datetime(1969, 12, 31, 23, 59, 59), "late", 1.0),
            (2, datetime(1970, 1, 1, 0, 0, 1), "early", 1.0),
        ],
        "event_id bigint, ts timestamp, event_type string, value double",
    )
    with _SessionTZ(spark, "UTC"):
        got = {
            (r["hour"].isoformat(), r["event_type"])
            for r in hourly_event_agg(ev).collect()
        }
    assert got == {
        ("1969-12-31T23:00:00", "late"),
        ("1970-01-01T00:00:00", "early"),
    }


def test_load_table_events_concurrent_loads_restore_conf(spark, sf_smoke):
    """Round-7 review: the scoped nanos-conf window is serialized, so
    concurrent events loads on one session neither fail mid-inference
    nor leak the conf."""
    from concurrent.futures import ThreadPoolExecutor

    prev = spark.conf.get(NANOS_KEY, None)
    try:
        spark.conf.unset(NANOS_KEY)
        with ThreadPoolExecutor(max_workers=4) as ex:
            counts = list(
                ex.map(
                    lambda _: load_table(spark, sf_smoke, "events").count(),
                    range(4),
                )
            )
        assert len(set(counts)) == 1 and counts[0] > 0
        assert spark.conf.get(NANOS_KEY, None) is None
    finally:
        if prev is None:
            spark.conf.unset(NANOS_KEY)
        else:
            spark.conf.set(NANOS_KEY, prev)


def test_input_bytes_directory_and_unmeasurable(spark, tmp_path):
    """Round-13 advisory fix: the adaptive sizing gates must see a
    directory-layout table's REAL bytes (a bare getsize reports the
    ~4 KB dirent, which would misclassify every production multi-file
    table as starved), and an unmeasurable path must read as None so
    no gate fires on inputs the driver cannot measure."""
    from mapreduce_framework_for_mergesort_spark import sizing

    f = tmp_path / "one.parquet"
    f.write_bytes(b"x" * 1000)
    assert sizing.input_bytes(str(f), spark) == 1000

    d = tmp_path / "table.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"a" * 600)
    (d / "part-1.parquet").write_bytes(b"b" * 400)
    (d / "_SUCCESS").write_bytes(b"")  # marker files excluded
    (d / ".hidden").write_bytes(b"c" * 999)
    assert sizing.input_bytes(str(d), spark) == 1000

    missing = str(tmp_path / "missing.parquet")
    assert sizing.input_bytes(missing, spark) is None
    # no s3 filesystem configured: a listing error, not a crash
    assert sizing.input_bytes("s3://bucket/table", spark) is None


def test_scan_parallelism_unmeasurable_is_never_starved(spark):
    """A frame the driver can't size (no file scan) must report a huge
    split count so fan_out_starved_scan passes it through untouched."""
    from mapreduce_framework_for_mergesort_spark.io import (
        fan_out_starved_scan,
        scan_parallelism,
    )

    df = spark.createDataFrame([(1,), (2,)], "o_orderkey: bigint")
    assert scan_parallelism(df) >= 1 << 20
    # fan_out over an unmeasurable frame is the identity on the plan
    assert fan_out_starved_scan(df) is df


def test_stream_state_partitions_unmeasurable_falls_back(spark, tmp_path):
    """Unmeasurable streaming input sizes to the 2×cores cap (the
    production parallelism regime), never the small-fixture clamp."""
    from mapreduce_framework_for_mergesort_spark.streaming.sources import (
        stream_state_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    assert stream_state_partitions(spark, str(tmp_path)) == 2 * cores
