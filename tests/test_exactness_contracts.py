"""Cross-implementation exactness contracts.

The engine's order-independent aggregation discipline rests on two
quantization claims; pin both against Spark itself:

* the streaming sessionizer's integer-cent totals must equal the
  DECIMAL-sum batch operator's on values where HALF_UP rounding at 2
  places decides the digit — that is what lets the drained stream
  hash-match the batch oracle.  A NULL value must fail the fold loudly
  instead of turning into NaN cents.
* ``approx_count_distinct`` (HLL++, the mergeable one-pass 100 TB path
  for q_profile_stats' exact distinct counts) must land within its
  documented error bound — sketches aren't cross-engine reproducible,
  so they are tolerance-bounded instead of oracled.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from mapreduce_framework_for_mergesort_spark.streaming import run_to_memory
from mapreduce_framework_for_mergesort_spark.streaming.stateful import (
    OUTPUT_SCHEMA,
    _fold,
    sessionize_batch,
    sessionize_stream,
)

_HOUR_US = 3_600_000_000
_EVENTS_SCHEMA = "user_id bigint, event_id bigint, ts_us bigint, value double"


def _event_stream(spark, rows, path):
    """Write ``rows`` (user_id, event_id, ts_us, value) as parquet and
    return (batch frame, stream frame) over it with a timestamp ``ts``."""
    spark.createDataFrame(rows, _EVENTS_SCHEMA).write.parquet(path)
    to_ts = [
        "user_id", "event_id", F.timestamp_micros("ts_us").alias("ts"),
        "value",
    ]
    batch = spark.read.parquet(path).select(*to_ts)
    stream = spark.readStream.schema(_EVENTS_SCHEMA).parquet(path)
    return batch, stream.select(*to_ts)


def _closed(sessions):
    """The batch sessions the stream emits: all but each user's last
    (the events below put 2 h, more than the gap, before each last)."""
    mx = F.max("session_end").over(Window.partitionBy("user_id"))
    return (
        sessions.withColumn("__mx", mx)
        .where(F.col("session_end") < F.col("__mx"))
        .drop("__mx")
    )


HALF_UP_BOUNDARIES = [0.005, 0.015, 1.005, 2.675, -0.125, 1e12 + 0.005]


def test_stream_cents_match_batch_decimal_on_half_up_boundaries(
    spark, tmp_path
):
    """Each boundary value alone in a session (user i), all of them in
    one session (user 100), and random doubles of up to 8 places in one
    session (user 101); a closing event 2 h later closes every session
    the stream may emit."""
    rng = random.Random(42)
    randoms = [
        round(rng.uniform(-1000, 1000), rng.randint(0, 8)) for _ in range(200)
    ]
    rows, eid = [], 0
    groups = [[v] for v in HALF_UP_BOUNDARIES]
    groups += [HALF_UP_BOUNDARIES, randoms]
    users = list(range(len(HALF_UP_BOUNDARIES))) + [100, 101]
    for user, vals in zip(users, groups):
        t = _HOUR_US
        for v in vals:
            rows.append((user, eid, t, v))
            eid, t = eid + 1, t + 1_000_000
        rows.append((user, eid, t + 2 * _HOUR_US, 0.0))
        eid += 1
    batch, stream = _event_stream(spark, rows, str(tmp_path / "ev"))

    got = run_to_memory(sessionize_stream(stream), "t_cents_half_up")
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in _parse_datatype_string(OUTPUT_SCHEMA)
    ]
    want = _closed(sessionize_batch(batch))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    totals = {r["user_id"]: r["total_value"] for r in got.collect()}
    assert [totals[u] for u in range(len(HALF_UP_BOUNDARIES))] == [
        0.01, 0.02, 1.01, 2.68, -0.13, 1000000000000.01,
    ]
    assert totals[100] == 1000000000003.60


def test_null_value_fails_the_fold(spark, tmp_path):
    """A NULL value reaches the kernel as a NULL cent, which has no
    integer total: the fold raises instead of summing NaN.  A NULL user
    has no session to fold into, and fails the same way."""
    for user, cents, error in (
        (None, 100, "non-NULL user_id"),
        (1, None, "non-NULL event value"),
    ):
        batch = pd.DataFrame(
            {"user_id": [1, user], "ts_us": [1_000_000, 2_000_000],
             "cents": [100, cents]}
        )
        with pytest.raises(ValueError, match=error):
            _fold(None, batch, gap_us=0, buckets=1)
    rows = [(1, 0, _HOUR_US, 1.5), (1, 1, _HOUR_US + 1, None),
            (1, 2, 4 * _HOUR_US, 0.0)]
    _, stream = _event_stream(spark, rows, str(tmp_path / "ev"))
    with pytest.raises(Exception, match="non-NULL event value"):
        run_to_memory(sessionize_stream(stream), "t_cents_null")


def test_approx_count_distinct_within_bound(spark, sf_oracle):
    from mapreduce_framework_for_mergesort_spark.io import load_table

    li = load_table(spark, sf_oracle, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
        F.count_distinct("l_orderkey").alias("exact"),
    ).collect()[0]
    # rsd=0.02 → bound generously at 3 sigma
    assert abs(row["approx"] - row["exact"]) <= 0.06 * row["exact"], row
