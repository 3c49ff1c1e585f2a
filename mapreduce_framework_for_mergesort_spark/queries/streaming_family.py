"""Streaming queries, made driver-checkable.

A Structured Streaming query drained with ``availableNow`` over static
input is deterministic: it processes exactly the files present and
stops.  That lets the driver hash-compare *streaming* results against a
batch DuckDB oracle — the strongest correctness statement available for
a streaming operator (same algebra, two execution modes, one result).

The reference has no streaming at all (single blocking sortFile RPC,
``ServerHandler.java:23-80``); this family is north-star surface.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.io import (
    load_table,
    scoped_session_confs,
)
from mapreduce_framework_for_mergesort_spark.queries import query
from mapreduce_framework_for_mergesort_spark.streaming import (
    dedup_stream,
    enrich_stream_with_dim,
    interval_join_events,
    run_to_memory,
    sessionize_stream,
    stream_events,
    windowed_event_aggregate,
)
from mapreduce_framework_for_mergesort_spark.streaming.stateful import (
    sessionize_batch,
)
from mapreduce_framework_for_mergesort_spark.streaming.sources import (
    stream_state_partitions,
)
from contextlib import contextmanager


@contextmanager
def _sized_state(spark: SparkSession, sf_dir: str):
    """Scope ``spark.sql.shuffle.partitions`` to the input-sized state
    partition count for one bounded drain (round 12 optimization — see
    ``streaming.sources.stream_state_partitions``: every stateful
    operator pays a per-state-store fixed cost per micro-batch, and a
    fixed 32 over-partitions MB-scale inputs ~3x in wall time for
    identical results).  The drain completes inside the scope
    (run_to_memory awaits termination), so the restore never races a
    live micro-batch."""
    n = stream_state_partitions(spark, sf_dir)
    with scoped_session_confs(
        spark, (("spark.sql.shuffle.partitions", str(n)),)
    ):
        yield

# Memory-sink table names must be unique per started query within a
# session (tests run queries repeatedly; the driver once).
_seq = itertools.count()

_GAP_US = 30 * 60 * 1_000_000

_SESSION_ORACLE_CORE = f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT *, SUM(new_sess) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS sess
      FROM flagged),
    sessions AS (
      SELECT user_id, sess,
             min(ts) AS session_start,
             max(ts) AS session_end,
             CAST(COUNT(*) AS INT) AS n_events,
             round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_value
      FROM numbered GROUP BY user_id, sess)
"""


@query(
    "q_sessionize_gap",
    oracle=_SESSION_ORACLE_CORE
    + """
    SELECT user_id, session_start, session_end, n_events, total_value
    FROM sessions
    """,
)
def q_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap sessionization (30-min inactivity) — pure window-function
    algebra, same semantics as the streaming stateful operator."""
    return sessionize_batch(load_table(spark, sf_dir, "events"), "30 minutes")


@query(
    "q_stream_windowed_agg",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate, run as a real stream
    (file source → availableNow → memory sink, complete mode)."""
    with _sized_state(spark, sf_dir):
        stream = windowed_event_aggregate(stream_events(spark, sf_dir))
        return run_to_memory(
            stream,
            f"q_stream_windowed_agg_{next(_seq)}",
            output_mode="complete",
        )


@query(
    "q_stream_sessionize",
    oracle=_SESSION_ORACLE_CORE
    + f"""
    SELECT user_id, session_start, session_end, n_events, total_value
    FROM (SELECT *, max(session_end) OVER (PARTITION BY user_id) AS mx
          FROM sessions) t
    WHERE epoch_us(session_end) + {_GAP_US} < epoch_us(mx)
    """,
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState gap
    sessionization).  Emits *closed* sessions — ones that can no longer
    grow given the key's observed timeline — so the oracle is the batch
    sessionization minus each user's still-open trailing session."""
    with _sized_state(spark, sf_dir):
        stream = sessionize_stream(
            stream_events(spark, sf_dir), gap="30 minutes"
        )
        return run_to_memory(stream, f"q_stream_sessionize_{next(_seq)}")


@query(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming dedup (``dropDuplicates`` state: one row per
    distinct key).  Keyed on the bounded (user, type) space so the result
    — the distinct pairs — is processing-order-independent and exactly
    matches the batch DISTINCT oracle."""
    with _sized_state(spark, sf_dir):
        stream = dedup_stream(
            stream_events(spark, sf_dir), ["user_id", "event_type"]
        )
        return run_to_memory(
            stream, f"q_stream_dedup_{next(_seq)}", output_mode="append"
        )


@query(
    "q_stream_static_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS sum_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join (stateless enrichment) feeding a
    streaming aggregate: the canonical 'enrich the firehose against a
    dimension, then reduce' pipeline."""
    with _sized_state(spark, sf_dir):
        enriched = enrich_stream_with_dim(
            stream_events(spark, sf_dir),
            load_table(spark, sf_dir, "customer"),
            on=("user_id", "c_custkey"),
            dim_cols=["c_mktsegment"],
        )
        agg = enriched.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("sum_value"),
        )
        return run_to_memory(
            agg, f"q_stream_static_join_{next(_seq)}", output_mode="complete"
        )


@query(
    "q_stream_interval_join",
    oracle="""
    SELECT a.event_id AS probe_id,
           a.user_id,
           b.event_id AS follow_id,
           b.event_type AS follow_type
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
         AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    WHERE a.event_id % 50 = 0
    """,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: sampled probe events joined to each
    same-user event in the following 6 hours — both sides unbounded,
    state bounded by watermark + interval.  Drained with availableNow,
    the result equals the batch self-join the oracle runs."""
    with _sized_state(spark, sf_dir):
        events = stream_events(spark, sf_dir)
        probes = events.where(F.col("event_id") % 50 == 0)
        joined = interval_join_events(probes, events, "6 hours", "1 day")
        return run_to_memory(
            joined,
            f"q_stream_interval_join_{next(_seq)}",
            output_mode="append",
        )
