"""Gap-based sessionization — the custom stateful operator.

Built-in windowed aggregation can't express "a session ends after
``gap`` of inactivity" (window boundaries are data-dependent), so this
is the designated ``applyInPandasWithState`` case: state holds the open
sessions as merged intervals; each microbatch folds new events in and
emits sessions that can no longer grow.

Three entry points:

* ``sessionize_batch`` — the same semantics in pure DataFrame algebra
  (lag → gap flag → running count → aggregate), usable as a batch
  operator and as the oracle for the streaming path.
* ``sessionize_stream`` — the drain-deterministic streaming operator
  that serves the ``q_stream_sessionize`` key.  A session is emitted
  (and dropped from state) once ``end + gap < max event time seen for
  its user``.  Intervals are merged order-robustly, so out-of-order
  events land correctly *within* the batches seen so far.  CONTRACT:
  input must be per-user near-ordered **across microbatches** — an
  event that arrives in a later batch but falls before an
  already-emitted session's ``end + gap`` produces a second (split)
  session for that user.  Violations are OBSERVABLE: pass
  ``late_counter`` (an accumulator) and every such arrival is counted
  against the user's emitted high-water mark, so a silent-split source
  is detected instead of trusted.  This variant exists because it is
  drain-deterministic: drained with availableNow it emits every
  closeable session regardless of final watermark position, which is
  what lets the driver hash-compare it against a batch oracle.
* ``sessionize_stream_watermarked`` — the watermarked contract for
  genuinely out-of-order unbounded sources: emission is gated on the
  query watermark (``GroupState.getCurrentWatermarkMs``), and idle
  buckets flush via ``EventTimeTimeout`` timeouts, so any event the
  watermark still admits can extend its session before emission.  No
  key runs it; tests pin its contract.

Both streaming entry points run one kernel, ``_fold``, and key
``applyInPandasWithState`` on a user *bucket*,
``pmod(xxhash64(user_id), B)``, not on the user: the Python side pays
a fixed cost per key (state, an Arrow slice, a pandas frame), about
3 ms, so one call per bucket folds hundreds of users for the price of
one.  B is the drain's state partition count
(``spark.sql.shuffle.partitions`` when the stream is planned), so the
state rows are B, not one per user.  A bucket's state row holds
parallel arrays of its users' open sessions (user, start, end, count,
cents), each user's emitted high-water mark, and B.  A restarted query
keeps its checkpoint's partition count but plans B from the session's
conf; if the two differ the fold fails loudly instead of splitting the
users' sessions across buckets.

Scale notes: state is bounded by the number of *open* sessions (almost
always one per user) plus one high-water mark per user that ever
closed a session; the shuffle is the hash partition that any
sessionizer needs.  Arrow moves batches in columns.  Session values
accumulate as integer cents (exact, order-independent) — the Python
mirror of the DataFrame layer's DECIMAL-sum discipline.  The cents come
from Spark's own ``CAST(value AS DECIMAL(18,2))``, the batch operator's
cast, before the rows reach Python.  The kernel returns plain
``bigint`` columns (session bounds as epoch micros, totals as cents),
and a projection after the operator turns them into ``OUTPUT_SCHEMA``'s
timestamps and doubles.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP = "30 minutes"

OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)
# What the kernel returns per closed session; ``_to_output`` maps it to
# OUTPUT_SCHEMA.
_KERNEL_COLUMNS = ["user_id", "start_us", "end_us", "n_events", "cents"]
_KERNEL_SCHEMA = ", ".join(f"{c} bigint" for c in _KERNEL_COLUMNS)
STATE_SCHEMA = (
    # one bucket's open sessions, sorted by (user, start)
    "users array<bigint>, starts array<bigint>, ends array<bigint>, "
    "counts array<bigint>, cents array<bigint>, "
    # each user's highest emitted end + gap — the ordering-contract line
    "hwm_users array<bigint>, hwms array<bigint>, "
    "buckets int"
)
_NO_EVENTS = pd.DataFrame(
    {c: np.empty(0, np.int64) for c in ("user_id", "ts_us", "cents")}
)


def _gap_to_us(gap: str) -> int:
    qty, unit = gap.split()
    per = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[
        unit.rstrip("s")
    ]
    return int(qty) * per * 1_000_000


def sessionize_batch(events: DataFrame, gap: str = DEFAULT_GAP) -> DataFrame:
    """Gap sessionization as plain window-function algebra.

    A new session starts where the gap to the previous event of the same
    user exceeds ``gap``; the running sum of start-flags numbers the
    sessions; one aggregate per (user, session).
    """
    gap_us = _gap_to_us(gap)
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "__new",
        (
            F.coalesce(
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(by_user)),
                F.lit(gap_us + 1),
            )
            > gap_us
        ).cast("int"),
    ).withColumn(
        "__sess",
        F.sum("__new").over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return flagged.groupBy("user_id", "__sess").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).cast("int").alias("n_events"),
        # DECIMAL partial sums: order-independent, exact vs the oracle.
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_value"),
    ).select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    )


def _fold_columns() -> list:
    """The only columns the kernel reads: the user, the event time as
    epoch microseconds and the value as integer cents.  The cents are
    the batch operator's ``CAST(value AS DECIMAL(18,2))`` (HALF_UP at 2
    places), scaled by 100, so the streaming and batch totals quantize
    each value the same way.  Every other event column would be
    converted Arrow → pandas and then ignored."""
    return [
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    ]


def _fold(
    state: tuple | None,
    events: pd.DataFrame,
    gap_us: int,
    buckets: int,
    watermark_us: int | None = None,
) -> tuple[pd.DataFrame, tuple, int]:
    """Fold one bucket's micro-batch into its state row.

    ``state`` is the bucket's ``STATE_SCHEMA`` row (None before its
    first batch); ``events`` has ``user_id``, ``ts_us`` and ``cents``.
    Returns the closed sessions as ``_KERNEL_COLUMNS``, the next state
    row, and the count of ordering-contract violations: events at or
    below their user's emitted high-water mark.  With no
    ``watermark_us`` a session closes once ``end + gap`` is below its
    user's max event time; with one, once it is below the watermark.

    Event times must be positive: a time at or before the epoch is a
    defaulted timestamp, refused loudly rather than folded.  Neither
    the user nor the cents may be NULL: a session total has no NULL
    state, and a NaN would poison it.
    """
    if state is None:
        state = ([],) * 7 + (buckets,)
    if state[7] != buckets:
        raise ValueError(
            f"sessionizer state was bucketed by B={state[7]} but this "
            f"plan buckets users by B={buckets} (the "
            "spark.sql.shuffle.partitions it was planned under); restart "
            f"under {state[7]} shuffle partitions or from a new checkpoint"
        )
    if events["user_id"].isna().any():
        raise ValueError("sessionizer requires a non-NULL user_id")
    if events["cents"].isna().any():
        raise ValueError("sessionizer requires a non-NULL event value")
    ev_users = events["user_id"].to_numpy(np.int64)
    ts = events["ts_us"].to_numpy(np.int64)
    if len(ts) and ts.min() <= 0:
        raise ValueError(
            "sessionizer requires positive event timestamps; got "
            f"{int(ts.min())} µs since the epoch"
        )
    users, starts, ends, counts, cents, hwm_users, hwms = (
        np.array(a, dtype=np.int64) for a in state[:7]
    )

    at = np.searchsorted(hwm_users, ev_users)
    known = at < len(hwm_users)
    known[known] = hwm_users[at[known]] == ev_users[known]
    violations = int((ts[known] <= hwms[at[known]]).sum())

    # The open sessions and the new events (as point sessions), by
    # (user, start).  A row starts a new session where its user changes
    # or its start is more than the gap past every earlier end of the
    # user (a running max: an open interval can outreach later points).
    u = np.concatenate([users, ev_users])
    s = np.concatenate([starts, ts])
    order = np.lexsort((s, u))
    u, s = u[order], s[order]
    e = np.concatenate([ends, ts])[order]
    n = np.concatenate([counts, np.ones(len(ts), np.int64)])[order]
    c = np.concatenate([cents, events["cents"].to_numpy(np.int64)])[order]
    reach = pd.Series(e).groupby(u).cummax().to_numpy()
    first = np.ones(len(u), bool)
    first[1:] = (u[1:] != u[:-1]) | (s[1:] - reach[:-1] > gap_us)
    at = np.flatnonzero(first)
    u, s = u[at], s[at]
    e = np.maximum.reduceat(e, at)
    n = np.add.reduceat(n, at)
    c = np.add.reduceat(c, at)

    if watermark_us is None:
        # Every session of a user but its last ends more than the gap
        # before the next one starts, so below the user's max time.
        closed = np.zeros(len(u), bool)
        closed[:-1] = u[1:] == u[:-1]
    else:
        closed = e + gap_us < watermark_us
    if closed.any():
        marks = pd.Series(np.concatenate([hwms, e[closed] + gap_us]))
        marks = marks.groupby(np.concatenate([hwm_users, u[closed]])).max()
        hwm_users, hwms = marks.index.to_numpy(), marks.to_numpy()
    kept = ~closed
    out = pd.DataFrame(
        dict(zip(_KERNEL_COLUMNS, (a[closed] for a in (u, s, e, n, c))))
    )
    state = tuple(a[kept].tolist() for a in (u, s, e, n, c)) + (
        hwm_users.tolist(),
        hwms.tolist(),
        buckets,
    )
    return out, state, violations


def _sessionize(
    events: DataFrame,
    gap: str,
    watermarked: bool,
    late_counter=None,
) -> DataFrame:
    """Plan ``_fold`` over user buckets for both streaming entry points:
    by the user's own max time, or (``watermarked``) by the query's
    2-hour watermark with one event-time timeout per bucket."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = _gap_to_us(gap)
    buckets = int(events.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state,  # GroupState
    ) -> Iterator[pd.DataFrame]:
        frames = list(pdfs)  # none when a watermarked bucket times out
        batch = pd.concat(frames, ignore_index=True) if frames else _NO_EVENTS
        wm_ms = state.getCurrentWatermarkMs() if watermarked else None
        closed, row, violations = _fold(
            state.get if state.exists else None,
            batch,
            gap_us,
            buckets,
            None if wm_ms is None else wm_ms * 1000,
        )
        if not watermarked:
            state.update(row)
        elif row[0]:
            state.update(row)
            # Wake this bucket when the watermark can first close one of
            # its sessions, even if it never receives another event.
            next_close_ms = (min(row[2]) + gap_us) // 1000 + 1
            state.setTimeoutTimestamp(max(next_close_ms, wm_ms + 1))
        else:
            state.remove()
        if late_counter is not None and violations:
            late_counter.add(violations)
        if len(closed):
            yield closed

    cols = _fold_columns()
    if watermarked:
        cols.append("ts")  # EventTimeTimeout needs the watermarked column
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(buckets)).alias("bucket")
    return _to_output(
        events.withWatermark("ts", "2 hours")
        .select(*cols, bucket)
        .groupBy("bucket")
        .applyInPandasWithState(
            fn,
            outputStructType=_KERNEL_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout
            if watermarked
            else GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap: str = DEFAULT_GAP,
    late_counter=None,
) -> DataFrame:
    """Streaming gap sessionization via ``applyInPandasWithState``,
    emitting each session once its user's own timeline closes it.

    ``late_counter`` (an optional ``sparkContext.accumulator(0)``) makes
    violations of the per-user near-ordered-arrival CONTRACT observable:
    every event arriving at or below its user's already-emitted session
    boundary (``end + gap`` high-water mark, carried in state) is
    counted — such events silently produce split sessions.  A nonzero
    counter means the source needs the watermarked contract
    (``sessionize_stream_watermarked``).
    """
    return _sessionize(events, gap, watermarked=False, late_counter=late_counter)


def _to_output(sessions: DataFrame) -> DataFrame:
    """Kernel rows → ``OUTPUT_SCHEMA``.  Session bounds are epoch
    micros, which ``timestamp_micros`` turns into instants without
    consulting the session timezone.  cents / 100.0 is correctly
    rounded, so it equals the batch operator's decimal(18,2) → double
    cast of the same total."""
    return sessions.select(
        "user_id",
        F.timestamp_micros("start_us").alias("session_start"),
        F.timestamp_micros("end_us").alias("session_end"),
        F.col("n_events").cast("int").alias("n_events"),
        (F.col("cents") / 100.0).alias("total_value"),
    )


def sessionize_stream_watermarked(events: DataFrame) -> DataFrame:
    """Watermark-gated gap sessionization for out-of-order sources: the
    watermarked contract (only tests reach it); ``sessionize_stream``
    serves ``q_stream_sessionize``.

    Emission is bounded by the *query watermark*, not the user's own max
    event time: a session leaves state only when ``end + gap`` is below
    the watermark, so any event the watermark still admits can extend it
    first — no duplicate/split sessions under admissible late data.
    Idle buckets flush through ``EventTimeTimeout`` (a bucket with no
    new input still gets a timeout invocation once the watermark passes
    its earliest close point).  The cost of that correctness: sessions
    younger than the final watermark are never emitted on a drained
    finite input, so the availableNow-drain hash check uses
    ``sessionize_stream`` instead.
    """
    return _sessionize(events, DEFAULT_GAP, watermarked=True)
