"""Gap-based sessionization — the custom stateful operator.

Built-in windowed aggregation can't express "a session ends after
``gap`` of inactivity" (window boundaries are data-dependent), so this
is the designated ``applyInPandasWithState`` case: per-key state holds
the set of open sessions as merged intervals; each microbatch folds new
events in and emits sessions that can no longer grow.

Two entry points:

* ``sessionize_batch`` — the same semantics in pure DataFrame algebra
  (lag → gap flag → running count → aggregate), usable as a batch
  operator and as the oracle for the streaming path.
* ``sessionize_stream`` — the drain-deterministic streaming operator
  that serves the ``q_stream_sessionize`` key.
  State is four parallel arrays (starts, ends, counts, totals-in-cents)
  of *open* sessions plus the emitted-boundary high-water mark;
  intervals are merged order-robustly, so out-of-order events land
  correctly *within* the batches seen so far.  A session is emitted
  (and dropped from state) once ``end + gap < max event time seen for
  the key``.  CONTRACT: input must be per-key near-ordered **across
  microbatches** — an event that arrives in a later batch but falls
  before an already-emitted session's ``end + gap`` produces a second
  (split) session for that key.  Violations are OBSERVABLE: pass
  ``late_counter`` (an accumulator) and every such arrival is counted
  against the state's high-water mark, so a silent-split source is
  detected instead of trusted.  For sources that can be later than
  that, the watermarked contract below only emits below the query
  watermark.  The per-key-max variant exists because it is
  drain-deterministic: drained with availableNow it emits every
  closeable session regardless of final watermark position, which is
  what lets the driver hash-compare it against a batch oracle.

* ``sessionize_stream_watermarked`` — the watermarked contract for
  genuinely out-of-order unbounded sources: emission is gated on the
  query watermark (``GroupState.getCurrentWatermarkMs``), and idle keys
  flush via ``EventTimeTimeout`` timeouts, so any event the watermark
  still admits can extend its session before emission.  No key runs
  it; only tests do.  It is kept as the contract the one-sessionizer
  port (ROADMAP §5) must serve together with ``q_stream_sessionize``.

Scale notes: state is per-user and bounded by the number of *open*
sessions (almost always 1); the shuffle is the groupBy(user_id) hash
partition that any sessionizer needs.  Arrow moves batches in columns.
Session values accumulate as integer cents (exact, order-independent)
— the Python mirror of the DataFrame layer's DECIMAL-sum discipline.
The cents come from Spark's own ``CAST(value AS DECIMAL(18,2))``, the
batch operator's cast, before the rows reach Python.  The kernels
return plain ``bigint`` columns (session bounds as epoch micros, totals
as cents), and a projection after the operator turns them into
``OUTPUT_SCHEMA``'s timestamps and doubles.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP = "30 minutes"

OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)
# What the kernels return per closed session; ``_to_output`` maps it to
# OUTPUT_SCHEMA.
_KERNEL_COLUMNS = ["user_id", "start_us", "end_us", "n_events", "cents"]
_KERNEL_SCHEMA = ", ".join(f"{c} bigint" for c in _KERNEL_COLUMNS)
STATE_SCHEMA = (
    "starts array<bigint>, ends array<bigint>, "
    "counts array<int>, totals array<bigint>, "  # totals = integer cents
    "hwm bigint"  # highest emitted end+gap — the ordering-contract line
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
    """The only columns the stateful kernels read: the key, the event
    time as epoch microseconds and the value as integer cents.  The
    cents are the batch operator's ``CAST(value AS DECIMAL(18,2))``
    (HALF_UP at 2 places), scaled by 100, so the streaming and batch
    totals quantize each value the same way.  Every other event column
    would be converted Arrow → pandas per key and then ignored."""
    return [
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    ]


def _fold_batch(rows: list, pdf: pd.DataFrame, hwm: int) -> int:
    """Append one micro-batch's (t, t, 1, cents) point sessions to
    ``rows`` and return the count of ordering-contract violations
    (events at/below the emitted high-water mark).  Event times arrive
    as ``ts_us`` epoch microseconds and must be positive: ``hwm`` 0
    stands for "nothing emitted yet".  ``cents`` must not be NULL: a
    session total has no NULL state, and a NaN would poison it."""
    us = pdf["ts_us"].to_numpy()
    if len(us) and us.min() <= 0:
        raise ValueError(
            "sessionizer requires positive event timestamps; got "
            f"{int(us.min())} µs since the epoch"
        )
    cents = pdf["cents"]
    if cents.isna().any():
        raise ValueError("sessionizer requires a non-NULL event value")
    violations = int((us <= hwm).sum())
    usl = us.tolist()
    from itertools import repeat

    rows.extend(zip(usl, usl, repeat(1), cents.astype("int64").tolist()))
    return violations


def _merge_sessions(
    rows: list[tuple[int, int, int, int]], gap_us: int
) -> list[tuple[int, int, int, int]]:
    """Union point/interval sessions whose gap is ≤ gap_us (sorted by start)."""
    rows.sort()
    merged: list[list] = []
    for s, e, n, v in rows:
        if merged and s - merged[-1][1] <= gap_us:
            merged[-1][1] = max(merged[-1][1], e)
            merged[-1][2] += n
            merged[-1][3] += v
        else:
            merged.append([s, e, n, v])
    return [tuple(m) for m in merged]


def sessionize_stream(
    events: DataFrame,
    gap: str = DEFAULT_GAP,
    watermark: str = "2 hours",
    late_counter=None,
) -> DataFrame:
    """Streaming gap sessionization via ``applyInPandasWithState``.

    ``late_counter`` (an optional ``sparkContext.accumulator(0)``) makes
    violations of the per-key near-ordered-arrival CONTRACT observable:
    every event arriving at or below the key's already-emitted session
    boundary (``end + gap`` high-water mark, carried in state) is
    counted — such events silently produce split sessions, which is
    exactly the failure mode the round-2 advisory wanted surfaced.
    A nonzero counter means the source needs the watermarked contract
    (``sessionize_stream_watermarked``).
    """
    gap_us = _gap_to_us(gap)

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state,  # GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows: list[tuple[int, int, int, int]] = []
        hwm = 0
        if state.exists:
            starts, ends, counts, totals, hwm = state.get
            hwm = hwm or 0
            rows += list(zip(starts, ends, counts, totals))
        violations = 0
        for pdf in pdfs:
            violations += _fold_batch(rows, pdf, hwm)
        sessions = _merge_sessions(rows, gap_us)
        max_ts = max(e for _, e, _, _ in sessions)
        closed = [s for s in sessions if s[1] + gap_us < max_ts]
        kept = [s for s in sessions if s[1] + gap_us >= max_ts]
        if closed:
            hwm = max(hwm, max(s[1] + gap_us for s in closed))
        state.update(
            (
                [s[0] for s in kept],
                [s[1] for s in kept],
                [s[2] for s in kept],
                [s[3] for s in kept],
                hwm,
            )
        )
        if late_counter is not None and violations:
            late_counter.add(violations)
        yield from _emit(user_id, closed)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return _to_output(
        events.withWatermark("ts", watermark)
        .select(*_fold_columns())
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_KERNEL_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _emit(user_id: int, closed: list[tuple[int, int, int, int]]):
    """One key's closed sessions as ``_KERNEL_COLUMNS``, built from one
    2-D int64 array."""
    if closed:
        import numpy as np

        yield pd.DataFrame(
            np.array([(user_id, *s) for s in closed], dtype="int64"),
            columns=_KERNEL_COLUMNS,
        )


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


def sessionize_stream_watermarked(
    events: DataFrame, gap: str = DEFAULT_GAP, watermark: str = "2 hours"
) -> DataFrame:
    """Watermark-gated gap sessionization for out-of-order sources: the
    watermarked contract, kept (only tests reach it) for the
    one-sessionizer port of ROADMAP §5; ``sessionize_stream`` serves
    ``q_stream_sessionize``.

    Emission is bounded by the *query watermark*, not the key's own max
    event time: a session leaves state only when ``end + gap`` is below
    the watermark, so any event the watermark still admits can extend it
    first — no duplicate/split sessions under admissible late data.
    Idle keys flush through ``EventTimeTimeout`` (a key with no new
    input still gets a timeout invocation once the watermark passes its
    earliest close point).  The cost of that correctness: sessions
    younger than the final watermark are never emitted on a drained
    finite input, so the availableNow-drain hash check uses
    ``sessionize_stream`` instead.
    """
    gap_us = _gap_to_us(gap)

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state,  # GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows: list[tuple[int, int, int, int]] = []
        hwm = 0
        if state.exists:
            starts, ends, counts, totals, hwm = state.get
            hwm = hwm or 0
            rows += list(zip(starts, ends, counts, totals))
        if not state.hasTimedOut:
            for pdf in pdfs:
                _fold_batch(rows, pdf, 0)
        sessions = _merge_sessions(rows, gap_us)
        wm_us = state.getCurrentWatermarkMs() * 1000
        closed = [s for s in sessions if s[1] + gap_us < wm_us]
        kept = [s for s in sessions if s[1] + gap_us >= wm_us]
        if closed:
            hwm = max(hwm, max(s[1] + gap_us for s in closed))
        if kept:
            state.update(
                (
                    [s[0] for s in kept],
                    [s[1] for s in kept],
                    [s[2] for s in kept],
                    [s[3] for s in kept],
                    hwm,
                )
            )
            # Wake this key when the watermark can first close a session,
            # even if it never receives another event.
            next_close_ms = min(s[1] + gap_us for s in kept) // 1000 + 1
            state.setTimeoutTimestamp(
                max(next_close_ms, state.getCurrentWatermarkMs() + 1)
            )
        else:
            state.remove()
        yield from _emit(user_id, closed)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return _to_output(
        events.withWatermark("ts", watermark)
        # EventTimeTimeout needs the watermarked column itself.
        .select(*_fold_columns(), "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_KERNEL_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
