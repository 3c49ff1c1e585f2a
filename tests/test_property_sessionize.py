"""Property tests: the streaming sessionizer's fold (`_fold`, numpy and
pandas — no Spark needed) must agree with the batch gap-sessionization
algebra (`sessionize_batch`'s lag/flag/sum semantics), re-derived here
independently, on arbitrary inputs: several users in one bucket,
duplicates, arbitrary arrival orders and micro-batch cuts, both
emission rules, and the count of ordering-contract violations.  This is
the cross-implementation invariant that lets the drained stream
hash-match the batch oracle."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_framework_for_mergesort_spark.streaming.stateful import _fold

GAP = 100  # µs, arbitrary
BUCKETS = 4

EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),  # several users per bucket
        st.integers(min_value=1, max_value=2_000),
        st.integers(min_value=-500, max_value=500),  # cents
    ),
    min_size=1,
    max_size=60,
)


def batch_reference(events, gap: int) -> list[tuple]:
    """The batch algebra, re-derived independently: per user, sort,
    split where the gap to the previous event exceeds `gap`, aggregate
    to (user, start, end, n, cents), ordered by (user, start)."""
    out: list[list] = []
    for u, t, c in sorted(events):
        if out and out[-1][0] == u and t - out[-1][2] <= gap:
            out[-1][2] = t
            out[-1][3] += 1
            out[-1][4] += c
        else:
            out.append([u, t, t, 1, c])
    return [tuple(s) for s in out]


def stream_reference(batches, gap: int, watermarks=None):
    """What the streaming contract emits, from `batch_reference`: each
    batch re-sessionizes every event not emitted yet; a session closes
    once end + gap is below its user's max event time (or, given
    watermarks, below the batch's watermark); an arriving event at
    or below its user's highest emitted end + gap is a violation.
    Returns (emitted, kept, violations)."""
    pending, emitted, hwm, violations = [], [], {}, 0
    for i, batch in enumerate(batches):
        violations += sum(t <= hwm.get(u, 0) for u, t, _ in batch)
        pending += batch
        sessions = batch_reference(pending, gap)
        if watermarks is None:
            user_max = {s[0]: s[2] for s in sessions}  # ends ascend per user
            closed = [s for s in sessions if s[2] + gap < user_max[s[0]]]
        else:
            closed = [s for s in sessions if s[2] + gap < watermarks[i]]
        for u, start, end, _, _ in closed:
            hwm[u] = max(hwm.get(u, 0), end + gap)
            pending = [
                e for e in pending if not (e[0] == u and start <= e[1] <= end)
            ]
        emitted += closed
    return sorted(emitted), batch_reference(pending, gap), violations


def fold_batches(batches, gap: int, watermarks=None):
    """Run `_fold` over the batches, carrying state: (emitted, kept,
    violations) in `stream_reference`'s shape."""
    state, emitted, violations = None, [], 0
    for i, batch in enumerate(batches):
        closed, state, v = _fold(
            state,
            pd.DataFrame(batch, columns=["user_id", "ts_us", "cents"]),
            gap,
            BUCKETS,
            None if watermarks is None else watermarks[i],
        )
        emitted += map(tuple, closed.itertuples(index=False))
        violations += v
    kept = list(zip(*state[:5]))
    return sorted(emitted), kept, violations


@settings(max_examples=300, deadline=None)
@given(EVENTS, st.data())
def test_fold_matches_batch_algebra(events, data):
    """One batch in an arbitrary arrival order: every session but each
    user's last is emitted, the last stays in state, and together they
    are the batch sessions."""
    arrival = data.draw(st.permutations(events))
    emitted, kept, violations = fold_batches([arrival], GAP)
    sessions = batch_reference(events, GAP)
    last = {s[0]: s for s in sessions}
    assert kept == sorted(last.values())
    assert emitted == [s for s in sessions if last[s[0]] != s]
    assert violations == 0


@settings(max_examples=300, deadline=None)
@given(EVENTS, st.data())
def test_fold_across_micro_batches_matches_reference(events, data):
    """Arbitrary arrival orders and micro-batch cuts, under both
    emission rules: the emitted sessions, the state left behind and the
    violation count follow the contract; with no violation the emitted
    and kept sessions are exactly the batch sessions."""
    arrival = data.draw(st.permutations(events))
    cuts = sorted(
        data.draw(st.sets(st.integers(1, len(events) - 1), max_size=4))
        if len(events) > 1
        else []
    )
    bounds = [0, *cuts, len(events)]
    batches = [arrival[a:b] for a, b in zip(bounds, bounds[1:])]
    watermarks = data.draw(
        st.none()
        | st.lists(
            st.integers(0, 2_500), min_size=len(batches), max_size=len(batches)
        ).map(sorted)
    )
    got = fold_batches(batches, GAP, watermarks)
    assert got == stream_reference(batches, GAP, watermarks)
    emitted, kept, violations = got
    if violations == 0:
        assert sorted(emitted + kept) == batch_reference(events, GAP)


def test_fold_open_interval_and_watermark_boundary():
    """Two cases the properties above seldom draw.  A late point inside
    an open session must not cut it: the next event is measured against
    the session's end, not the point's.  And under a watermark, a
    session whose end + gap equals the watermark stays open."""
    batches = [[(1, 10, 1), (1, 90, 1), (1, 160, 1)], [(1, 50, 1), (1, 220, 1)]]
    emitted, kept, _ = fold_batches(batches, GAP)
    assert (emitted, kept) == ([], [(1, 10, 220, 5, 5)])
    emitted, kept, _ = fold_batches(batches[:1], GAP, [160 + GAP])
    assert (emitted, kept) == ([], [(1, 10, 160, 3, 3)])
    emitted, kept, _ = fold_batches(batches[:1], GAP, [160 + GAP + 1])
    assert (emitted, kept) == ([(1, 10, 160, 3, 3)], [])


def test_fold_counts_violations_against_user_high_water_marks():
    """A user's high-water mark is its own: a late event of user 1
    below user 1's emitted end + gap counts, an equally old first event
    of user 2 does not."""
    first = pd.DataFrame(
        {"user_id": [1, 1], "ts_us": [10, 500], "cents": [1, 1]}
    )
    closed, state, v = _fold(None, first, GAP, BUCKETS)
    assert list(closed.itertuples(index=False)) == [(1, 10, 10, 1, 1)]
    assert (state[5], state[6], v) == ([1], [10 + GAP], 0)
    late = pd.DataFrame(
        {"user_id": [1, 2], "ts_us": [50, 50], "cents": [1, 1]}
    )
    assert _fold(state, late, GAP, BUCKETS)[2] == 1


def test_fold_batch_rejects_non_positive_timestamps():
    """A timestamp at or before the epoch is refused loudly rather than
    folded."""
    ok = pd.DataFrame(
        {"user_id": [7, 7], "ts_us": [2_000_000, 5_000_000], "cents": [100, 250]}
    )
    closed, state, v = _fold(None, ok, 0, BUCKETS)
    assert v == 0
    assert list(closed.itertuples(index=False)) == [
        (7, 2_000_000, 2_000_000, 1, 100)
    ]
    assert _fold(state, ok, 0, BUCKETS)[2] == 1  # the 2 s event, again
    for bad_s in (0, -7):
        bad = pd.DataFrame(
            {
                "user_id": [7, 7],
                "ts_us": [4_000_000, bad_s * 1_000_000],
                "cents": [100, 100],
            }
        )
        with pytest.raises(ValueError, match="positive event timestamps"):
            _fold(None, bad, 0, BUCKETS)


def test_fold_rejects_changed_bucket_count():
    """State written under one user-bucket count cannot be folded under
    another: the users would move to other buckets and split their open
    sessions, so the fold fails loudly."""
    events = pd.DataFrame({"user_id": [1], "ts_us": [10], "cents": [1]})
    _, state, _ = _fold(None, events, GAP, BUCKETS)
    assert state[7] == BUCKETS
    with pytest.raises(ValueError, match=f"B={BUCKETS} but this plan .* B=8"):
        _fold(state, events, GAP, 8)
