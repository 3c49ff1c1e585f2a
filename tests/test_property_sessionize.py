"""Property test: the streaming sessionizer's interval-merge kernel
(`_merge_sessions`, pure Python — no Spark needed) must agree with the
batch gap-sessionization algebra (`sessionize_batch`'s lag/flag/sum
semantics) on arbitrary inputs, including duplicates and out-of-order
arrival.  This is the cross-implementation invariant that lets the
drained stream hash-match the batch oracle."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_framework_for_mergesort_spark.streaming.stateful import (
    _fold_batch,
    _merge_sessions,
)

GAP = 100  # µs, arbitrary


def batch_reference(times: list[int], gap: int):
    """The batch algebra, re-derived independently: sort, split where
    the gap to the previous event exceeds `gap`, aggregate."""
    out = []
    for t in sorted(times):
        if out and t - out[-1][1] <= gap:
            out[-1][1] = t
            out[-1][2] += 1
        else:
            out.append([t, t, 1])
    return [(s, e, n) for s, e, n in out]


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=5_000), min_size=1, max_size=60),
    st.data(),
)
def test_merge_sessions_matches_batch_algebra(times, data):
    # feed the kernel in an arbitrary arrival order (streaming reality)
    order = data.draw(st.permutations(list(range(len(times)))))
    rows = [(times[i], times[i], 1, 1) for i in order]
    got = [(s, e, n) for s, e, n, _ in _merge_sessions(rows, GAP)]
    assert got == batch_reference(times, GAP)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=5_000), min_size=2, max_size=40)
)
def test_merge_sessions_incremental_equals_oneshot(times):
    """Folding events in two arbitrary chunks through state (what
    microbatches do) must equal one-shot merging — the state-carry
    invariant, provided no emission happened in between."""
    cut = len(times) // 2
    first = _merge_sessions(
        [(t, t, 1, 1) for t in times[:cut]], GAP
    )
    both = _merge_sessions(
        list(first) + [(t, t, 1, 1) for t in times[cut:]], GAP
    )
    oneshot = _merge_sessions([(t, t, 1, 1) for t in times], GAP)
    assert both == oneshot


def test_fold_batch_rejects_non_positive_timestamps():
    """0 doubles as the "nothing emitted yet" high-water mark, so a
    timestamp at or before the epoch is refused loudly rather than
    slipping past the ordering-violation count."""
    ok = pd.DataFrame({"ts_us": [2_000_000, 5_000_000], "cents": [100, 250]})
    rows: list = []
    assert _fold_batch(rows, ok, 0) == 0
    assert _fold_batch(rows, ok, 3_000_000) == 1  # the 2 s event
    assert rows[0] == (2_000_000, 2_000_000, 1, 100)
    for bad_s in (0, -7):
        bad = pd.DataFrame(
            {"ts_us": [4_000_000, bad_s * 1_000_000], "cents": [100, 100]}
        )
        with pytest.raises(ValueError, match="positive event timestamps"):
            _fold_batch([], bad, 0)
