"""The bounded memo every Python Arrow kernel caches through
(``functions/hashing.Memo``).  Pure Python: no Spark session."""

from __future__ import annotations

import pandas as pd

from mapreduce_framework_for_mergesort_spark.functions import hashing as H


def _counted(fn):
    calls = []

    def counted(key):
        calls.append(key)
        return fn(key)

    return counted, calls


def test_memo_computes_once_per_distinct_key_none_included():
    # a None result is stored too: the ``memo.get(k) is None`` idiom
    # the helper replaced recomputed it on every lookup
    fn, calls = _counted(lambda k: None if k in (None, "n") else k * 2)
    memo = H.Memo(fn)
    keys = ["a", None, "n", "a", None, "n", "b", "a"]
    assert [memo[k] for k in keys] == [
        "aa", None, None, "aa", None, None, "bb", "aa"
    ]
    assert calls == ["a", None, "n", "b"]


def test_memo_stops_storing_at_the_entry_cap(monkeypatch):
    monkeypatch.setattr(H, "MEMO_ENTRIES", 2)
    fn, calls = _counted(str.upper)
    memo = H.Memo(fn)
    assert [memo[k] for k in "abcac"] == list("ABCAC")
    assert dict(memo) == {"a": "A", "b": "B"}
    # past the cap a miss is still answered, by recomputing
    assert calls == ["a", "b", "c", "c"]


def test_series_map_through_memo_equals_elementwise_fn():
    s = pd.Series(["x", None, "yy", "x", "", None, "yy"])

    def fn(v):
        return -1 if v is None else len(v)

    memo = H.Memo(fn)
    assert s.map(memo).tolist() == [fn(v) for v in s]
    assert dict(memo) == {"x": 1, None: -1, "yy": 2, "": 0}
