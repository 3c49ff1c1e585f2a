"""Property-based tests for sequence packing: the distributed exclusive
prefix sum (``sampling.pack_documents``) against a literal Python
cumsum oracle over adversarial corpora — empty corpora, zero-token
docs, docs larger than the whole budget, sparse/duplicate-free id
spaces.  Hypothesis drives a real SparkSession, so examples stay small
and deadlines are off (JVM latency dominates)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from mapreduce_framework_for_mergesort_spark.operators.sampling import (
    pack_documents,
)

PROP = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)

corpora = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**9),  # sparse doc ids
        st.integers(min_value=0, max_value=3000),   # n_tokens (0, > budget)
    ),
    min_size=0,
    max_size=40,
    unique_by=lambda t: t[0],
)


@PROP
@given(corpora, st.integers(min_value=1, max_value=700))
def test_pack_matches_python_cumsum(spark, rows, budget):
    df = spark.createDataFrame(
        [(i, n) for i, n in rows], "doc_id: bigint, toklen: bigint"
    ).repartition(5)
    got = {
        r["doc_id"]: (r["pack_id"], r["pack_offset"])
        for r in pack_documents(df, budget, count_col="toklen").collect()
    }
    excl = 0
    want = {}
    for i, n in sorted(rows):
        want[i] = (excl // budget, excl % budget)
        excl += n
    assert got == want


# --- budget-driven source mixing -------------------------------------------

from mapreduce_framework_for_mergesort_spark.operators.sampling import (  # noqa: E402
    _MIX_ONE,
    mix_plan,
)


@given(
    avails=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=10**12),
        min_size=1,
        max_size=4,
    ),
    weights=st.lists(
        st.integers(min_value=1, max_value=100), min_size=4, max_size=4
    ),
    max_epochs=st.integers(min_value=1, max_value=4),
)
@settings(deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_mix_plan_invariants(avails, weights, max_epochs):
    """For any counts/ratios: no stratum exceeds max_epochs, the
    binding stratum is within one unit of its cap, and planned targets
    reproduce the requested mixture to floor-division error."""
    w = {s: weights[i] for i, s in enumerate(sorted(avails))}
    plan = mix_plan(avails, w, max_epochs=max_epochs)
    den = sum(w.values())
    t = min(avails[s] * max_epochs * den // w[s] for s in w)
    for s, (efull, frac) in plan.items():
        n = efull * _MIX_ONE + frac
        # rate <= max_epochs epochs, always
        assert n <= max_epochs * _MIX_ONE
        # planned units = floor(rate * avail) equals the exact target
        # to within the 2^-32 rate resolution (error grows as
        # avail/2^32 — the documented quantization floor) plus the
        # nested floor divisions
        target = w[s] * t // den
        tol = avails[s] // _MIX_ONE + 1
        assert abs(n * avails[s] // _MIX_ONE - target) <= tol


def test_mix_plan_regimes():
    """The documented three-regime example: 25 docs per source,
    5:3:1:1 at E=2 → two full epochs / 1.2 epochs / 0.4 sampling."""
    plan = mix_plan(
        {s: 25 for s in ("a", "b", "c", "d")},
        {"a": 5, "b": 3, "c": 1, "d": 1},
        max_epochs=2,
    )
    assert plan["a"] == (2, 0)
    assert plan["b"][0] == 1 and 0 < plan["b"][1] < _MIX_ONE
    assert plan["c"][0] == 0 and plan["c"][1] == plan["d"][1]


def test_mix_plan_budget_cap_and_errors():
    import pytest as _pytest

    # one epoch of a lone stratum is the whole stratum, once
    assert mix_plan({"a": 100}, {"a": 1}, max_epochs=1)["a"] == (1, 0)
    with _pytest.raises(ValueError, match="no available data"):
        mix_plan({"a": 0}, {"a": 1})
    with _pytest.raises(ValueError, match="positive integers"):
        mix_plan({"a": 10}, {"a": 0})


# --- sliding-window chunker vs a literal Python windower --------------------

chunk_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**6),
        st.integers(min_value=0, max_value=60),  # token count (0 = empty doc)
    ),
    min_size=0,
    max_size=15,
    unique_by=lambda t: t[0],
)


@PROP
@given(
    chunk_docs,
    st.integers(min_value=2, max_value=12),  # chunk
    st.integers(min_value=0, max_value=11),  # overlap (< chunk enforced below)
)
def test_chunk_documents_matches_python_windower(spark, rows, chunk, overlap):
    """chunk_documents == the literal Python sliding window for every
    (chunk, overlap) geometry: same windows, full coverage (every
    token index appears in some chunk), exact neighbor overlap, empty
    docs emit nothing."""
    from mapreduce_framework_for_mergesort_spark.operators.text import (
        chunk_documents,
    )

    overlap = min(overlap, chunk - 1)
    stride = chunk - overlap
    data = [(i, " ".join(f"t{i}x{j}" for j in range(n))) for i, n in rows]
    df = spark.createDataFrame(
        data, "doc_id bigint, text string"
    ).repartition(3)
    got = {}
    for r in chunk_documents(df, chunk, overlap).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
        )
    for i, n in rows:
        toks = [f"t{i}x{j}" for j in range(n)]
        want = []
        if n:
            n_chunks = 1 + max(0, -(-(n - chunk) // stride))
            for c in range(n_chunks):
                w = toks[c * stride : c * stride + chunk]
                want.append((c, " ".join(w), len(w)))
        assert sorted(got.get(i, [])) == want, (i, n, chunk, overlap)
        # coverage: the final chunk reaches the last token
        if n:
            assert (len(want) - 1) * stride + want[-1][2] == n
