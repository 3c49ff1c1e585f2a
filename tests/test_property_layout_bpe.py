"""Property tests for the newest exact primitives.

Z-order: the generated SQL must equal the Python reference for
arbitrary (including negative / overflowing) inputs — evaluated
through DuckDB so hundreds of hypothesis examples cost milliseconds
(the Spark expression is pinned separately in tests/test_layout.py;
both engines render from the same generator, so DuckDB parity +
cross-engine parity on real data covers the space).

BPE: segmentation must preserve the word (concatenation invariant)
and be a fixpoint (re-segmenting the joined output changes nothing),
for arbitrary words and arbitrary merge lists.
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_framework_for_mergesort_spark.operators import bpe as B
from mapreduce_framework_for_mergesort_spark.operators import layout as L
from tests import references as R


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=1,
        max_size=3,
    ),
)
def test_zorder_duckdb_matches_python_reference(vals):
    cols = [f"c{i}" for i in range(len(vals))]
    sel = ", ".join(f"{v} AS {c}" for v, c in zip(vals, cols))
    got = duckdb.sql(
        f"SELECT {L.duckdb_zorder_key(cols)} AS z FROM (SELECT {sel})"
    ).fetchone()[0]
    assert got == R.python_zorder_key(vals)


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=1,
        max_size=12,
    ),
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(min_codepoint=97, max_codepoint=110),
                min_size=1,
                max_size=2,
            ),
            st.text(
                alphabet=st.characters(min_codepoint=97, max_codepoint=110),
                min_size=1,
                max_size=2,
            ),
        ),
        max_size=8,
        unique=True,
    ),
)
def test_bpe_segment_preserves_word_and_is_fixpoint(word, merges):
    ranks = {p: i for i, p in enumerate(merges)}
    segs = B.segment_word(word, ranks)
    # concatenation invariant: merging never loses or reorders chars
    assert "".join(segs) == word
    # no adjacent pair of output symbols is still mergeable (greedy
    # apply runs to completion)
    assert all(
        (a, b) not in ranks for a, b in zip(segs, segs[1:])
    )
