"""The reference's int text format through ``read_ints_text``: records
are space-delimited, so a one-line file splits at any scan split size,
and every other whitespace class still separates tokens.

The property test generates files from int32 values (edges and the
reference's 999999 merge sentinel included) plus corrupt tokens, joined
by runs of mixed whitespace with leading and trailing whitespace, and
reads each one at several ``maxPartitionBytes`` — the parsed multiset
must equal Python's ``str.split()`` plus an int32 parse at every split
size.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.io import scoped_session_confs
from mapreduce_framework_for_mergesort_spark.operators import ingest

SPLIT_KEY = "spark.sql.files.maxPartitionBytes"
INT32_EDGES = [-(2**31), 2**31 - 1, -1, 0, 999999, 1000000]
CORRUPT = ["xx", "12a", "--", "2147483648", "-2147483649"]
SEPARATORS = [" ", "   ", "\t", "\n", "\r\n", "\x0b", "\x0c"]

tokens = st.lists(
    st.one_of(
        st.integers(min_value=-(2**31), max_value=2**31 - 1).map(str),
        st.sampled_from(INT32_EDGES).map(str),
        st.sampled_from(CORRUPT),
    ),
    max_size=120,
)
gap = st.lists(st.sampled_from(SEPARATORS), min_size=1, max_size=3).map("".join)
edge = st.one_of(st.just(""), gap)


@st.composite
def int_text(draw) -> str:
    toks = draw(tokens)
    body = "".join(t + draw(gap) for t in toks[:-1]) + "".join(toks[-1:])
    return draw(edge) + body + draw(edge)


def _python_ints(text: str) -> list[int]:
    out = []
    for tok in text.split():
        try:
            v = int(tok)
        except ValueError:
            continue
        if -(2**31) <= v < 2**31:
            out.append(v)
    return sorted(out)


def _read(spark, path: str) -> list[int]:
    df = ingest.drop_invalid(ingest.read_ints_text(spark, path))
    return sorted(r["value"] for r in df.collect())


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(text=int_text())
def test_parse_matches_python_split_at_every_split_size(
    spark, tmp_path_factory, text
):
    path = tmp_path_factory.mktemp("ints") / "ints.txt"
    path.write_bytes(text.encode())
    want = _python_ints(text)
    for split in ("37", "1000", "4096", spark.conf.get(SPLIT_KEY)):
        with scoped_session_confs(spark, ((SPLIT_KEY, split),)):
            assert _read(spark, str(path)) == want, split


def test_newline_only_file_parses_as_one_record(spark, tmp_path):
    """Out of the format's scope but still correct: a file whose only
    separator is ``\\n`` is one space-delimited record, read whole by
    the split it starts in."""
    vals = [5, -3, 999999, 1000000, 2**31 - 1, 7, 7]
    path = tmp_path / "lines.txt"
    path.write_text("\n".join(map(str, vals)) + "\n")
    with scoped_session_confs(spark, ((SPLIT_KEY, "8"),)):
        df = ingest.drop_invalid(ingest.read_ints_text(spark, str(path)))
        assert sorted(r["value"] for r in df.collect()) == sorted(vals)
        parts = df.groupBy(F.spark_partition_id()).count().collect()
    assert len(parts) == 1
