"""Property-based sort tests (SURVEY.md §5.2): the engine's sort family
against Python's ``sorted`` oracle over adversarial int lists.

Includes the reference-breaking regression: the reference's k-way merge
uses 999999 as an end-of-stream sentinel (``NodeHandler.java:223,238``)
and silently truncates any input containing values ≥ 999999
(SURVEY.md §1.2).  This engine is correct over the full int domain —
the sentinel values appear in every strategy's pool here.

Hypothesis drives a real SparkSession, so examples are kept small and
deadlines disabled (JVM latency, not algorithmic cost, dominates).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.operators import ingest, sort

SENTINELS = [999999, 1000000, 999999999, -999999]

ints = st.one_of(
    st.integers(min_value=-(2**31), max_value=2**31 - 1),
    st.sampled_from(SENTINELS),
)

int_lists = st.lists(ints, min_size=0, max_size=300)

PROP = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _df(spark, vals, partitions=4):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(((v,) for v in vals), partitions),
        "value int",
    )


@PROP
@given(vals=int_lists)
def test_sort_global_matches_sorted(spark, vals):
    got = [
        r["value"]
        for r in sort.sort_global(_df(spark, vals), ["value"]).collect()
    ]
    assert got == sorted(vals)


@PROP
@given(vals=int_lists)
def test_rank_is_dense_and_multiset_preserved(spark, vals):
    ranked = sort.with_global_rank(_df(spark, vals), ["value"]).collect()
    assert sorted(r["rank"] for r in ranked) == list(range(1, len(vals) + 1))
    by_rank = [r["value"] for r in sorted(ranked, key=lambda r: r["rank"])]
    assert by_rank == sorted(vals)


@PROP
@given(
    vals=int_lists,
    n_runs=st.integers(min_value=1, max_value=5),
)
def test_merge_sorted_runs_matches_sorted(spark, vals, n_runs):
    runs = [
        sort.sort_within_partitions(
            _df(spark, vals[i::n_runs], partitions=2), ["value"]
        )
        for i in range(n_runs)
    ]
    merged = sort.merge_sorted_runs(runs, ["value"])
    assert [r["value"] for r in merged.collect()] == sorted(vals)


def test_sentinel_values_survive_text_roundtrip(spark, tmp_path):
    """The exact input class the reference truncates: values at and above
    its 999999 merge sentinel, through the reference's own text format."""
    vals = [999999, 1000000, 999998, 999999, 5, -7, 2**31 - 1]
    df = _df(spark, vals)
    path = str(tmp_path / "sentinel_ints")
    ingest.write_ints_text(sort.sort_global(df, ["value"]), path)
    back = ingest.drop_invalid(ingest.read_ints_text(spark, path))
    got = [r["value"] for r in back.orderBy("value").collect()]
    assert got == sorted(vals)
    # duplicates of the sentinel itself are preserved (the reference's
    # merge would have stopped at the first one)
    assert got.count(999999) == 2


def test_topk_equals_head_of_sorted(spark):
    vals = [999999, 1000000, 3, 3, -1, 0, 999999, 42]
    top = sort.topk(_df(spark, vals), ["value"], 4, ascending=[False])
    assert [r["value"] for r in top.collect()] == sorted(vals, reverse=True)[:4]


def test_empty_input(spark):
    empty = _df(spark, [])
    assert sort.sort_global(empty, ["value"]).count() == 0
    assert sort.with_global_rank(empty, ["value"]).count() == 0


@settings(max_examples=10, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    n_base=st.integers(min_value=0, max_value=40),
    ops=st.lists(
        st.tuples(st.integers(min_value=0, max_value=60),
                  st.sampled_from(["I", "U", "D"])),
        max_size=25,
        unique_by=lambda t: t[0],
    ),
)
def test_cdc_upsert_matches_dict_semantics(spark, n_base, ops):
    """apply_cdc == dict-application oracle: U replaces, D removes,
    I inserts (keys unique within a change set by contract)."""
    from mapreduce_framework_for_mergesort_spark.operators.upsert import apply_cdc

    # contract: 'I' is for genuinely new keys (an I on an existing key is
    # the caller's bug) — collide-as-insert becomes update here
    ops = [(k, "U" if op == "I" and k < n_base else op) for k, op in ops]
    base = {k: k * 10 for k in range(n_base)}
    expect = dict(base)
    for k, op in ops:
        if op == "D":
            expect.pop(k, None)
        else:
            expect[k] = k * 10 + 1
    base_df = spark.createDataFrame(
        [(k, v) for k, v in base.items()] or
        spark.sparkContext.emptyRDD(),  # typed empty
        "k int, v int",
    )
    ch_df = spark.createDataFrame(
        [(k, op, k * 10 + 1) for k, op in ops] or
        spark.sparkContext.emptyRDD(),
        "k int, op string, v int",
    )
    got = {r["k"]: r["v"] for r in apply_cdc(base_df, ch_df, ["k"]).collect()}
    assert got == expect
