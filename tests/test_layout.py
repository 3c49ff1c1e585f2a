"""Layout operators: Z-order key exactness (Python + DuckDB parity),
measured multi-column file pruning from real parquet footers, and
small-file compaction."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.operators import layout as L
from tests import references as R


def test_zorder_key_matches_python_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (5, 9), (65535, 65535), (-3, 70000)]
    df = spark.createDataFrame(rows, "x: long, y: long")
    got = df.select(
        "x", "y", F.expr(L.spark_zorder_key(["x", "y"])).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == R.python_zorder_key([r["x"], r["y"]])
    # interleave sanity: (1,0) -> bit 0, (0,1) -> bit 1
    z = {(r["x"], r["y"]): r["z"] for r in got}
    assert z[(1, 0)] == 1 and z[(0, 1)] == 2 and z[(0, 0)] == 0


def test_zorder_key_matches_duckdb(spark, sf_oracle):
    """The full interleave expression agrees value-for-value across
    engines on real data (the property that lets layouts be
    oracle-checked like any query)."""
    # floor() before the int cast: DuckDB CAST(double AS BIGINT) rounds
    # half-away while Spark truncates — floor agrees everywhere
    cols = ["o_custkey", "CAST(floor(o_totalprice) AS BIGINT)"]
    orders = load_table(spark, sf_oracle, "orders")
    got = dict(
        orders.select(
            "o_orderkey", F.expr(L.spark_zorder_key(cols)).alias("z")
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_oracle}/orders.parquet'"
    )
    want = dict(
        con.execute(
            f"SELECT o_orderkey, {L.duckdb_zorder_key(cols)} FROM orders"
        ).fetchall()
    )
    assert got == want


def test_zorder_key_validation():
    with pytest.raises(ValueError):
        L.spark_zorder_key([])
    with pytest.raises(ValueError):
        L.spark_zorder_key(["a", "b", "c", "d"])  # 4 x 16 = 64 bits


def test_zorder_key_correct_on_int32_columns(spark):
    """IntegerType inputs must produce the same keys as LongType:
    without the in-expression BIGINT cast, Spark's shiftleft does
    32-bit arithmetic on INT operands (shift counts wrap mod 32) and
    (65535, 65535) keys to -1 instead of 2^32-1 (round-4+ review)."""
    rows = [(65535, 65535), (65535, 0), (1, 1)]
    df = spark.createDataFrame(rows, "x: int, y: int")
    got = df.select(
        "x", "y", F.expr(L.spark_zorder_key(["x", "y"])).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == R.python_zorder_key([r["x"], r["y"]]), r
    assert {r["z"] for r in got} == {
        (1 << 32) - 1,
        R.python_zorder_key([65535, 0]),
        3,
    }


def test_write_zordered_rejects_zero_files(spark, sf_oracle, tmp_path):
    orders = load_table(spark, sf_oracle, "orders")
    with pytest.raises(ValueError):
        L.write_zordered(orders, str(tmp_path / "x"), ["o_custkey"], num_files=0)


def test_zordered_layout_prunes_on_both_dimensions(spark, sf_oracle, tmp_path):
    """The measurable claim behind Z-order: after write_zordered on
    (custkey, totalprice), a range predicate on EITHER column skips
    most files by footer min/max alone; the same data written
    hash-scattered skips nothing.  Measured from real parquet footers,
    not asserted from theory."""
    orders = load_table(spark, sf_oracle, "orders").withColumn(
        "o_price_int", F.col("o_totalprice").cast("bigint")
    )
    n_files = 16
    zpath, upath = str(tmp_path / "z"), str(tmp_path / "u")
    L.write_zordered(
        orders, zpath, ["o_custkey", "o_price_int"], num_files=n_files
    )
    orders.repartition(n_files).write.parquet(upath)

    lo_c, hi_c = 10, 110  # ~7% of custkey space
    lo_p, hi_p = 1000, 21000  # low slice of totalprice
    z_cust = R.files_matching(zpath, "o_custkey", lo_c, hi_c)
    u_cust = R.files_matching(upath, "o_custkey", lo_c, hi_c)
    z_price = R.files_matching(zpath, "o_price_int", lo_p, hi_p)
    u_price = R.files_matching(upath, "o_price_int", lo_p, hi_p)
    # hash-scattered: every file spans the whole range -> zero skipping
    assert u_cust == n_files and u_price == n_files
    # z-ordered: BOTH dimensions prune (the single-sort layout can't)
    assert z_cust <= n_files // 2, (z_cust, n_files)
    assert z_price <= n_files // 2, (z_price, n_files)
    # row fidelity
    assert spark.read.parquet(zpath).count() == orders.count()


def test_zorder_beats_single_column_sort_on_second_dim(
    spark, sf_oracle, tmp_path
):
    """Sorting by custkey alone leaves totalprice unpruned — the gap
    Z-order exists to close."""
    orders = load_table(spark, sf_oracle, "orders").withColumn(
        "o_price_int", F.col("o_totalprice").cast("bigint")
    )
    n_files = 16
    spath = str(tmp_path / "s")
    orders.repartitionByRange(n_files, "o_custkey").sortWithinPartitions(
        "o_custkey"
    ).write.parquet(spath)
    zpath = str(tmp_path / "z2")
    L.write_zordered(
        orders, zpath, ["o_custkey", "o_price_int"], num_files=n_files
    )
    lo_p, hi_p = 1000, 21000
    s_price = R.files_matching(spath, "o_price_int", lo_p, hi_p)
    z_price = R.files_matching(zpath, "o_price_int", lo_p, hi_p)
    assert z_price < s_price, (z_price, s_price)


def test_input_bytes_and_adaptive_materialization(spark, sf_oracle):
    """``sizing.input_bytes`` reads the scan's file sizes from
    driver-side metadata (exactly the on-disk sum);
    ``materialize_if_large`` branches on ``sizing.reaches`` — under
    the threshold the plan is returned as-is (same logical plan object
    semantics: still a projection over the scan), at or over it the
    result is a materialized (lineage-cut) frame.  In-memory frames
    have no scan and must stay unmaterialized (None-means-unknown
    contract)."""
    from mapreduce_framework_for_mergesort_spark import sizing
    from mapreduce_framework_for_mergesort_spark.operators.materialize import (
        materialize_if_large,
    )

    docs = load_table(spark, sf_oracle, "documents")
    want = os.path.getsize(os.path.join(sf_oracle, "documents.parquet"))
    assert sizing.input_bytes(docs) == want
    assert sizing.reaches(docs, want) and not sizing.reaches(docs, want + 1)

    proj = docs.select("doc_id")
    small = materialize_if_large(proj, docs, threshold_bytes=want + 1)
    assert small is proj  # under threshold: untouched
    for threshold in (want, want - 1):  # exactly at, and over
        big = materialize_if_large(proj, docs, threshold_bytes=threshold)
        assert big is not proj
        assert big.count() == docs.count()
        # lineage cut: the materialized plan no longer scans the parquet
        assert big.inputFiles() == []

    mem = spark.createDataFrame([(1,)], "doc_id: bigint")
    assert sizing.input_bytes(mem) is None
    assert not sizing.reaches(mem, 0)
    assert materialize_if_large(mem, mem, threshold_bytes=0) is mem
