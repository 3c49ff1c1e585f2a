"""Reference-parity sort-family queries (SURVEY.md §2.1).

These demonstrate, on the driver's parquet tables, every data-path
operator the reference executes: chunked scan + parse (O1/O3), invalid
record elimination (O4), local run sort (O5), global total-order sort
(O6), k-way merge of sorted runs (O7/O8), text sink round-trip (O9), and
the natural top-k extension.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.operators import ingest, sort
from mapreduce_framework_for_mergesort_spark.queries import query

# --------------------------------------------------------------------------
# q_sort_global — flagship: reference O6 (ServerHandler.java:23-80)
# --------------------------------------------------------------------------


@query(
    "q_sort_global",
    oracle="""
    SELECT CAST(row_number() OVER (
             ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT)
             AS rank,
           l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    """,
)
def q_sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global total-order sort of lineitem with a materialized rank.

    The rank is computed scalably (range partition + local window +
    broadcast offsets — see ``operators.sort.with_global_rank``), never
    through a single-partition window.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    keys = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    return sort.with_global_rank(li, keys).select(
        "rank", "l_orderkey", "l_linenumber", "l_extendedprice"
    )


# --------------------------------------------------------------------------
# q_sort_within_partitions — reference O5 run generation (NodeHandler.java:77)
# --------------------------------------------------------------------------


@query(
    "q_sort_within_partitions",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def q_sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned local sorts (the map side of the reference
    pipeline).  The oracle checks multiset preservation; partition-local
    ordering itself is asserted in ``tests/test_sort.py``."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return sort.sort_within_partitions(
        li, ["l_orderkey", "l_linenumber"], num_partitions=8
    )


# --------------------------------------------------------------------------
# q_merge_sorted_runs — reference O7/O8 k-way merge (NodeHandler.java:204-290)
# --------------------------------------------------------------------------


@query(
    "q_merge_sorted_runs",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
             AS rank,
           o_orderkey, o_totalprice
    FROM orders
    """,
)
def q_merge_sorted_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split orders into 4 disjoint pre-sorted runs, then merge to one
    total order — the reference's run/merge phases as DataFrames."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    keys = ["o_totalprice", "o_orderkey"]
    runs = [
        sort.sort_within_partitions(
            orders.where(F.col("o_orderkey") % 4 == i), keys, num_partitions=4
        )
        for i in range(4)
    ]
    merged = sort.merge_sorted_runs(runs, keys)
    return sort.with_global_rank(merged, keys).select(
        "rank", "o_orderkey", "o_totalprice"
    )


# --------------------------------------------------------------------------
# q_ingest_text_ints — reference O1+O3+O9 round-trip (NodeHandler.java:39-104)
# --------------------------------------------------------------------------


def _ingest_workdir(sf_dir: str, tag: str) -> str:
    digest = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    return os.path.join("/tmp", "msfs_ingest", f"{tag}_{digest}")


@query(
    "q_ingest_text_ints",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY p_size) AS BIGINT) AS rank,
           p_size AS value
    FROM part
    """,
)
def q_ingest_text_ints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize ``part.p_size`` to the reference's space-delimited text
    format, re-ingest (space-delimited records, ``try_cast``), and
    globally sort — the full reference job on its native I/O format."""
    path = _ingest_workdir(sf_dir, "ints")
    vals = load_table(spark, sf_dir, "part").select(
        F.col("p_size").cast("int").alias("value")
    )
    ingest.write_ints_text(vals, path)
    parsed = ingest.drop_invalid(ingest.read_ints_text(spark, path))
    return sort.with_global_rank(parsed, ["value"]).select("rank", "value")


# --------------------------------------------------------------------------
# q_filter_nonnull — reference O4 dummy elimination (NodeHandler.java:113-116)
# --------------------------------------------------------------------------


@query(
    "q_filter_nonnull",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY p_size) AS BIGINT) AS rank,
           p_size AS value
    FROM part
    """,
)
def q_filter_nonnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same round-trip but with corrupt tokens injected into the text;
    ``try_cast`` maps them to NULL and the explicit filter drops them —
    the engine's corrupt-record policy (vs. the reference silently
    discarding the rest of the chunk, ``NodeHandler.java:68-75``)."""
    path = _ingest_workdir(sf_dir, "corrupt")
    vals = load_table(spark, sf_dir, "part").select(
        F.col("p_size").cast("int").alias("value")
    )
    ingest.write_ints_text(vals, path)
    corrupt = spark.createDataFrame(
        [("xx 12a --",), ("NaNish  9999999999999999999999",)], ["value"]
    )
    corrupt.write.mode("append").text(path)
    parsed = ingest.drop_invalid(ingest.read_ints_text(spark, path))
    return sort.with_global_rank(parsed, ["value"]).select("rank", "value")


# --------------------------------------------------------------------------
# q_topk — TakeOrderedAndProject (no global shuffle)
# --------------------------------------------------------------------------


@query(
    "q_topk",
    oracle="""
    SELECT CAST(row_number() OVER (
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT)
             AS rank,
           l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 most expensive lineitems.  ``orderBy().limit(k)`` plans as
    ``TakeOrderedAndProject``: partial top-k per partition, merge of k·P
    candidates — no full sort, no full shuffle, scale-safe."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    keys = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    asc = [False, True, True]
    top = sort.topk(li, keys, 100, ascending=asc)
    # Post-limit rank over ≤100 rows: single-partition window is fine here.
    w = Window.orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
