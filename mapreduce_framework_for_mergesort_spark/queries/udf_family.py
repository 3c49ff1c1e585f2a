"""UDF / UDAF / UDTF extension-point queries (seams in
``functions/udf_ext.py``).  The logic is integer/string-exact on purpose:
what's under test is the extension mechanism (Arrow batching, grouped-agg
shuffle placement, UDTF lateral fan-out), verified value-for-value
against oracles that re-derive the same math in SQL.

Registry consolidated to the driver's 50-key budget: round-1's
``q_udf_digit_sum`` / ``q_udaf_median`` / ``q_udtf_split`` are one
tagged-union key, ``q_udf_suite`` — all three seams still execute in the
one plan (ArrowEvalPython, AggregateInPandas, and a LATERAL Python UDTF
respectively; tests/test_udf_ext.py pins the plan shapes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.functions import hashing as _H
from mapreduce_framework_for_mergesort_spark.functions.udf_ext import (
    SplitWords,
    digit_sum,
    median_long,
)
from mapreduce_framework_for_mergesort_spark.io import (
    fan_out_starved_scan,
    load_table,
)
from mapreduce_framework_for_mergesort_spark.queries import query


def udf_digit_sum_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF in a real plan position (projection feeding an
    aggregate).  The plan shows ArrowEvalPython — one Python stage,
    columnar batches — not per-row pickling."""
    # round 12 (optimization): the Arrow UDF ran on the starved
    # single-task fixture scan; fan-out A/B at sf0.1 — orders+documents
    # 1.29 s vs unmodified 1.57 s (lineitem's grouped-agg branch
    # measured WORSE fanned: its heavy work happens after the groupBy
    # exchange on 3 groups, the profile_stats lesson)
    o = fan_out_starved_scan(load_table(spark, sf_dir, "orders"))
    return (
        o.select(digit_sum("o_orderkey").alias("ds"))
        .groupBy("ds")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def udaf_median_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF): low-median per group, running
    after the groupBy shuffle with one Arrow batch per group.  DuckDB's
    ``quantile_disc(0.5)`` picks the identical lower-middle element, so
    even a custom aggregate is exactly oracle-checked."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    )
    # A grouped-agg pandas UDF can't share an .agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — two aggs over the same grouping,
    # joined on the 3-row key, keep both exact.
    med = li.groupBy("l_returnflag").agg(median_long("q").alias("med_qty"))
    cnt = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    return med.join(F.broadcast(cnt), "l_returnflag")


def udtf_split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join: one document row fans out to one row
    per token with its position — arbitrary-logic explode with a typed
    output schema.  Arrow transfer is runtime-enabled (vanilla-session
    safe) so the fan-out moves columnar batches, not pickled rows —
    plan node ArrowEvalPythonUDTF, pinned in tests/test_udf_ext.py."""
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    spark.udtf.register("split_words", SplitWords)
    # fan-out: the UDTF's eval is called per ROW in Python — the most
    # per-row-expensive seam in the suite — and ran on one task
    fan_out_starved_scan(
        load_table(spark, sf_dir, "documents")
    ).createOrReplaceTempView("documents_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.word, s.pos
        FROM documents_udtf d, LATERAL split_words(d.text) s
        """
    )


@query(
    "q_udf_suite",
    oracle=r"""
    SELECT 'digit_sum' AS part,
           CAST(list_sum(list_transform(
             regexp_extract_all(CAST(o_orderkey AS VARCHAR), '[0-9]'),
             x -> CAST(x AS BIGINT))) AS VARCHAR) AS k,
           COUNT(*) AS v1,
           CAST(NULL AS BIGINT) AS v2
    FROM orders
    GROUP BY 2
    UNION ALL
    SELECT 'median' AS part,
           l_returnflag AS k,
           CAST(quantile_disc(CAST(l_quantity AS BIGINT), 0.5) AS BIGINT) AS v1,
           COUNT(*) AS v2
    FROM lineitem
    GROUP BY l_returnflag
    UNION ALL
    SELECT 'split' AS part,
           toks[i] AS k,
           doc_id AS v1,
           CAST(i - 1 AS BIGINT) AS v2
    FROM (SELECT doc_id, __DUCKDB_TOKS__ AS toks
          FROM documents),
         unnest(range(1, len(toks) + 1)) AS u(i)
    """.replace("__DUCKDB_TOKS__", _H.duckdb_tokens("text")),
)
def q_udf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three Python extension seams in one tagged union:

    * ``digit_sum`` — Arrow scalar pandas UDF feeding a JVM aggregate;
    * ``median`` — grouped-aggregate pandas UDF after the shuffle;
    * ``split`` — Python UDTF LATERAL fan-out (1 → N typed rows).
    """
    ds = udf_digit_sum_agg(spark, sf_dir).select(
        F.lit("digit_sum").alias("part"),
        F.col("ds").cast("string").alias("k"),
        F.col("n").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
    )
    med = udaf_median_by_flag(spark, sf_dir).select(
        F.lit("median").alias("part"),
        F.col("l_returnflag").alias("k"),
        F.col("med_qty").alias("v1"),
        F.col("n").alias("v2"),
    )
    sp = udtf_split_words(spark, sf_dir).select(
        F.lit("split").alias("part"),
        F.col("word").alias("k"),
        F.col("doc_id").alias("v1"),
        F.col("pos").cast("long").alias("v2"),
    )
    return ds.unionByName(med).unionByName(sp)
