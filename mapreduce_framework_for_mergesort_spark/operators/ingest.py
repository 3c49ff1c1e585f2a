"""Reference I/O format: space-delimited integer text (SURVEY.md O1/O3/O9).

The reference's entire data model is one ASCII file of space-separated
ints (``NodeHandler.java:66-70`` parse, ``NodeHandler.java:88-104`` sink;
delimiter documented at ``README.md:76``).  Here that format is a thin
source/sink around the DataFrame world, with the space as the record
delimiter on both sides:

* scan/split planning (reference O1/O2, ``ServerHandler.java:44-52``,
  ``NodeHandler.java:119-200``) is Spark's FileScan over the text source
  with ``lineSep=" "``: split size is ``spark.sql.files.maxPartitionBytes``
  and each split owns the space-delimited records that start in it, so
  the reference's one-line file is chunked at spaces — nothing to build;
* tokenize/parse (O3) is a ``try_cast`` per record, falling back to
  ``split`` + ``explode`` only for a record holding other whitespace —
  all JVM-side, whole-stage-codegen'd, no Python in the loop;
* malformed tokens become NULLs via ``try_cast`` and are dropped
  *explicitly* (reference O4's "dummy" filtering,
  ``NodeHandler.java:113-116``) — unlike the reference, which swallows
  ``NumberFormatException`` and silently drops the rest of the chunk
  (``NodeHandler.java:68-75``; SURVEY.md §1.3 non-goal).

The engine is correct over the full int domain — the reference is only
correct below its 999999 merge sentinel (``NodeHandler.java:223,238``;
regression-tested in ``tests/test_property_sort.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_ints_text(spark: SparkSession, path: str) -> DataFrame:
    """Space-delimited text → one-int-per-row DataFrame (reference O1+O3).

    Keeps NULLs for unparseable tokens; callers choose the corrupt-record
    policy (``drop_invalid`` mirrors reference O4).

    Records are delimited by the space, the reference's only separator
    (``README.md:76``, ``NodeHandler.java:66``) and the one every
    in-repo producer writes (``write_ints_text``, ``perfbench/gen.py``),
    so a one-line file splits into ``maxPartitionBytes`` scan tasks.
    Any other whitespace (``\\t``, ``\\n``, ``\\r``, ``\\v``, ``\\f``, runs)
    still separates tokens, but only inside a record: a file whose only
    separator is ``\\n`` parses correctly, but as one record per file.
    """
    value = F.col("value")
    tokens = spark.read.option("lineSep", " ").text(path).select(
        F.explode(
            F.when(value.try_cast("int").isNotNull(), F.array(value)).otherwise(
                F.split(value, r"\s+")
            )
        ).alias("token")
    )
    return tokens.where(F.col("token") != "").select(
        F.col("token").try_cast("int").alias("value")
    )


def drop_invalid(df: DataFrame) -> DataFrame:
    """Reference O4: eliminate empty/invalid records
    (``NodeHandler.java:113-116``, ``Server.java:261-263``)."""
    return df.where(F.col("value").isNotNull())


def write_ints_text(df: DataFrame, path: str) -> None:
    """DataFrame → space-delimited text (reference O9 sink,
    ``NodeHandler.java:88-104``).

    Order-preserving and shuffle-free: each partition is written as one
    part file of space-terminated values, in partition order, by the
    text source with ``lineSep=" "`` — so writing a globally-sorted
    DataFrame yields part files that are sorted within and across files
    (part file numbering follows range-partition order) — the
    reference's sorted final file, in its idiomatic N-ordered-files
    form.

    NULL values are dropped (the reference's sink never sees them
    either — its parser discards invalid records upstream,
    ``NodeHandler.java:113-116``).
    """
    out = df.where(F.col("value").isNotNull()).select(
        F.col("value").cast("string").alias("value")
    )
    out.write.mode("overwrite").option("lineSep", " ").text(path)
