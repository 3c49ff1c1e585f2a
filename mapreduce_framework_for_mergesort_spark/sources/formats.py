"""Row-format sources/sinks beyond parquet: CSV, JSON-lines, and
hive-partitioned parquet.

The reference's only format is space-delimited int text
(``NodeHandler.java:66-70``; handled in ``operators/ingest.py``).  A real
pipeline also lands CSV/JSONL drops and re-shards them into partitioned
parquet, so those paths are first-class here:

* every reader takes an **explicit schema** — schema inference is a full
  extra pass over the data (a non-starter at 100 TB) and is
  non-deterministic under sampling;
* corrupt records follow the engine's explicit policy (PERMISSIVE +
  ``_corrupt_record`` column the caller filters), never silent dropping;
* the partitioned-parquet writer is the scale sink: directory layout by a
  low-cardinality column gives partition *pruning* on read (a filter on
  the partition column skips whole directories before any I/O — visible
  as ``PartitionFilters`` in ``.explain``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    """PERMISSIVE mode parks unparseable lines in ``_corrupt_record``;
    the column must exist in the schema to be observable."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return schema.add(CORRUPT_COL, "string", True)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    df = spark.read.csv(
        path,
        schema=_with_corrupt(schema),
        header=True,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=CORRUPT_COL,
    )
    return df.where(df[CORRUPT_COL].isNull()).drop(CORRUPT_COL)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").csv(path, header=True)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    df = spark.read.json(
        path,
        schema=_with_corrupt(schema),
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=CORRUPT_COL,
    )
    return df.where(df[CORRUPT_COL].isNull()).drop(CORRUPT_COL)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-layout parquet sink.  Partition columns should be
    low-cardinality (status, date bucket, language): each distinct value
    is a directory, and each task writes one file per value it holds —
    a high-cardinality partition column at 100 TB means millions of tiny
    files.  Callers with many values per task should ``repartition`` on
    the partition columns first so each output directory gets few, large
    files."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def read_partitioned_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC: the other columnar-at-rest format Spark ships a vectorized
    reader for (predicate pushdown + column pruning work the same as
    parquet — ``PushedFilters`` appears in the scan node)."""
    return spark.read.orc(path)
