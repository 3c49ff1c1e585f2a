"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference repo ``uk27/MapReduce-Framework-For-MergeSort``.

The reference (see ``SURVEY.md``) is a Thrift-RPC MapReduce framework whose
single job type is a distributed external merge sort of a space-delimited
integer text file (``/root/reference/ServerHandler.java:23-80``).  This
package re-expresses that capability — and a superset of relational,
time-series, text, dedup, and similarity operators needed by large-scale
training-data pipelines — idiomatically on Spark DataFrames, letting
Catalyst/Tungsten own planning, shuffle, external sort, speculation, and
fault tolerance that the reference hand-rolls.

Layout:
    session    — tuned SparkSession factory (AQE, Arrow, UTC, shuffle sizing)
    io         — loaders for the driver-generated parquet test tables
    sizing     — the input byte measurement and every input-size cutoff
    engine     — ``MergeSortEngine`` facade mirroring the reference's job API
    operators/ — sort, ingest, relational, dedup, similarity, text, multimodal
    functions/ — reusable column expression builders (vector math, hashing)
    sources/   — reference text-format source/sink, multimodal binary plumbing
    plans/     — physical-plan audit helpers (pushdown/broadcast assertions)
    streaming/ — Structured Streaming variants (windowed aggs, watermarks)
"""

from mapreduce_framework_for_mergesort_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
