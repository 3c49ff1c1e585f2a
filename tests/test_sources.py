"""Source/sink formats: round-trip oracle parity, partition pruning,
corrupt-record policy."""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from mapreduce_framework_for_mergesort_spark.queries import ORACLE, QUERIES
from mapreduce_framework_for_mergesort_spark.sources import formats

from tests.oracle import compare_query

SOURCE_KEYS = ["q_source_roundtrips"]  # csv+jsonl+partitioned parquet, consolidated


@pytest.mark.parametrize("name", SOURCE_KEYS)
def test_oracle_parity(spark, sf_oracle, name):
    compare_query(spark, name, sf_oracle, QUERIES, ORACLE)


def test_partitioned_read_prunes_directories(spark, sf_oracle):
    from mapreduce_framework_for_mergesort_spark.queries.sources_family import (
        q_partitioned_parquet,
    )

    plan = (
        q_partitioned_parquet(spark, sf_oracle)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan, plan
    # the status filter must be a partition filter, NOT a data filter
    assert "(o_orderstatus" not in plan.split("PushedFilters")[1].split("]")[0], plan


def test_csv_corrupt_records_dropped_explicitly(spark, tmp_path):
    """PERMISSIVE + _corrupt_record: bad lines are observable and dropped
    by policy, never silently (contrast: reference swallows
    NumberFormatException and loses the rest of the chunk,
    NodeHandler.java:68-75)."""
    p = tmp_path / "bad.csv"
    p.write_text("id,name\n1,alpha\nnot-an-int,beta\n3,gamma\n")
    schema = StructType(
        [StructField("id", IntegerType()), StructField("name", StringType())]
    )
    got = formats.read_csv(spark, str(p), schema)
    assert sorted((r["id"], r["name"]) for r in got.collect()) == [
        (1, "alpha"),
        (3, "gamma"),
    ]


def test_jsonl_corrupt_records_dropped_explicitly(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"id": 1, "name": "alpha"}\n{oops\n{"id": 3, "name": "gamma"}\n')
    schema = StructType(
        [StructField("id", IntegerType()), StructField("name", StringType())]
    )
    got = formats.read_jsonl(spark, str(p), schema)
    assert sorted((r["id"], r["name"]) for r in got.collect()) == [
        (1, "alpha"),
        (3, "gamma"),
    ]


def test_source_roundtrips_write_under_temp_dir(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """Every branch's sink lands under ``tempfile.gettempdir()``, so
    ``TMPDIR`` moves the key's scratch files."""
    import hashlib
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert QUERIES["q_source_roundtrips"](spark, sf_smoke).count() > 0
    digest = hashlib.sha1(sf_smoke.encode()).hexdigest()[:10]
    written = sorted(p.name for p in (tmp_path / "msfs_sources").iterdir())
    assert len(written) == 7
    assert all(name.endswith(f"_{digest}") for name in written)
