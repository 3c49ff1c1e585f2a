"""KMV distinct-cardinality sketch: accuracy bound, exact-below-k,
NULL handling, and value-level DuckDB parity; Count-Min and dyadic
Count-Min sketches."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.operators import sketches as K
from mapreduce_framework_for_mergesort_spark.io import load_table
from tests import references as R


def _kmv_estimate(df, key):
    """(kk, est_distinct) from ``kmv_min_hashes`` with the integer
    estimator ``duckdb_kmv_cte`` and ``q_profile_stats`` spell."""
    hs = [r["h"] for r in R.kmv_min_hashes(df, key).collect()]
    kk = len(hs)
    est = kk if kk < K.KMV_K else (kk - 1) * K.KMV_SPACE // max(hs)
    return {"kk": kk, "est_distinct": est}


def test_kmv_accuracy_on_known_cardinality(spark):
    """5000 distinct keys, each duplicated: the estimate must land
    within the ~6%-stderr band (generous 4-sigma bound) and be
    completely insensitive to the duplication."""
    n = 5000
    df = spark.range(3 * n).select((F.col("id") % n).alias("k"))
    est = _kmv_estimate(df, "k")
    assert est["kk"] == K.KMV_K
    assert abs(est["est_distinct"] / n - 1.0) < 0.25


def test_kmv_exact_below_k(spark):
    """Fewer distinct keys than k: the sketch holds every hash and the
    estimate is the exact count."""
    df = spark.range(100).select((F.col("id") % 37).alias("k"))
    est = _kmv_estimate(df, "k")
    assert (est["kk"], est["est_distinct"]) == (37, 37)


def test_kmv_null_keys_contribute_nothing(spark):
    df = spark.createDataFrame(
        [(None,)] * 50 + [(i,) for i in range(10)], "k: bigint"
    )
    est = _kmv_estimate(df, "k")
    assert (est["kk"], est["est_distinct"]) == (10, 10)


def test_kmv_matches_duckdb_value_for_value(spark, sf_oracle):
    """The whole sketch pipeline — salt, hash, min-k, integer
    estimator — replicated in DuckDB must agree exactly, and the
    estimate must be within the error band of the true cardinality."""
    orders = load_table(spark, sf_oracle, "orders")
    got = _kmv_estimate(orders, "o_custkey")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_oracle}/orders.parquet'"
    )
    kk, est = con.execute(
        K.duckdb_kmv_cte("o_custkey", "orders")
    ).fetchone()
    assert (got["kk"], got["est_distinct"]) == (kk, est)
    true = orders.select("o_custkey").distinct().count()
    if true >= K.KMV_K:
        assert abs(est / true - 1.0) < 0.25
    else:
        assert est == true


def test_kmv_plan_is_take_ordered_not_global_sort(spark):
    """orderBy(h).limit(k) must plan as TakeOrderedAndProject
    (per-partition top-k) — a global Sort here would shuffle every
    distinct hash to one task at 100 TB."""
    df = spark.range(10_000).select(F.col("id").alias("k"))
    plan = R.kmv_min_hashes(df, "k")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_cms_overestimates_never_under(spark):
    """Count-Min's structural guarantee on a skewed corpus: for every
    key, estimate ≥ true count; and with d=4 rows over w=512 buckets
    the total overestimate mass stays within the 2N/w-per-key bound's
    aggregate (generous 4x slack)."""
    # Zipf-ish: key k appears ~1000//(k+1) times, 200 distinct keys
    rows = [(k,) for k in range(200) for _ in range(1000 // (k + 1))]
    df = spark.createDataFrame(rows, "k: bigint")
    n = len(rows)
    sk = K.cms_sketch(df, "k")
    truth = df.groupBy(F.col("k")).agg(F.count(F.lit(1)).alias("c"))
    got = {
        r["k"]: r["est"]
        for r in K.cms_point_estimates(sk, truth, "k").collect()
    }
    over = 0
    for r in truth.collect():
        assert got[r["k"]] >= r["c"], (r["k"], got[r["k"]], r["c"])
        over += got[r["k"]] - r["c"]
    assert over <= 4 * len(got) * 2 * n / K.CMS_W


def test_cms_never_seen_key_and_nulls(spark):
    """NULL keys contribute nothing; a never-seen key's estimate is
    only collision mass (and exactly 0 when the sketch is sparse
    enough that some of its cells are empty)."""
    df = spark.createDataFrame(
        [(None,)] * 20 + [(i,) for i in range(5)] * 10, "k: bigint"
    )
    sk = K.cms_sketch(df, "k")
    # row totals must count only non-null rows
    for r in sk.groupBy("i").agg(F.sum("cnt").alias("t")).collect():
        assert r["t"] == 50
    probe = spark.createDataFrame([(999999,)], "k: bigint")
    est = K.cms_point_estimates(sk, probe, "k").collect()[0]["est"]
    # 5 distinct keys in 512 buckets: an unseen key collides with all
    # 4 of its rows with probability ~ (5/512)^4 — demand exact zero
    # here (deterministic: the constants and hashes are fixed)
    assert est == 0


def test_cms_sketch_is_bounded_and_broadcast(spark):
    """Scale posture: the sketch never exceeds d·w cells regardless of
    input size, and the estimate join broadcasts the sketch (never
    shuffles it)."""
    from mapreduce_framework_for_mergesort_spark.plans import audit

    df = spark.range(20000).select((F.col("id") % 5000).alias("k"))
    sk = K.cms_sketch(df, "k")
    assert sk.count() <= K.CMS_D * K.CMS_W
    est = K.cms_point_estimates(sk, df.distinct(), "k")
    a = audit(est)
    assert a.broadcasts >= 1, a.text
    assert a.python_evals == 0, a.text


def test_cms_geometry_validation(spark):
    """Sketch rows carry no geometry, so build and probe share one: every
    non-NULL key lands in exactly one bucket of each of the ``CMS_D``
    rows, each bucket below ``CMS_W``, and the seeded affine family
    covers every row."""
    df = spark.range(10).select(F.col("id").alias("k"))
    rows = K.cms_sketch(df, "k").collect()
    assert len(K.CMS_AB) == K.CMS_D
    assert {r["i"] for r in rows} == set(range(K.CMS_D))
    assert all(0 <= r["bucket"] < K.CMS_W for r in rows)
    for i in range(K.CMS_D):
        assert sum(r["cnt"] for r in rows if r["i"] == i) == 10


def test_cms_weighted_from_counts_equals_raw(spark, sf_oracle):
    """q_profile_stats' SQL sketch over per-key counts (each key's cells
    weighted by its count) == cms_sketch(raw) — the identity that lets
    an existing distinct-key aggregate serve the sketch without
    rescanning the corpus (q_profile_stats round-5 consolidation)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_for_mergesort_spark.io import load_table
    from mapreduce_framework_for_mergesort_spark.operators import (
        sketches as SK,
    )
    from mapreduce_framework_for_mergesort_spark.queries import (
        profile_family as PF,
    )

    orders = load_table(spark, sf_oracle, "orders")
    raw = SK.cms_sketch(orders, "o_custkey")
    counts = (
        orders.where(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    weighted = (
        counts.selectExpr(f"{PF._CMS_H} AS __h", "c AS __wt")
        .where("__h IS NOT NULL")
        .selectExpr(f"explode(array({PF._CMS_CELLS})) AS cell", "__wt")
        .groupBy(F.col("cell.i").alias("i"), F.col("cell.bucket").alias("bucket"))
        .agg(F.sum("__wt").alias("cnt"))
    )

    def cells(df):
        return {(r["i"], r["bucket"]): r["cnt"] for r in df.collect()}

    assert cells(weighted) == cells(raw)


def test_balanced_sample_injected_counts_equal_self_computed(
    spark, sf_oracle
):
    """balanced_sample(counts=precomputed) selects the identical rows
    as the self-counting form (the phase-1 injection contract)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_for_mergesort_spark.io import load_table
    from mapreduce_framework_for_mergesort_spark.operators import (
        sampling as S,
    )

    orders = load_table(spark, sf_oracle, "orders")
    counts = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("__n")
    )
    a = S.balanced_sample(
        orders, "o_orderpriority", 100, key="o_orderkey"
    )
    b = S.balanced_sample(
        orders, "o_orderpriority", 100, key="o_orderkey", counts=counts
    )
    ka = sorted(r["o_orderkey"] for r in a.collect())
    kb = sorted(r["o_orderkey"] for r in b.collect())
    assert ka == kb and len(ka) > 0
