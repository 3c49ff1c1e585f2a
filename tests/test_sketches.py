"""KMV distinct-cardinality sketch: accuracy bound, exact-below-k,
merge identity, NULL handling, and value-level DuckDB parity."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.operators import sketches as K
from mapreduce_framework_for_mergesort_spark.io import load_table


def test_kmv_accuracy_on_known_cardinality(spark):
    """5000 distinct keys, each duplicated: the estimate must land
    within the ~6%-stderr band (generous 4-sigma bound) and be
    completely insensitive to the duplication."""
    n = 5000
    df = spark.range(3 * n).select((F.col("id") % n).alias("k"))
    est = K.kmv_estimate(df, "k").collect()[0]
    assert est["kk"] == K.KMV_K
    assert abs(est["est_distinct"] / n - 1.0) < 0.25


def test_kmv_exact_below_k(spark):
    """Fewer distinct keys than k: the sketch holds every hash and the
    estimate is the exact count."""
    df = spark.range(100).select((F.col("id") % 37).alias("k"))
    est = K.kmv_estimate(df, "k").collect()[0]
    assert (est["kk"], est["est_distinct"]) == (37, 37)


def test_kmv_null_keys_contribute_nothing(spark):
    df = spark.createDataFrame(
        [(None,)] * 50 + [(i,) for i in range(10)], "k: bigint"
    )
    est = K.kmv_estimate(df, "k").collect()[0]
    assert (est["kk"], est["est_distinct"]) == (10, 10)


def test_kmv_merge_equals_sketch_of_union(spark):
    """The distributable/incremental identity: merging per-source
    sketches gives exactly the union's sketch."""
    a = spark.range(0, 4000).select(F.col("id").alias("k"))
    b = spark.range(2000, 6000).select(F.col("id").alias("k"))
    merged = sorted(
        r["h"]
        for r in K.kmv_merge(
            [K.kmv_min_hashes(a, "k"), K.kmv_min_hashes(b, "k")]
        ).collect()
    )
    direct = sorted(
        r["h"] for r in K.kmv_min_hashes(a.unionByName(b), "k").collect()
    )
    assert merged == direct and len(direct) == K.KMV_K


def test_kmv_merge_empty_list_raises(spark):
    with pytest.raises(ValueError):
        K.kmv_merge([])


def test_kmv_matches_duckdb_value_for_value(spark, sf_oracle):
    """The whole sketch pipeline — salt, hash, min-k, integer
    estimator — replicated in DuckDB must agree exactly, and the
    estimate must be within the error band of the true cardinality."""
    orders = load_table(spark, sf_oracle, "orders")
    got = K.kmv_estimate(orders, "o_custkey").collect()[0]
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
    plan = K.kmv_min_hashes(df, "k")._jdf.queryExecution().executedPlan().toString()
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


def test_cms_merge_equals_sketch_of_union(spark):
    """Elementwise counter addition: sketch(A) + sketch(B) must equal
    sketch(A ⊎ B) cell-for-cell — the distributable/incremental
    property."""
    a = spark.range(500).select((F.col("id") % 91).alias("k"))
    b = spark.range(300).select((F.col("id") % 37).alias("k"))
    merged = {
        (r["i"], r["bucket"]): r["cnt"]
        for r in K.cms_merge(
            [K.cms_sketch(a, "k"), K.cms_sketch(b, "k")]
        ).collect()
    }
    whole = {
        (r["i"], r["bucket"]): r["cnt"]
        for r in K.cms_sketch(a.unionByName(b), "k").collect()
    }
    assert merged == whole


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
    """d beyond the seeded affine family (or a degenerate w) fails
    loudly at construction — sketch rows carry no geometry, so a
    silent mismatch would probe the wrong buckets."""
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="affine"):
        K.cms_sketch(df, "k", d=9)
    with pytest.raises(ValueError, match="w must be positive"):
        K.cms_sketch(df, "k", w=0)
    with pytest.raises(ValueError, match="affine"):
        K.cms_point_estimates(K.cms_sketch(df, "k"), df, "k", d=0)


def test_cms_weighted_from_counts_equals_raw(spark, sf_oracle):
    """cms_sketch(per_key_counts, weight_col='c') == cms_sketch(raw) —
    the identity that lets an existing distinct-key aggregate serve
    the sketch without rescanning the corpus (q_profile_stats round-5
    consolidation)."""
    from pyspark.sql import functions as F

    from mapreduce_framework_for_mergesort_spark.io import load_table
    from mapreduce_framework_for_mergesort_spark.operators import (
        sketches as SK,
    )

    orders = load_table(spark, sf_oracle, "orders")
    raw = SK.cms_sketch(orders, "o_custkey")
    counts = (
        orders.where(F.col("o_custkey").isNotNull())
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    weighted = SK.cms_sketch(counts, "k", weight_col="c")

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


def test_dyadic_cms_parity_rank_bounds_and_merge(spark, sf_oracle):
    """The dyadic quantile sketch: (a) cells AND probe rank estimates
    bit-identical to the DuckDB replica; (b) est_rank >= true rank for
    every probe (sum of per-range CMS overestimates); (c) merge =
    elementwise addition reproduces the whole-corpus sketch; (d) the
    driver-side quantile search lands within the sketch's rank-error
    band of the true quantile."""
    import duckdb

    from pyspark.sql import functions as F

    from mapreduce_framework_for_mergesort_spark.io import load_table
    from mapreduce_framework_for_mergesort_spark.operators import (
        sketches as SK,
    )

    LV = 6  # l_quantity lives in [1, 50] ⊂ [0, 2^6)
    li = load_table(spark, sf_oracle, "lineitem")
    vals = li.select(F.col("l_quantity").cast("long").alias("v"))
    sk = SK.dyadic_cms_sketch(vals, "v", levels=LV)
    cells = {
        (r["lvl"], r["i"], r["bucket"]): r["cnt"] for r in sk.collect()
    }
    probes = [0, 1, 7, 13, 25, 37, 50, 64]
    est = {
        r["probe"]: r["est_rank"]
        for r in SK.dyadic_rank_estimates(sk, probes, levels=LV).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM"
        f" '{sf_oracle}/lineitem.parquet'"
    )
    cte = SK.duckdb_dyadic_cte("l_quantity", "lineitem", probes, levels=LV)
    ocells = {
        (lvl, i, b): c
        for lvl, i, b, c in con.execute(
            f"WITH {cte} SELECT lvl, i, bucket, cnt FROM dsk"
        ).fetchall()
    }
    assert cells == ocells and len(cells) > 0
    oest = dict(
        con.execute(
            f"WITH {cte} SELECT probe, est_rank FROM drank"
        ).fetchall()
    )
    assert est == oest

    truth = {
        x: vals.where(F.col("v") < x).count() for x in probes
    }
    n = vals.count()
    for x in probes:
        assert est[x] >= truth[x], (x, est[x], truth[x])
        # error budget: <= one CMS overestimate (2N/w whp) per
        # decomposed range, <= LV+1 ranges — loose factor-4 band
        assert est[x] - truth[x] <= 4 * (LV + 1) * 2 * n // SK.CMS_W + 1, x

    # merge: two disjoint halves re-add to the whole-corpus sketch
    a = SK.dyadic_cms_sketch(
        vals.where(F.col("v") % 2 == 0), "v", levels=LV
    )
    b = SK.dyadic_cms_sketch(
        vals.where(F.col("v") % 2 == 1), "v", levels=LV
    )
    merged = {
        (r["lvl"], r["i"], r["bucket"]): r["cnt"]
        for r in a.unionByName(b)
        .groupBy("lvl", "i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == cells

    # quantiles: est_rank >= true-rank means the returned x can only
    # sit at-or-left of where collision mass pushes it; assert the
    # TRUE rank at the answer brackets q·N within the same error band
    qs = [0.25, 0.5, 0.75]
    got = SK.dyadic_quantiles(sk.collect(), qs, levels=LV)
    err = 4 * (LV + 1) * 2 * n // SK.CMS_W + 1
    for q, x in got.items():
        true_lt = vals.where(F.col("v") < x).count()
        true_le = vals.where(F.col("v") <= x).count()
        assert true_lt - err <= q * n <= true_le + err, (q, x)

    # domain contract: out-of-range and NULL rows drop loudly
    bad = spark.createDataFrame(
        [(70,), (-1,), (None,), (3,)], "v: bigint"
    )
    small = SK.dyadic_cms_sketch(bad, "v", levels=LV)
    assert (
        small.where("lvl = 0 AND i = 0")
        .agg(F.sum("cnt"))
        .collect()[0][0]
        == 1
    )

    # overflow bound (round-5 advisory): levels > 31 would push the
    # affine bucket product past 2^63 where Spark silently wraps but
    # the driver-side Python does not — every dyadic entry point must
    # refuse loudly
    import pytest

    for fn in (
        lambda: SK.dyadic_cms_sketch(bad, "v", levels=32),
        lambda: SK.dyadic_rank_estimates(small, [1], levels=32),
        lambda: SK.dyadic_quantiles([], [0.5], levels=32),
        lambda: SK.duckdb_dyadic_cte("v", "t", [1], levels=32),
    ):
        with pytest.raises(ValueError, match=r"\[1, 31\]"):
            fn()
