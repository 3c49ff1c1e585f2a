"""Extended relational coverage: semi/anti joins, cube + grouping id,
pivot/unpivot, broadcast range(band) join, exact percentiles, scalar
subqueries, window-function breadth, salted (skew-safe) aggregation,
systematic sampling, and scalar string/date/math + array function
bundles — each with an exact DuckDB oracle.

The reference implements none of these (SURVEY.md §2: "no joins of any
kind, no group-by … no window functions … no set operations, no
string/date/math/array scalar functions"); they complete the relational
surface a pipeline built on the engine needs.

Cross-engine discipline (see ``queries/__init__``): DECIMAL aggregates,
BIGINT casts on engine-int-width functions (``length``, ``year``,
``ntile``, ``grouping``…), no libm transcendentals (``ln``/``exp``/
``pow`` may differ in the last ulp between implementations — ``sqrt``
and IEEE +-*/ are exact and allowed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.io import (
    fan_out_starved_scan,
    load_table,
)
from mapreduce_framework_for_mergesort_spark.operators import relational as R
from mapreduce_framework_for_mergesort_spark.queries import query


@query(
    "q_join_variants",
    oracle="""
    SELECT 'has_orders' AS tag, c_custkey, CAST(NULL AS BIGINT) AS v
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'no_orders' AS tag, c_custkey, CAST(NULL AS BIGINT) AS v
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'nullsafe' AS tag, a.c_custkey, b.n_nations AS v
    FROM (SELECT c_custkey, nullif(c_nationkey % 5, 4) AS grp FROM customer) a
    JOIN (SELECT nullif(n_nationkey % 5, 4) AS grp, COUNT(*) AS n_nations
          FROM nation GROUP BY 1) b
      ON a.grp IS NOT DISTINCT FROM b.grp
    """,
)
def q_join_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-type breadth in one tagged union (registry consolidated to
    the driver's 50-key check budget — round-1 merged
    ``q_semi_anti_join`` + ``q_nullsafe_join``):

    * EXISTS / NOT EXISTS as left-semi / left-anti joins — shuffle only
      the key column of the probe side, never duplicate matched rows;
      at 100 TB this is the correct shape for "customers with any
      order", not a join+distinct;
    * null-safe equality (``<=>`` / IS NOT DISTINCT FROM) — NULL keys
      match each other instead of silently dropping, still a plain
      (broadcast) hash join because null-safe equality is hashable.
    """
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    ckeys = customer.select("c_custkey")
    cond = ckeys["c_custkey"] == orders["o_custkey"]
    null_v = F.lit(None).cast("long").alias("v")
    has = ckeys.join(orders, cond, "left_semi").select(
        F.lit("has_orders").alias("tag"), "c_custkey", null_v
    )
    hasnt = ckeys.join(orders, cond, "left_anti").select(
        F.lit("no_orders").alias("tag"), "c_custkey", null_v
    )
    cust = customer.select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 5, F.lit(4)).alias("grp")
    )
    nat = (
        load_table(spark, sf_dir, "nation")
        .select(F.nullif(F.col("n_nationkey") % 5, F.lit(4)).alias("grp"))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )
    nullsafe = cust.join(
        F.broadcast(nat), cust["grp"].eqNullSafe(nat["grp"])
    ).select(
        F.lit("nullsafe").alias("tag"),
        "c_custkey",
        F.col("n_nations").alias("v"),
    )
    return has.unionByName(hasnt).unionByName(nullsafe)


@query(
    "q_cube_grouping",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           CAST(2 * GROUPING(c_mktsegment) + GROUPING(c_nationkey) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer
    GROUP BY CUBE(c_mktsegment, c_nationkey)
    """,
)
def q_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with a grouping id distinguishing real NULLs from rollup
    NULLs — one pass expands to all 4 grouping sets before the shuffle."""
    return (
        load_table(spark, sf_dir, "customer")
        .cube("c_mktsegment", "c_nationkey")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            R.dec_sum("c_acctbal", alias="sum_bal"),
        )
        .select("c_mktsegment", "c_nationkey", "gid", "n", "sum_bal")
    )


@query(
    "q_pivot_unpivot",
    oracle="""
    SELECT o_orderpriority, 'status_f' AS status, CAST(
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS cnt
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT o_orderpriority, 'status_o' AS status, CAST(
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS cnt
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT o_orderpriority, 'status_p' AS status, CAST(
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS cnt
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) then unpivot (wide→long) round-trip — both
    reshape operators in one verified plan (registry consolidated to the
    driver's 50-key budget; round-1 ``q_pivot_status`` +
    ``q_unpivot_metrics``).  The pivot value list is given explicitly so
    Spark skips the extra values-discovery job — mandatory at scale,
    where that first pass would be a full extra scan; the unpivot is a
    pure narrow map, no shuffle."""
    piv = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    wide = piv.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0))
            .cast("double")
            .alias(f"status_{s.lower()}")
            for s in ("F", "O", "P")
        ],
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["status_f", "status_o", "status_p"],
        "status",
        "cnt",
    )


@query(
    "q_range_band_join",
    oracle="""
    SELECT band, COUNT(*) AS n,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM part
    JOIN (VALUES (0, 900.0, 920.0), (1, 920.0, 940.0), (2, 940.0, 960.0),
                 (3, 960.0, 980.0), (4, 980.0, 1000.0)) AS bands(band, lo, hi)
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
)
def q_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join against a broadcast band table: broadcast nested-loop
    with an interval predicate.  The fact side never shuffles; with k
    bands each row tests k intervals — fine for small k, and the shape an
    IVF-style bucketing also uses (similarity_family)."""
    bands = load_table(spark, sf_dir, "part").sparkSession.createDataFrame(
        [(0, 900.0, 920.0), (1, 920.0, 940.0), (2, 940.0, 960.0),
         (3, 960.0, 980.0), (4, 980.0, 1000.0)],
        "band long, lo double, hi double",
    )
    joined = R.band_join(
        load_table(spark, sf_dir, "part"), bands, "p_retailprice"
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        R.dec_sum("p_retailprice", alias="sum_price"),
    )


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM customer)
          > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above the global mean balance, via scalar subqueries
    through the SQL entry point.  The mean test is rewritten as
    ``bal * n > total`` so the predicate is exact decimal×integer
    arithmetic (a double mean would make the boundary engine-dependent).
    Catalyst plans the two scalar subqueries as one shared tiny aggregate
    broadcast to every scan task."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM customer
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (SELECT COUNT(*) FROM customer)
              > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
        """
    )


@query(
    "q_window_funcs",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / (COUNT(*) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS mov_avg3,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth: lag/lead, ntile, percent_rank, cume_dist,
    a rows-frame moving average, and an unbounded-preceding running total
    (round-1 ``q_window_running_total``, consolidated here — identical
    window spec) — ONE shuffle on the partition key serves every
    function.  The moving average divides an exact DECIMAL frame-sum by
    the frame count so both engines do the identical double division."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = w.rowsBetween(-2, Window.currentRow)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        (
            F.sum(F.col("o_totalprice").cast(R.MONEY)).over(w3).cast("double")
            / F.count(F.lit(1)).over(w3)
        ).alias("mov_avg3"),
        F.sum(F.col("o_totalprice").cast(R.MONEY))
        .over(wrun)
        .cast("double")
        .alias("running_total"),
    )


@query(
    "q_salted_agg",
    oracle="""
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (see ``relational.salted_agg``):
    bit-identical to the plain GROUP BY the oracle runs, but no single
    reducer ever owns a whole hot key."""
    return R.salted_agg(
        load_table(spark, sf_dir, "events"), ["user_id"], "event_id", 16
    )


def bucketed_tables_build(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """One-time index build for the co-located join: write orders and
    customer bucketed (and sorted) by the join key — the write pays the
    shuffle once so every later join plans with zero exchanges.  Split
    out so the bench can time the build and the join separately
    (round-2 bench attributed ~all of q_bucketed_join's wall time to
    this write)."""
    import hashlib

    from mapreduce_framework_for_mergesort_spark.operators import bucketing as B

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10]
    t_orders, t_cust = f"orders_b_{tag}", f"customer_b_{tag}"
    B.write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_totalprice"
        ),
        t_orders,
        ["o_custkey"],
        num_buckets=8,
        sort_cols=["o_custkey"],
    )
    B.write_bucketed(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
        t_cust,
        ["c_custkey"],
        num_buckets=8,
        sort_cols=["c_custkey"],
    )
    return t_orders, t_cust


def bucketed_join_probe(
    spark: SparkSession, t_orders: str, t_cust: str
) -> DataFrame:
    """The zero-exchange part: bucket i of both tables merges locally
    (no-exchange shape pinned in tests/test_bucketing.py)."""
    from mapreduce_framework_for_mergesort_spark.operators import bucketing as B

    joined = B.colocated_join(spark, t_orders, t_cust, "o_custkey", "c_custkey")
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        R.dec_sum("o_totalprice", alias="revenue"),
    )


@query(
    "q_bucketed_join",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈fact join over bucketed tables: build (bucketed
    write) + probe (zero-exchange sort-merge join)."""
    t_orders, t_cust = bucketed_tables_build(spark, sf_dir)
    return bucketed_join_probe(spark, t_orders, t_cust)


@query(
    "q_scalar_funcs",
    oracle="""
    SELECT o_orderkey,
           upper(o_orderpriority) AS prio_upper,
           substring(o_orderpriority, 1, 1) AS prio_code,
           CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
           concat(o_orderstatus, '#', CAST(o_orderkey AS VARCHAR)) AS status_key,
           lpad(CAST(o_custkey AS VARCHAR), 12, '0') AS cust_pad,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(month(o_orderdate) AS BIGINT) AS o_month,
           CAST(day(o_orderdate) AS BIGINT) AS o_day,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           abs(o_totalprice) AS abs_price,
           floor(o_totalprice) AS floor_price,
           ceil(o_totalprice) AS ceil_price,
           sqrt(o_totalprice) AS sqrt_price,
           CAST(o_orderkey % 7 AS BIGINT) AS key_mod7,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_norm,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END
             AS finished_price,
           least(o_totalprice, 250000.0) AS capped,
           greatest(o_totalprice, 1000.0) AS floored,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS quarter_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
           CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
           CAST(week(o_orderdate) AS BIGINT) AS iso_week,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
             AS days_since_95,
           -- URL canonicalization (round 10, operators/urls.py): the
           -- engine NORMALIZES the messy url_raw; the oracle
           -- CONSTRUCTS the expected canonical form from the same base
           -- columns — any divergence in any rule (case, default
           -- port, empty path, fragment, tracking strip, param sort)
           -- breaks the hash
           scheme_raw || '://' || host_raw || port_raw || path_raw
             || query_raw || frag AS url_raw,
           scheme_norm || '://' || host_norm || port_keep || path_norm
             || query_norm AS url_norm,
           host_norm AS url_host,
           CASE WHEN o_orderkey % 3 = 0 THEN 'example.co.uk'
                ELSE 'example.com' END AS url_domain,
           -- RFC 3986 §6.2.2 columns (round 11): percent-encoding
           -- normalization (decode unreserved, uppercase hex) and
           -- dot-segment removal; the oracle CONSTRUCTS both the raw
           -- and the expected normal form per branch
           'http://RFC.Ex.ORG/u' || CAST(o_custkey % 10 AS VARCHAR)
             || CASE WHEN o_orderkey % 7 = 0 THEN '/%7ea/docs/./v2/../latest%2fx'
                     WHEN o_orderkey % 7 = 1 THEN '/a/%2e%2e/c%4d'
                     WHEN o_orderkey % 7 = 2 THEN '/p%2f/100%25/.'
                     ELSE '/plain/' || CAST(o_orderkey % 100 AS VARCHAR) END
             || CASE WHEN o_orderkey % 5 = 0 THEN '?x=%7e&b=%2F'
                     WHEN o_orderkey % 5 = 1 THEN '?b=2&a=1'
                     ELSE '' END AS url_rfc_raw,
           'http://rfc.ex.org/u' || CAST(o_custkey % 10 AS VARCHAR)
             || CASE WHEN o_orderkey % 7 = 0 THEN '/~a/docs/latest%2Fx'
                     WHEN o_orderkey % 7 = 1 THEN '/cM'
                     WHEN o_orderkey % 7 = 2 THEN '/p%2F/100%25/'
                     ELSE '/plain/' || CAST(o_orderkey % 100 AS VARCHAR) END
             || CASE WHEN o_orderkey % 5 = 0 THEN '?b=%2F&x=~'
                     WHEN o_orderkey % 5 = 1 THEN '?a=1&b=2'
                     ELSE '' END AS url_rfc_norm
    FROM (
        SELECT *,
               CASE WHEN o_orderkey % 2 = 0 THEN 'HTTPS'
                    ELSE 'HTTP' END AS scheme_raw,
               CASE WHEN o_orderkey % 2 = 0 THEN 'https'
                    ELSE 'http' END AS scheme_norm,
               -- o_orderkey % 11 = 0 rows carry the DNS root label
               -- (trailing dot) — the engine must strip it (round 12)
               'User:Pw@WWW.Shop-' || CAST(o_custkey % 50 AS VARCHAR)
                 || CASE WHEN o_orderkey % 3 = 0 THEN '.Example.CO.UK'
                         ELSE '.Example.COM' END
                 || CASE WHEN o_orderkey % 11 = 0 THEN '.'
                         ELSE '' END AS host_raw,
               'www.shop-' || CAST(o_custkey % 50 AS VARCHAR)
                 || CASE WHEN o_orderkey % 3 = 0 THEN '.example.co.uk'
                         ELSE '.example.com' END AS host_norm,
               CASE WHEN o_orderkey % 4 = 1 THEN
                        CASE WHEN o_orderkey % 2 = 0 THEN ':443'
                             ELSE ':80' END
                    WHEN o_orderkey % 4 = 2 THEN ':8080'
                    ELSE '' END AS port_raw,
               CASE WHEN o_orderkey % 4 = 2 THEN ':8080'
                    ELSE '' END AS port_keep,
               CASE WHEN o_orderkey % 5 = 0 THEN ''
                    ELSE '/Item/' || CAST(o_orderkey AS VARCHAR)
                    END AS path_raw,
               CASE WHEN o_orderkey % 5 = 0 THEN '/'
                    ELSE '/Item/' || CAST(o_orderkey AS VARCHAR)
                    END AS path_norm,
               CASE WHEN o_orderkey % 3 = 1
                        THEN '?utm_source=news&b=2&a=1'
                    WHEN o_orderkey % 3 = 2 THEN '?z=9&a=1&fbclid=ZZ'
                    ELSE '' END AS query_raw,
               CASE WHEN o_orderkey % 3 = 1 THEN '?a=1&b=2'
                    WHEN o_orderkey % 3 = 2 THEN '?a=1&z=9'
                    ELSE '' END AS query_norm,
               CASE WHEN o_orderkey % 2 = 1 THEN '#frag'
                    ELSE '' END AS frag
        FROM orders
    )
    """,
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function breadth (string / math / conditional / null /
    date-time) — one whole-stage-codegen projection, zero Python.
    Registry consolidated to the driver's 50-key budget: absorbs round-1
    ``q_conditional_funcs`` (CASE, nullif+coalesce, least/greatest) and
    ``q_date_funcs`` (truncation, month boundaries, ISO day-of-week /
    week-of-year, day arithmetic) — all were projections over the same
    orders scan.  ``sqrt`` and +-*/ are IEEE-exact cross-engine; libm
    transcendentals (``ln``/``exp``/``pow``) are deliberately excluded
    (last-ulp divergence).  Spark ``dayofweek`` is 1=Sunday; both sides
    normalize to ISO (1=Monday) — the off-by-one that silently corrupts
    weekly rollups.

    Round 10 adds the URL-canonicalization columns
    (``operators/urls.py``): a deliberately messy URL — uppercase
    scheme/host, userinfo, scheme-default port, empty path, tracking
    params out of order, fragment — is synthesized per row and
    normalized by the engine, while the oracle CONSTRUCTS the expected
    canonical form from the same base columns, so every normalization
    rule is pinned independently (including what must NOT change:
    path case, non-default ports)."""
    o = fan_out_starved_scan(load_table(spark, sf_dir, "orders"))
    # Two-step select: the URL-family struct kernel (url_norm/host/
    # domain + url_rfc_norm in ONE Arrow round trip — round-12
    # optimization, A/B numbers in OPTIMIZATION_r12.md) is computed in
    # the first projection and unpacked in the second; Spark extracts
    # the UDF into one ArrowEvalPython either way, the field reads are
    # free projections of its single output.
    base, final = _scalar_funcs_cols()
    return o.select(*base).select(*final)


def _scalar_funcs_cols_build() -> list:
    """The full q_scalar_funcs projection as unresolved Columns.

    Split out + memoized (round 12 optimization): the expression tree
    is STATIC — ~40 columns of nested CASE/url expressions plus the
    PSL literal maps — and building it costs ~2 s of driver-side py4j
    round trips PER CALL (measured: construct 1.8-2.2 s vs 0.4 s
    planning and ~1 s of actual execution after the scan fan-out).
    Unresolved Columns are reusable across DataFrames/sessions by
    construction (they reference columns by name), so the list is
    built once per process; nothing data-dependent is cached."""
    from mapreduce_framework_for_mergesort_spark.operators import urls as U

    k = F.col("o_orderkey")
    url_raw = F.concat(
        F.when(k % 2 == 0, "HTTPS").otherwise("HTTP"),
        F.lit("://User:Pw@WWW.Shop-"),
        (F.col("o_custkey") % 50).cast("string"),
        F.when(k % 3 == 0, ".Example.CO.UK").otherwise(".Example.COM"),
        # trailing-dot FQDN rows (round 12): the engine strips the
        # root label; the oracle's host_norm never carries it
        F.when(k % 11 == 0, ".").otherwise(""),
        F.when(
            k % 4 == 1, F.when(k % 2 == 0, ":443").otherwise(":80")
        ).when(k % 4 == 2, ":8080").otherwise(""),
        F.when(k % 5 == 0, "").otherwise(
            F.concat(F.lit("/Item/"), k.cast("string"))
        ),
        F.when(k % 3 == 1, "?utm_source=news&b=2&a=1")
        .when(k % 3 == 2, "?z=9&a=1&fbclid=ZZ")
        .otherwise(""),
        F.when(k % 2 == 1, "#frag").otherwise(""),
    )
    # round 11: a second messy URL exercising the RFC 3986 §6.2.2
    # rules — unreserved escapes (%7e), reserved escapes with
    # lowercase hex (%2f), double-escaped dot segments (%2e%2e),
    # literal '.'/'..' segments, and a %25 that must NOT decode.
    # Escape/dot rows are a MINORITY (3/7), mirroring real crawls:
    # pct_normalize / remove_dot_segments short-circuit clean strings
    # on a cheap contains/regex test, and the fixture measures that
    # mix, not an all-worst-case corpus
    url_rfc_raw = F.concat(
        F.lit("http://RFC.Ex.ORG/u"),
        (F.col("o_custkey") % 10).cast("string"),
        F.when(k % 7 == 0, "/%7ea/docs/./v2/../latest%2fx")
        .when(k % 7 == 1, "/a/%2e%2e/c%4d")
        .when(k % 7 == 2, "/p%2f/100%25/.")
        .otherwise(F.concat(F.lit("/plain/"), (k % 100).cast("string"))),
        F.when(k % 5 == 0, "?x=%7e&b=%2F")
        .when(k % 5 == 1, "?b=2&a=1")
        .otherwise(""),
    )
    base = [
        F.col("o_orderkey"),
        F.upper("o_orderpriority").alias("prio_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.concat(
            F.col("o_orderstatus"), F.lit("#"), F.col("o_orderkey").cast("string")
        ).alias("status_key"),
        F.lpad(F.col("o_custkey").cast("string"), 12, "0").alias("cust_pad"),
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.abs("o_totalprice").alias("abs_price"),
        F.floor("o_totalprice").cast("double").alias("floor_price"),
        F.ceil("o_totalprice").cast("double").alias("ceil_price"),
        F.sqrt("o_totalprice").alias("sqrt_price"),
        (F.col("o_orderkey") % 7).cast("long").alias("key_mod7"),
        F.when(F.col("o_totalprice") > 300000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(
            F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")
        ).alias("status_norm"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
        .otherwise(F.lit(0.0))
        .alias("finished_price"),
        F.least("o_totalprice", F.lit(250000.0)).alias("capped"),
        F.greatest("o_totalprice", F.lit(1000.0)).alias("floored"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
        F.last_day("o_orderdate").alias("month_end"),
        # Spark dayofweek: 1=Sun..7=Sat → ISO 1=Mon..7=Sun
        ((F.dayofweek("o_orderdate") + 5) % 7 + 1).cast("long").alias("iso_dow"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).cast("long").alias("days_since_95"),
        url_raw.alias("url_raw"),
        url_rfc_raw.alias("url_rfc_raw"),
        # Round-12 optimization phase: the four derived URL columns run
        # as ONE Arrow struct kernel (url_family_arrow — pure-Python
        # replicas of the same rules, pinned equal in tests/test_urls
        # and oracle-gated).  Supersedes the build-phase per-column
        # decision ("url_norm stays codegen"): one boundary crossing
        # amortized over four columns beat the interpreted expression
        # battery 1.91 → 0.94 s at sf0.1 (OPTIMIZATION_r12.md).  The
        # codegen operators themselves are unchanged for library users.
        U.url_family_arrow(url_raw, url_rfc_raw).alias("__urlfam"),
    ]
    scalar_names = [
        "o_orderkey", "prio_upper", "prio_code", "prio_len",
        "status_key", "cust_pad", "o_year", "o_month", "o_day",
        "due_date", "abs_price", "floor_price", "ceil_price",
        "sqrt_price", "key_mod7", "price_band", "status_norm",
        "finished_price", "capped", "floored", "month_start",
        "quarter_start", "month_end", "iso_dow", "doy", "iso_week",
        "days_since_95",
    ]
    final = [F.col(n) for n in scalar_names] + [
        F.col("url_raw"),
        F.col("__urlfam.url_norm").alias("url_norm"),
        F.col("__urlfam.url_host").alias("url_host"),
        F.col("__urlfam.url_domain").alias("url_domain"),
        F.col("url_rfc_raw"),
        F.col("__urlfam.url_rfc_norm").alias("url_rfc_norm"),
    ]
    return base, final


# (context, columns): py4j Columns hold JVM refs, so a cached list is
# only valid while the SparkContext that built it is alive — keyed on
# the active context and rebuilt after a restart (pytest stops/starts
# sessions between modules).
_SCALAR_FUNCS_COLS: list = [None, None]


def _scalar_funcs_cols() -> list:
    from pyspark import SparkContext

    ctx = SparkContext._active_spark_context
    if _SCALAR_FUNCS_COLS[0] is not ctx:
        _SCALAR_FUNCS_COLS[:] = [ctx, _scalar_funcs_cols_build()]
    return _SCALAR_FUNCS_COLS[1]


@query(
    "q_array_funcs",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           embedding[1] AS first_val,
           embedding[len(embedding)] AS last_val,
           array_to_string(
               list_transform(
                   embedding[1:3],
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
               ), ',') AS head3_csv,
           CAST(i - 1 AS INT) AS pos,
           embedding[i] AS val
    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
         unnest(range(1, len(embedding) + 1)) AS u(i)
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function bundle over the embedding column: size, element
    access, slicing, transform, join, and explode-with-ordinality
    (``posexplode`` — round-1 ``q_posexplode``, consolidated to the
    driver's 50-key budget) — all JVM builtins (no UDF), the primitives
    the similarity family composes.

    Sampled 1-in-25 because posexplode multiplies rows by array width;
    at scale you explode *after* filtering, never before.  The slice is
    emitted as a CSV of micro-scaled longs, not a raw ``array<float>``:
    the driver's canonicalizer cannot hash array cells (round-1
    failure), and int-scaling avoids float-to-string formatting
    divergence between engines (float→double widening is exact; x*1e6
    and round-half-away-from-zero agree bit-for-bit on identical
    doubles).
    """
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 25 == 0
    )
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.element_at("embedding", -1).alias("last_val"),
        F.array_join(
            F.transform(
                F.slice("embedding", 1, 3),
                lambda x: F.round(x.cast("double") * 1000000).cast("long").cast("string"),
            ),
            ",",
        ).alias("head3_csv"),
        F.posexplode("embedding").alias("pos", "val"),
    )
