"""Relational spine: joins, aggregation, windows, set ops, JSON, as-of.

The reference has **none** of these (SURVEY.md §2, "operators the
reference does NOT have") — they are the context any real pipeline built
on its sort capability needs, and the north star
(``BASELINE.json``) declares them in scope.

Every aggregate here follows the exact-arithmetic discipline from
``queries/__init__``: DECIMAL in, DOUBLE out.  Raw double sums are
order-dependent under distributed partial aggregation — not even two
Spark runs are guaranteed to agree, never mind Spark vs. the DuckDB
oracle.

Scale posture (100 TB):

* fixed-cardinality dims (nation=25, region=5) are broadcast explicitly
  — no shuffle of the fact side for those joins;
* fact⋈fact joins (orders⋈customer) shuffle on the join key and rely on
  AQE for skew splitting;
* windows partition by a real key (customer, user) — never a global
  ``Window.orderBy`` over data rows;
* as-of join aggregates candidates with ``max(struct(...))`` (one shuffle
  + partial aggregation) instead of ranking all candidates through a
  window over an exploded join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def dec_sum(col: str, alias: str | None = None):
    """Exact distributed sum: cast to decimal (exact for the data's
    2-decimal domain), sum (exact), surface as double."""
    expr = F.sum(F.col(col).cast(MONEY)).cast("double")
    return expr.alias(alias) if alias else expr


def enrich_revenue_by_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """orders ⋈ customer ⋈ nation → revenue per nation.

    customer⋈nation is broadcast (25 rows); orders⋈customer is a shuffle
    hash join on the key both sides are large in.
    """
    cust = customer.join(
        F.broadcast(nation),
        customer["c_nationkey"] == nation["n_nationkey"],
    ).select("c_custkey", "n_name")
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            dec_sum("o_totalprice", alias="revenue"),
        )
    )


def pricing_summary(lineitem: DataFrame, cutoff: str) -> DataFrame:
    """TPC-H Q1-shaped summary: filter pushed to the parquet scan, partial
    (map-side) aggregation, tiny result."""
    li = lineitem.where(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
    disc_price = (
        F.col("l_extendedprice").cast(MONEY)
        * (F.lit(1).cast(MONEY) - F.col("l_discount").cast(MONEY))
    )
    charge = disc_price * (F.lit(1).cast(MONEY) + F.col("l_tax").cast(MONEY))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dec_sum("l_quantity", alias="sum_qty"),
        dec_sum("l_extendedprice", alias="sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )


def hourly_event_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows over the event stream (batch form; the
    Structured Streaming twin lives in ``streaming/``).

    The hour boundary is integer epoch-micros arithmetic, not
    ``date_trunc``: ``date_trunc`` truncates an LTZ in the *session*
    timezone, which matches the timezone-naive oracle only when the
    session happens to be UTC.  ``unix_micros``/``timestamp_micros``
    are epoch-based (timezone-free), so this groups by the same UTC
    hour under any session timezone.  Hours are a fixed 3 600 s in UTC
    (no DST), so modulo arithmetic IS hour truncation — ``pmod``, not
    ``%``: Spark's ``%`` follows the dividend's sign, which would
    round pre-1970 timestamps toward zero (one hour late) where
    ``date_trunc`` and the DuckDB oracle floor.
    """
    us = F.unix_micros(F.col("ts"))
    hour = F.timestamp_micros(us - F.pmod(us, F.lit(3_600_000_000)))
    return events.groupBy(
        hour.alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value", alias="sum_value"),
    )


def top_n_per_group(
    df: DataFrame, part_cols: list[str], order_cols, n: int
) -> DataFrame:
    """Per-group top-n via ranked window; Spark pushes a group-local
    top-n (WindowGroupLimit) below the shuffle, so each partition only
    keeps n candidates per group."""
    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (
        df.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= n)
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage (salted) aggregation for skewed keys.

    At 100 TB a hot key (one user producing 1% of all events) turns a
    plain ``groupBy`` into a single straggler reducer.  Salting splits
    each key across ``n_salts`` reducers for the partial aggregate, then
    a second (tiny — one row per key×salt) shuffle combines them.  The
    partial sums are DECIMAL so the two-stage result is bit-identical to
    the single-stage one.

    REQUIREMENT: ``salt_col`` must be high-cardinality WITHIN each hot
    key (a row id, event id — anything per-row unique works; the hash
    is deterministic for oracle parity, which is why this is a column
    hash and not rand()).  Salting by a column that is constant per key
    — worst case a key column itself — hashes every row of the hot key
    to ONE salt and silently provides no skew mitigation at all.

    Returns columns ``keys + [n, sum_value]``.
    """
    if salt_col in keys:
        raise ValueError(
            f"salt_col {salt_col!r} is a grouping key: every row of a"
            " key would get the same salt and the skew split would do"
            " nothing — salt by a per-row-unique column instead"
        )
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_col), F.lit(n_salts))
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("value").cast(MONEY)).alias("_s"),
    )
    return partial.groupBy(*keys).agg(
        F.sum("_n").alias("n"),
        F.sum("_s").cast("double").alias("sum_value"),
    )


def band_join(
    df: DataFrame, bands: DataFrame, value_col: str
) -> DataFrame:
    """Range(band) join: assign each row to the [lo, hi) band containing
    ``value_col``.  The band table is broadcast, so this is a broadcast
    nested-loop join with a range predicate — no shuffle of the fact side
    and the idiomatic shape for binning 100 TB against a small range dim.
    ``bands`` must have columns ``band, lo, hi``.
    """
    v = F.col(value_col)
    return df.join(
        F.broadcast(bands), (v >= F.col("lo")) & (v < F.col("hi")), "inner"
    )


def asof_latest_order(events: DataFrame, orders: DataFrame) -> DataFrame:
    """As-of join: for each event, the latest order of the same user at
    or before the event time (ties broken by highest orderkey).

    Implemented as a **union-merge**, the linear-cost as-of shape: tag
    both inputs, union them into one stream keyed (user, time), and a
    prefix window carries ``max(struct(o_orderdate, o_orderkey))`` — the
    latest order seen so far — onto every event row.  One shuffle of
    |events| + |orders| rows, no candidate pairs ever materialize.

    A candidate equi-join with a range predicate
    (``user_id = o_custkey AND o_orderdate <= ts``) is the tempting
    formulation, but it explodes as |user's events| × |user's orders|:
    measured 20× slower at 10× data — quadratic per key, fatal at
    100 TB.  (Spark has no native as-of join; this is composition (a)
    from the custom-operator ladder.)

    At equal timestamps the order sorts before the event (``_kind``
    0 < 1), matching the ``<=`` contract.

    ``o_orderdate`` ships as TIMESTAMP_NTZ while ``ts`` is LTZ; a plain
    union would coerce NTZ→LTZ in the *session* timezone, shifting the
    order side relative to the events and corrupting the merge order
    anywhere outside UTC.  The NTZ wall clock is relabeled UTC through
    integer epoch micros instead (timezone-free) — same internal value
    the old path produced under the pinned-UTC session.
    """
    from mapreduce_framework_for_mergesort_spark.io import ntz_epoch_micros

    t_ord = F.col("o_orderdate")
    if dict(orders.dtypes).get("o_orderdate") == "timestamp_ntz":
        t_ord = F.timestamp_micros(ntz_epoch_micros("o_orderdate"))
    o = orders.select(
        F.col("o_custkey").alias("user_id"),
        t_ord.alias("t"),
        F.lit(0).alias("_kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.struct("o_orderdate", "o_orderkey").alias("_ord"),
    )
    e = events.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("_kind"),
        "event_id",
        F.lit(None)
        .cast(o.schema["_ord"].dataType)
        .alias("_ord"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "_kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = o.unionByName(e).withColumn("best", F.max("_ord").over(w))
    return merged.where(F.col("_kind") == 1).select(
        "event_id",
        "user_id",
        F.col("best.o_orderdate").alias("asof_orderdate"),
        F.col("best.o_orderkey").alias("asof_orderkey"),
    )
