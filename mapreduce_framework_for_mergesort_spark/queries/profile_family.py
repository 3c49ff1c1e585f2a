"""Data-profiling query: one long-format (metric, grp, value) audit pass
combining exact-decimal Pearson correlation, exact percentiles,
key-uniqueness counts, a fixed-width histogram, and a deterministic
systematic sample — round-1 keys ``q_corr_stats`` / ``q_percentiles`` /
``q_key_uniqueness`` / ``q_histogram`` / ``q_sample_systematic``,
consolidated to the driver's 50-key check budget.  Every constituent
aggregate is unchanged (DECIMAL moment sums, quantile_cont-equivalent
interpolation, floor-divide buckets); only the output surface is the
shared long format.  All values are exact in double (counts < 2^53,
decimal sums cast once at the end).
"""

from __future__ import annotations

import itertools
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.functions import hashing as H
from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.operators import sampling
from mapreduce_framework_for_mergesort_spark.operators import sketches
from mapreduce_framework_for_mergesort_spark.operators.materialize import (
    materialize,
)
from mapreduce_framework_for_mergesort_spark.operators.relational import dec_sum
from mapreduce_framework_for_mergesort_spark.queries import query

_SPLIT_CASE = sampling.duckdb_split_case("o_orderkey")
_SAMPLE_RATE = 0.25  # deterministic hash-sample audit rate
PACK_BUDGET = 512  # tokens per training sequence in the packing audit
# Source-mixing audit: non-uniform integer ratios over a uniform
# 20×25-doc fixture so the plan exercises all three regimes — full
# epochs (src0: rate 2.0), a fractional epoch (src1: 1.2), and
# downsampling (src2/src3: 0.4); unweighted sources must vanish.
MIX_WEIGHTS = {"src0": 5, "src1": 3, "src2": 1, "src3": 1}
MIX_EPOCHS = 2
BAL_CAP = 500  # per-stratum cap in the balanced-sample audit: binds at
#                sf0.01 (≈3000 orders per priority), passes-through at
#                sf0.001 (≈300) — both regimes exercised across SFs

# per-call temp-view suffix (same uniqueness rule as the streaming
# memory sinks): spark.sql analyzes eagerly, but two same-session
# constructions interleaving on shared view names could still cross
# wires between register and parse
_view_seq = itertools.count()


@query(
    "q_profile_stats",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
      FROM lineitem GROUP BY l_returnflag),
    corr_rows AS (
      -- decimal -> double goes THROUGH VARCHAR: DuckDB's direct
      -- DECIMAL(38,4) cast double-rounds (scaled HUGEINT -> double,
      -- then /10^scale), which is 1 ulp off Spark/Java's correctly-
      -- rounded BigDecimal cast once the scaled integer exceeds 2^53
      -- (syy at sf0.001 already does); the string route is correctly
      -- rounded in one step
      SELECT 'corr_qty_price' AS metric, l_returnflag AS grp,
             (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
                - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE)
                       * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE)
                         * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                       - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                         * CAST(CAST(sy AS VARCHAR) AS DOUBLE))) AS value
      FROM m
      UNION ALL
      SELECT 'group_n', l_returnflag, CAST(n AS DOUBLE) FROM m),
    pct_rows AS (
      SELECT 'p25_qty' AS metric, l_returnflag AS grp,
             quantile_cont(l_quantity, 0.25) AS value
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT 'p50_qty', l_returnflag, quantile_cont(l_quantity, 0.50)
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT 'p75_qty', l_returnflag, quantile_cont(l_quantity, 0.75)
      FROM lineitem GROUP BY l_returnflag),
    uniq_rows AS (
      SELECT 'n_rows' AS metric, 'orders.o_orderkey' AS grp,
             CAST(COUNT(*) AS DOUBLE) AS value FROM orders
      UNION ALL
      SELECT 'n_keys', 'orders.o_orderkey',
             CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) FROM orders
      UNION ALL
      SELECT 'n_dup_rows', 'orders.o_orderkey',
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS DOUBLE) FROM orders
      UNION ALL
      SELECT 'n_rows', 'lineitem.(l_orderkey,l_linenumber)',
             CAST(COUNT(*) AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT 'n_keys', 'lineitem.(l_orderkey,l_linenumber)',
             CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE)
      FROM lineitem
      UNION ALL
      SELECT 'n_dup_rows', 'lineitem.(l_orderkey,l_linenumber)',
             CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
                  AS DOUBLE)
      FROM lineitem
      UNION ALL
      SELECT 'n_keys', 'orders.o_custkey',
             CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) FROM orders),
    kmv AS ({kmv_cte}),
    kmv_rows AS (
      SELECT 'kmv_k' AS metric, 'orders.o_custkey' AS grp,
             CAST(kk AS DOUBLE) AS value FROM kmv
      UNION ALL
      SELECT 'kmv_est_distinct', 'orders.o_custkey',
             CAST(est_distinct AS DOUBLE) FROM kmv),
    {cms_cte},
    cms_rows AS (
      SELECT 'cms_row_total' AS metric, CAST(i AS VARCHAR) AS grp,
             CAST(SUM(cnt) AS DOUBLE) AS value FROM cmsk GROUP BY i
      UNION ALL
      SELECT 'cms_cells', 'orders.o_custkey', CAST(COUNT(*) AS DOUBLE)
      FROM cmsk
      UNION ALL
      SELECT 'cms_max_over', 'orders.o_custkey',
             CAST(MAX(est - c) AS DOUBLE) FROM cms_est
      UNION ALL
      SELECT 'cms_min_over', 'orders.o_custkey',
             CAST(MIN(est - c) AS DOUBLE) FROM cms_est
      UNION ALL
      SELECT 'cms_sum_over', 'orders.o_custkey',
             CAST(SUM(est - c) AS DOUBLE) FROM cms_est),
    {bal_cte},
    bal_rows AS (
      SELECT 'bal_n' AS metric, o_orderpriority AS grp,
             CAST(COUNT(*) AS DOUBLE) AS value FROM bal GROUP BY 2
      UNION ALL
      SELECT 'bal_sum_key', o_orderpriority,
             CAST(SUM(o_orderkey) AS DOUBLE) FROM bal GROUP BY 2),
    hist_rows AS (
      SELECT 'hist_n' AS metric,
             CAST(CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS VARCHAR)
               AS grp,
             CAST(COUNT(*) AS DOUBLE) AS value
      FROM orders GROUP BY 2
      UNION ALL
      SELECT 'hist_sum_price',
             CAST(CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS VARCHAR),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM orders GROUP BY 2),
    sample_rows AS (
      SELECT 'sample_n' AS metric, l_returnflag AS grp,
             CAST(COUNT(*) AS DOUBLE) AS value
      FROM lineitem WHERE l_orderkey % 50 = 0 GROUP BY l_returnflag
      UNION ALL
      SELECT 'sample_sum_qty', l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      FROM lineitem WHERE l_orderkey % 50 = 0 GROUP BY l_returnflag
      UNION ALL
      SELECT 'p50_qty_sampled', l_returnflag,
             quantile_cont(l_quantity, 0.50)
      FROM lineitem WHERE l_orderkey % 50 = 0 GROUP BY l_returnflag),
    split_rows AS (
      SELECT 'split_n' AS metric, {split_case} AS grp,
             CAST(COUNT(*) AS DOUBLE) AS value
      FROM orders GROUP BY 2
      UNION ALL
      SELECT 'split_sum_price', {split_case},
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM orders GROUP BY 2
      UNION ALL
      SELECT 'hsample_n', {split_case},
             CAST(COUNT(*) FILTER (WHERE {sample_pred}) AS DOUBLE)
      FROM orders GROUP BY 2),
    pk0 AS (
      SELECT doc_id, len({doc_tokens}) AS n FROM documents),
    pk1 AS (
      SELECT doc_id, n,
             COALESCE(SUM(n) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS excl
      FROM pk0),
    pack_rows AS (
      SELECT 'pack_n' AS metric,
             CAST(excl // {pack_budget} AS VARCHAR) AS grp,
             CAST(COUNT(*) AS DOUBLE) AS value
      FROM pk1 GROUP BY 2
      UNION ALL
      SELECT 'pack_tokens', CAST(excl // {pack_budget} AS VARCHAR),
             CAST(SUM(n) AS DOUBLE)
      FROM pk1 GROUP BY 2),
    {mix_cte},
    mix_agg AS (
      SELECT source || ':' || CAST(epoch AS VARCHAR) AS grp,
             COUNT(*) AS mn, SUM(doc_id) AS msum,
             SUM(n_chars) AS mchars
      FROM mix GROUP BY 1),
    mix_rows AS (
      SELECT 'mix_n' AS metric, grp, CAST(mn AS DOUBLE) AS value
      FROM mix_agg
      UNION ALL SELECT 'mix_sum_id', grp, CAST(msum AS DOUBLE)
      FROM mix_agg
      UNION ALL SELECT 'mix_chars', grp, CAST(mchars AS DOUBLE)
      FROM mix_agg)
    SELECT * FROM corr_rows
    UNION ALL SELECT * FROM pct_rows
    UNION ALL SELECT * FROM uniq_rows
    UNION ALL SELECT * FROM hist_rows
    UNION ALL SELECT * FROM sample_rows
    UNION ALL SELECT * FROM split_rows
    UNION ALL SELECT * FROM pack_rows
    UNION ALL SELECT * FROM kmv_rows
    UNION ALL SELECT * FROM cms_rows
    UNION ALL SELECT * FROM bal_rows
    UNION ALL SELECT * FROM mix_rows
    """.format(
        split_case=_SPLIT_CASE,
        sample_pred=sampling.duckdb_sample_predicate(
            _SAMPLE_RATE, "o_orderkey"
        ),
        doc_tokens=H.duckdb_tokens("text"),
        pack_budget=PACK_BUDGET,
        kmv_cte=sketches.duckdb_kmv_cte("o_custkey", "orders"),
        cms_cte=sketches.duckdb_cms_cte("o_custkey", "orders"),
        bal_cte=sampling.duckdb_balanced_cte(
            "orders", "o_orderpriority", BAL_CAP, "o_orderkey"
        ),
        mix_cte=sampling.duckdb_mix_cte(
            MIX_WEIGHTS, max_epochs=MIX_EPOCHS
        ),
    ),
)
def q_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The profiling audit pass.  Correlation avoids the built-in
    ``corr`` (order-dependent double streaming): DECIMAL moment sums are
    exact and order-free, and the final coefficient is one fixed double
    expression tree, so it verifies bitwise.  Exact percentiles need a
    per-group sort; ``approx_percentile`` (KLL/GK sketch, one pass,
    mergeable) is the 100 TB path — tested with a tolerance bound in
    tests/test_relational.py since sketches aren't cross-engine
    reproducible.  The distinct-counts are two-stage partial aggregates,
    never a global collect; the systematic key-modulo sample is
    reproducible across engines, unlike ``TABLESAMPLE``."""
    # Round 12 (optimization): scan fan-out (io.fan_out_starved_scan)
    # was A/B-measured here and REJECTED — all-three-inputs 6.7 s,
    # lineitem-only 4.3 s, unmodified 3.2 s (warm interleaved, sf0.1).
    # The heavy per-group work (exact percentile buffers over 3
    # l_returnflag groups) happens AFTER the group-by exchange on 3
    # reducers whatever the scan parallelism, and the query is already
    # ~15 small concurrent jobs — extra exchanges only add overhead.
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    docs = load_table(spark, sf_dir, "documents")

    # The three eager constructions (grouping-sets materialization;
    # packing's driver-side prefix-sum offsets + checkpoint; mixing's
    # per-source counts) are independent — submit them concurrently so
    # construction latency is the max, not the sum (Spark's scheduler
    # is explicitly multi-thread-submission safe).
    in_sample = sampling.sample_predicate("o_orderkey", _SAMPLE_RATE)
    base = sampling.hash_split(orders, "o_orderkey").select(
        F.floor(F.col("o_totalprice") / 50000.0)
        .cast("long")
        .alias("bucket"),
        "split",
        "o_custkey",
        "o_orderpriority",
        "o_totalprice",
        in_sample.alias("__in_sample"),
    )
    gs_plan = base.groupingSets(
        [["bucket"], ["split"], ["o_custkey"], ["o_orderpriority"]],
        "bucket",
        "split",
        "o_custkey",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        dec_sum("o_totalprice", alias="sump"),
        F.count(F.when(F.col("__in_sample"), 1)).alias("hsn"),
        F.grouping_id().alias("gid"),
    )
    # The packing audit consumes only (pack_id, n_tokens), but
    # ``pack_documents`` returns every input column THROUGH its range
    # exchange, sort, and Arrow cumsum (mapInPandas blocks column
    # pruning: the UDF schema names all columns).  Round 7, from a
    # ×100 branch profile that showed pack_documents at 15.7 s — the
    # key's real cost center, not the scans the round-6 verdict
    # guessed: (a) feed it a skinny pre-counted (doc_id, n_tokens)
    # projection, keeping the corpus TEXT out of the shuffle and the
    # Arrow boundary; (b) MATERIALIZE that projection, because
    # repartitionByRange's boundary-sampling job executes its child in
    # full before the exchange executes it again — an unmaterialized
    # input pays the corpus tokenize TWICE (measured: 12.7 → 5.2 s at
    # ×100, a wash at ×1, where the remaining ~4 s is the one
    # irreducible tokenize pass).
    pack_in = docs.select(
        "doc_id",
        F.expr(f"size({H.spark_tokens('text')})")
        .cast("long")
        .alias("n_tokens"),
    )
    with ThreadPoolExecutor(max_workers=3) as ex:
        f_gs = ex.submit(materialize, gs_plan)
        f_pack = ex.submit(
            lambda: sampling.pack_documents(
                materialize(pack_in), PACK_BUDGET, count_col="n_tokens"
            )
        )
        f_mix = ex.submit(
            lambda: sampling.mix_sources(
                docs, MIX_WEIGHTS, max_epochs=MIX_EPOCHS
            )
        )
        gs, packed, mixed = f_gs.result(), f_pack.result(), f_mix.result()

    # Balanced sample with phase-1 counts injected from the shared
    # pass's priority grain (lazy — no construction job).
    bal = sampling.balanced_sample(
        orders,
        "o_orderpriority",
        BAL_CAP,
        key="o_orderkey",
        counts=gs.where(F.col("gid") == _GID_PRIO).select(
            "o_orderpriority", F.col("cnt").alias("__n")
        ),
    )

    # Per-call view names: spark.sql analyzes eagerly so the returned
    # DataFrame is bound to THESE registrations, but two same-session
    # constructions interleaving on shared names could still cross
    # wires between register and parse — the same uniqueness rule the
    # streaming memory sinks follow.
    sfx = next(_view_seq)
    for name, df_ in (
        ("lineitem", li),
        ("orders", orders),
        ("gs", gs),
        ("packed", packed),
        ("mixed", mixed),
        ("bal", bal),
    ):
        df_.createOrReplaceTempView(f"__qps_{name}_{sfx}")
    return spark.sql(_QPS_SQL.replace("__QPS_SFX__", str(sfx)))


# gid discriminators for the shared GROUPING SETS pass over
# (bucket, split, o_custkey, o_orderpriority): bit set ⟺ column
# aggregated away, so each single-column grain clears exactly its bit.
_GID_BUCKET, _GID_SPLIT, _GID_CUST, _GID_PRIO = 0b0111, 0b1011, 0b1101, 0b1110

_KMV_H = sketches._spark_kmv_hash("k")
_CMS_H = sketches._spark_cms_hash("k")
_CMS_CELLS = ", ".join(
    f"named_struct('i', {i}, 'bucket', "
    f"CAST({sketches.cms_bucket_expr(i, '__h')} AS INT))"
    for i in range(sketches.CMS_D)
)
_CORR = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    "    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    "           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)

# The whole long-format fan-out as ONE Spark SQL statement (round 5).
# Semantically identical to the former per-branch DataFrame assembly —
# every aggregate and cast is the same expression — but parsed in one
# py4j round trip instead of ~4k: the DataFrame construction itself
# was ~2 s of driver-side API chatter at bench time, pure overhead at
# any scale.  Each multi-metric branch keeps the explode-over-struct-
# array shape (a UNION of per-metric selects would re-evaluate the
# source aggregate per metric); the sketch CTEs
# (truth/kmv/cms) read the MATERIALIZED grouping-sets view, so their
# repeated references recompute only grain-sized checkpointed data,
# never an orders scan.
_QPS_SQL = f"""
WITH m AS (
  SELECT l_returnflag,
         COUNT(1) AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
         SUM(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
         SUM(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
         percentile(l_quantity, 0.25) AS p25,
         percentile(l_quantity, 0.50) AS p50,
         percentile(l_quantity, 0.75) AS p75,
         COUNT(CASE WHEN l_orderkey % 50 = 0 THEN 1 END) AS sn,
         CAST(SUM(CASE WHEN l_orderkey % 50 = 0
                  THEN CAST(l_quantity AS DECIMAL(18,2)) END)
              AS DOUBLE) AS ssum,
         percentile(CASE WHEN l_orderkey % 50 = 0
                    THEN l_quantity END, 0.5) AS p50s
  FROM __qps_lineitem___QPS_SFX__ GROUP BY l_returnflag),
truth AS (
  SELECT o_custkey AS k, cnt AS c FROM __qps_gs___QPS_SFX__
  WHERE gid = {_GID_CUST} AND o_custkey IS NOT NULL),
o_uniq AS (
  SELECT COUNT(1) AS n_rows, COUNT(DISTINCT o_orderkey) AS n_keys
  FROM __qps_orders___QPS_SFX__),
ncust AS (SELECT COUNT(1) AS n_cust FROM truth),
l_uniq AS (
  SELECT COUNT(1) AS n_rows,
         COUNT(DISTINCT l_orderkey, l_linenumber) AS n_keys
  FROM __qps_lineitem___QPS_SFX__),
kmvsk AS (
  -- NULL filter BEFORE the ORDER BY/LIMIT, as in COUNT DISTINCT:
  -- Spark sorts NULLS FIRST, so a post-limit filter would let NULL h
  -- evict real hashes from the sketch.  Safe either way on today's
  -- non-null md5 truth keys, but kept exact for copy-paste reuse.
  SELECT DISTINCT {_KMV_H} AS h FROM truth
  WHERE {_KMV_H} IS NOT NULL
  ORDER BY h LIMIT {sketches.KMV_K}),
kmv AS (
  SELECT kk,
         CASE WHEN kk < {sketches.KMV_K} THEN kk
              ELSE (kk - 1) * CAST({sketches.KMV_SPACE} AS BIGINT) div hk
         END AS est_distinct
  FROM (SELECT COUNT(1) AS kk, MAX(h) AS hk FROM kmvsk) a),
cmsk AS (
  SELECT cell.i AS i, cell.bucket AS bucket, SUM(__wt) AS cnt
  FROM (SELECT {_CMS_H} AS __h, c AS __wt FROM truth) ci
  LATERAL VIEW explode(array({_CMS_CELLS})) cx AS cell
  WHERE __h IS NOT NULL
  GROUP BY cell.i, cell.bucket),
cest AS (
  SELECT /*+ BROADCAST(s) */ p.k AS k, p.c AS c,
         MIN(COALESCE(s.cnt, CAST(0 AS BIGINT))) AS est
  FROM (SELECT k, c, cell.i AS i, cell.bucket AS bucket
        FROM (SELECT k, c, {_CMS_H} AS __h FROM truth) z
        LATERAL VIEW explode(array({_CMS_CELLS})) cx AS cell
        WHERE __h IS NOT NULL) p
  LEFT JOIN cmsk s ON p.i = s.i AND p.bucket = s.bucket
  GROUP BY p.k, p.c),
cerr AS (
  SELECT MAX(est - c) AS mx, MIN(est - c) AS mn, SUM(est - c) AS sm
  FROM cest)
SELECT kv.metric AS metric, grp, kv.value AS value FROM (
  SELECT CAST(l_returnflag AS STRING) AS grp,
         array(
           named_struct('metric', 'corr_qty_price', 'value',
                        CAST({_CORR} AS DOUBLE)),
           named_struct('metric', 'group_n', 'value', CAST(n AS DOUBLE)),
           named_struct('metric', 'p25_qty', 'value', CAST(p25 AS DOUBLE)),
           named_struct('metric', 'p50_qty', 'value', CAST(p50 AS DOUBLE)),
           named_struct('metric', 'p75_qty', 'value', CAST(p75 AS DOUBLE))
         ) AS kvs
  FROM m) b1 LATERAL VIEW explode(kvs) t AS kv
UNION ALL
SELECT kv.metric AS metric, grp, kv.value AS value FROM (
  SELECT CAST(l_returnflag AS STRING) AS grp,
         array(
           named_struct('metric', 'sample_n', 'value', CAST(sn AS DOUBLE)),
           named_struct('metric', 'sample_sum_qty', 'value', ssum),
           named_struct('metric', 'p50_qty_sampled', 'value',
                        CAST(p50s AS DOUBLE))) AS kvs
  FROM m WHERE sn > 0) b2 LATERAL VIEW explode(kvs) t AS kv
UNION ALL
SELECT kv.metric AS metric, kv.grp AS grp, kv.value AS value FROM (
  SELECT array(
    named_struct('metric', 'n_rows', 'grp', 'orders.o_orderkey',
                 'value', CAST(n_rows AS DOUBLE)),
    named_struct('metric', 'n_keys', 'grp', 'orders.o_orderkey',
                 'value', CAST(n_keys AS DOUBLE)),
    named_struct('metric', 'n_dup_rows', 'grp', 'orders.o_orderkey',
                 'value', CAST(n_rows - n_keys AS DOUBLE)),
    named_struct('metric', 'n_keys', 'grp', 'orders.o_custkey',
                 'value', CAST(n_cust AS DOUBLE))) AS kvs
  FROM o_uniq CROSS JOIN ncust) b3 LATERAL VIEW explode(kvs) t AS kv
UNION ALL
SELECT kv.metric AS metric,
       'lineitem.(l_orderkey,l_linenumber)' AS grp,
       kv.value AS value FROM (
  SELECT array(
    named_struct('metric', 'n_rows', 'value', CAST(n_rows AS DOUBLE)),
    named_struct('metric', 'n_keys', 'value', CAST(n_keys AS DOUBLE)),
    named_struct('metric', 'n_dup_rows', 'value',
                 CAST(n_rows - n_keys AS DOUBLE))) AS kvs
  FROM l_uniq) b4 LATERAL VIEW explode(kvs) t AS kv
UNION ALL
SELECT kv.metric AS metric, grp, kv.value AS value FROM (
  SELECT CAST(bucket AS STRING) AS grp,
         array(
           named_struct('metric', 'hist_n', 'value', CAST(cnt AS DOUBLE)),
           named_struct('metric', 'hist_sum_price', 'value', sump)) AS kvs
  FROM __qps_gs___QPS_SFX__ WHERE gid = {_GID_BUCKET}) b5
LATERAL VIEW explode(kvs) t AS kv
UNION ALL
SELECT kv.metric AS metric, grp, kv.value AS value FROM (
  SELECT CAST(split AS STRING) AS grp,
         array(
           named_struct('metric', 'split_n', 'value', CAST(cnt AS DOUBLE)),
           named_struct('metric', 'split_sum_price', 'value', sump),
           named_struct('metric', 'hsample_n', 'value',
                        CAST(hsn AS DOUBLE))) AS kvs
  FROM __qps_gs___QPS_SFX__ WHERE gid = {_GID_SPLIT}) b6
LATERAL VIEW explode(kvs) t AS kv
UNION ALL
SELECT kv.metric AS metric, grp, kv.value AS value FROM (
  SELECT CAST(pack_id AS STRING) AS grp,
         array(
           named_struct('metric', 'pack_n', 'value', CAST(pn AS DOUBLE)),
           named_struct('metric', 'pack_tokens', 'value',
                        CAST(ptok AS DOUBLE))) AS kvs
  FROM (SELECT pack_id, COUNT(1) AS pn, SUM(n_tokens) AS ptok
        FROM __qps_packed___QPS_SFX__ GROUP BY pack_id) pk) b7
LATERAL VIEW explode(kvs) t AS kv
UNION ALL
SELECT kv.metric AS metric, 'orders.o_custkey' AS grp,
       kv.value AS value FROM (
  SELECT array(
    named_struct('metric', 'kmv_k', 'value', CAST(kk AS DOUBLE)),
    named_struct('metric', 'kmv_est_distinct', 'value',
                 CAST(est_distinct AS DOUBLE))) AS kvs
  FROM kmv) b8 LATERAL VIEW explode(kvs) t AS kv
UNION ALL
SELECT 'cms_row_total' AS metric, CAST(i AS STRING) AS grp,
       CAST(rt AS DOUBLE) AS value
FROM (SELECT i, SUM(cnt) AS rt FROM cmsk GROUP BY i) b9
UNION ALL
SELECT 'cms_cells' AS metric, 'orders.o_custkey' AS grp,
       CAST(COUNT(1) AS DOUBLE) AS value
FROM cmsk
UNION ALL
SELECT kv.metric AS metric, 'orders.o_custkey' AS grp,
       kv.value AS value FROM (
  SELECT array(
    named_struct('metric', 'cms_max_over', 'value', CAST(mx AS DOUBLE)),
    named_struct('metric', 'cms_min_over', 'value', CAST(mn AS DOUBLE)),
    named_struct('metric', 'cms_sum_over', 'value',
                 CAST(sm AS DOUBLE))) AS kvs
  FROM cerr) b10 LATERAL VIEW explode(kvs) t AS kv
UNION ALL
SELECT kv.metric AS metric, grp, kv.value AS value FROM (
  SELECT CAST(o_orderpriority AS STRING) AS grp,
         array(
           named_struct('metric', 'bal_n', 'value', CAST(bn AS DOUBLE)),
           named_struct('metric', 'bal_sum_key', 'value',
                        CAST(bsum AS DOUBLE))) AS kvs
  FROM (SELECT o_orderpriority, COUNT(1) AS bn,
               SUM(o_orderkey) AS bsum
        FROM __qps_bal___QPS_SFX__ GROUP BY o_orderpriority) bb) b11
LATERAL VIEW explode(kvs) t AS kv
UNION ALL
SELECT kv.metric AS metric, grp, kv.value AS value FROM (
  SELECT CONCAT_WS(':', source, CAST(epoch AS STRING)) AS grp,
         array(
           named_struct('metric', 'mix_n', 'value', CAST(mn AS DOUBLE)),
           named_struct('metric', 'mix_sum_id', 'value',
                        CAST(msum AS DOUBLE)),
           named_struct('metric', 'mix_chars', 'value',
                        CAST(mchars AS DOUBLE))) AS kvs
  FROM (SELECT source, epoch, COUNT(1) AS mn, SUM(doc_id) AS msum,
               SUM(n_chars) AS mchars
        FROM __qps_mixed___QPS_SFX__ GROUP BY source, epoch) mx) b12
LATERAL VIEW explode(kvs) t AS kv
"""
