"""Exactly-replicable sketches: KMV distinct-cardinality, Count-Min
frequency, and dyadic Count-Min quantiles (the bottom of this
module).  All three follow the same discipline — every intermediate is
plain integer data both engines recompute bit-for-bit, so the driver
can hash-check the sketch itself, not just trust its error bound.

KMV (k-minimum-values) below; Count-Min (``cms_sketch`` et al.) is the
frequency twin: a d×w counter matrix (rows = independent affine hashes
over the shared 32-bit base hash) answering point-frequency queries
with est ≥ true and est ≤ true + 2N/w w.h.p. — the heavy-hitter
primitive at 100 TB, where exact per-key counts of an unbounded key
domain (tokens, URLs, user ids) can't be held.  Mergeable by
elementwise addition; the sketch is ≤ d·w rows BY CONSTRUCTION, so
downstream estimate joins broadcast it.

``approx_count_distinct`` (HyperLogLog++) is Spark's built-in sketch for
cardinality at 100 TB, and the engine documents it as the scale
substitute for exact ``count_distinct`` — but its sketch bytes are
engine-internal, so no oracle can check it value-for-value.  KMV
(Bar-Yossef et al. '02) has the same one-pass, mergeable,
bounded-memory shape with every intermediate being plain DATA: the k
smallest md5-derived hash values of the key.  Both engines compute md5
identically, min-k is order-independent, and the estimator

    est = (k - 1) * HASH_SPACE // h_k        (h_k = k-th smallest hash)

is pure int64 arithmetic — so the whole sketch, not just its answer,
verifies bit-for-bit against DuckDB (the same exactness discipline as
the integer-quantized LSH in ``operators/similarity.py``).  Standard
error is ~1/sqrt(k-2) (~6% at k=256), bounded in tests.

Scale shape: ``distinct`` of the hash column is a two-stage hash
aggregate (map-side partials emit each partition's distinct hashes
once), then ``orderBy(h).limit(k)`` plans as TakeOrderedAndProject —
per-partition top-k, never a global sort.  The shuffle carries distinct
hashes, not rows; for corpora where even that is too much, prefilter
``h < t`` for a threshold t chosen from a cardinality upper bound
(exactly ``sampling.sample_threshold``'s arithmetic) — the filter is
map-only and KMV only ever looks at the k smallest hashes, so any t
with ≥ k surviving distinct hashes leaves the result unchanged (double
t and rerun on under-fill).

Merge property (what makes the sketch distributable/incremental): the
k smallest distinct hashes of A ∪ B are computable from the two k-min
sets alone — union, distinct, keep the k smallest (pinned in tests).

Hash width is 32 bits (``functions.hashing.spark_base_hash`` — the
same primitive the MinHash family uses), which starts saturating with
birthday collisions around ~2^16 distinct keys per sketch (underestimates
beyond); for production-scale cardinalities widen the substring in a
derived helper rather than reusing this one, or fall back to
``approx_count_distinct`` when cross-engine verifiability isn't needed.
The hash input is SALTED (``#kmv``) so sketch membership is independent
of the hash-split and hash-sample decisions derived from the same key
(see ``sampling.SAMPLE_SALT`` for the correlation failure this avoids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.functions import hashing as H

KMV_K = 256
KMV_SALT = "#kmv"
KMV_SPACE = 1 << 32  # hash domain size: 8 hex chars (spark_base_hash)


def _spark_kmv_hash(key_sql: str) -> str:
    return H.spark_base_hash(f"CAST({key_sql} AS STRING) || '{KMV_SALT}'")


def duckdb_kmv_hash(key_sql: str) -> str:
    """Oracle-side hash expression (same salt, same 8-hex-char space)."""
    return H.duckdb_base_hash(f"CAST({key_sql} AS VARCHAR) || '{KMV_SALT}'")


CMS_D = 4  # hash rows (error probability ~ e^-D)
CMS_W = 512  # buckets per row (overestimate ~ 2N/W per Cormode-Muthukrishnan)
CMS_SALT = "#cms"
# Affine bucket family over the shared 32-bit base hash — the MinHash
# constants discipline: a < P = 2^31-1, h < 2^32, so a·h+b < 2^63 is
# exact int64 in Spark SQL, DuckDB, and Python alike.  Seeded
# deterministically so both engines (and every run) agree.
CMS_AB = [
    (H._mh_const("cms_a", i, H.MINHASH_P - 1) + 1, H._mh_const("cms_b", i, H.MINHASH_P))
    for i in range(CMS_D)
]


def _spark_cms_hash(key_sql: str) -> str:
    return H.spark_base_hash(f"CAST({key_sql} AS STRING) || '{CMS_SALT}'")


def duckdb_cms_hash(key_sql: str) -> str:
    return H.duckdb_base_hash(f"CAST({key_sql} AS VARCHAR) || '{CMS_SALT}'")


def cms_bucket_expr(i: int, h_sql: str) -> str:
    """Row ``i``'s bucket for a precomputed base hash — one SQL string
    valid verbatim in both engines (all operands positive, so ``%`` is
    the same operation everywhere)."""
    a, b = CMS_AB[i]
    return f"((({a} * {h_sql} + {b}) % {H.MINHASH_P}) % {CMS_W})"


def _cms_cell_array():
    """The (i, bucket) cell-struct array over a precomputed ``__h``
    column — the ONE construction shared by sketch build and probe, so
    the two sides can never drift (a probe computing buckets in a
    different space than the sketch silently estimates 0 and breaks
    est ≥ true).  The geometry is fixed: ``CMS_D`` rows of ``CMS_W``
    buckets."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.expr(cms_bucket_expr(i, "__h")).cast("int").alias("bucket"),
            )
            for i in range(CMS_D)
        ]
    )


def cms_sketch(df: DataFrame, key: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan '05) of ``df[key]``'s
    frequency vector as plain DATA: rows ``(i, bucket, cnt)`` — the
    d×w counter matrix with zero cells absent.  ONE scan: each row
    fans out to its d (row, bucket) cells via an array explode, then a
    map-side-combinable count — the shuffle carries at most d·w cells
    per partition regardless of input size.  NULL keys contribute
    nothing (COUNT semantics, mirroring the KMV sketch).

    Like KMV next to approx_count_distinct, this is the cross-engine-
    verifiable stand-in for frequency estimation at 100 TB: every
    intermediate is integer data both engines can recompute
    bit-for-bit, and sketches MERGE by elementwise addition so
    shards/increments sketch locally and combine without touching raw
    data again.  ``q_profile_stats`` spells the same cells in SQL over
    a per-key count aggregate (weighted by the count), which equals
    this sketch of the raw rows cell-for-cell (pinned in tests)."""
    return (
        df.select(F.expr(_spark_cms_hash(key)).alias("__h"))
        .where(F.col("__h").isNotNull())
        .select(F.explode(_cms_cell_array()).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_point_estimates(
    sketch: DataFrame,
    keys: DataFrame,
    key: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Frequency estimate per DISTINCT (``key``, ``carry``) combination
    in ``keys``: min over the d counters the key hashes to (missing
    cell → 0 via left join, so never-seen keys estimate
    0..collision-mass).  The final groupBy collapses duplicate keys —
    pass distinct keys per (key, carry) if you need one output row per
    input row (the profile-family and example callers already do).
    Guarantees: est ≥ true count always; est ≤ true + 2N/w with
    probability ≥ 1−e^−d.

    Scale shape: the sketch is ≤ d·w rows BY CONSTRUCTION, so it is
    force-broadcast — the estimate pass is map-side over the keys'
    explode, one small aggregation per key, no shuffle of the sketch
    ever.  ``carry`` payload columns ride through so a caller comparing
    est to a per-key truth doesn't have to re-join — and thus re-scan —
    the keys table."""
    ex = (
        keys.select(
            F.col(key).alias("k"),
            *carry,
            F.expr(_spark_cms_hash(key)).alias("__h"),
        )
        .where(F.col("__h").isNotNull())
        .select(
            "k",
            *carry,
            F.explode(_cms_cell_array()).alias("__c"),
        )
        .select(
            "k",
            *carry,
            F.col("__c.i").alias("i"),
            F.col("__c.bucket").alias("bucket"),
        )
    )
    joined = ex.join(F.broadcast(sketch), ["i", "bucket"], "left")
    return joined.groupBy("k", *carry).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est")
    )


def duckdb_cms_cte(key_sql: str, table: str) -> str:
    """Oracle CTE chain replicating sketch + estimates vs truth.
    Exposes ``cmsk(i, bucket, cnt)`` and ``cms_est(k, c, est)`` —
    same salted hash, same affine buckets (``cms_bucket_expr``
    verbatim), same left-join-coalesce min."""
    h = duckdb_cms_hash(key_sql)
    cell_branches = "\n      UNION ALL ".join(
        f"SELECT {i} AS i, CAST({cms_bucket_expr(i, 'h')} AS INT) AS bucket"
        " FROM cms_h"
        for i in range(CMS_D)
    )
    probe_branches = "\n      UNION ALL ".join(
        f"SELECT k, c, {i} AS i, CAST({cms_bucket_expr(i, 'h')} AS INT)"
        " AS bucket FROM cms_truth"
        for i in range(CMS_D)
    )
    return f"""
    cms_h AS (
      SELECT {h} AS h FROM {table} WHERE {key_sql} IS NOT NULL),
    cmsk AS (
      SELECT i, bucket, COUNT(*) AS cnt
      FROM ({cell_branches})
      GROUP BY 1, 2),
    cms_truth AS (
      SELECT {key_sql} AS k, {h} AS h, COUNT(*) AS c
      FROM {table} WHERE {key_sql} IS NOT NULL GROUP BY 1, 2),
    cms_est AS (
      SELECT k, c, CAST(min(COALESCE(s.cnt, 0)) AS BIGINT) AS est
      FROM ({probe_branches}) t
      LEFT JOIN cmsk s USING (i, bucket)
      GROUP BY 1, 2)
    """


def duckdb_kmv_cte(key_sql: str, table: str) -> str:
    """Oracle CTE body of the KMV estimate — the ``KMV_K`` smallest distinct
    key hashes (select from it as ``(kk, est_distinct)``) — same hash,
    same min-k, same integer estimator as ``q_profile_stats``, so the
    driver hash-checks the sketch value-for-value."""
    return f"""
      SELECT kk,
             CASE WHEN kk < {KMV_K} THEN kk
                  ELSE (kk - 1) * CAST({KMV_SPACE} AS BIGINT) // hk
             END AS est_distinct
      FROM (
        SELECT count(*) AS kk, max(h) AS hk FROM (
          SELECT DISTINCT {duckdb_kmv_hash(key_sql)} AS h
          FROM {table} WHERE {key_sql} IS NOT NULL
          ORDER BY h LIMIT {KMV_K}))
    """


# --- dyadic Count-Min quantile sketch --------------------------------------
# The quantile member of the sketch trio (KMV = distinct count, CMS =
# frequency, this = quantiles/ranks): Cormode & Muthukrishnan '05 §4's
# dyadic range-sum construction.  Every value v in the integer domain
# [0, 2^LEVELS) is counted once per dyadic level j as the range key
# v >> j; rank(x) = |{v < x}| then decomposes into ≤ LEVELS dyadic
# ranges (one per set bit of x), each answered by one Count-Min point
# query — so quantiles come from a MERGEABLE, ORDER-INDEPENDENT,
# bounded (≤ (LEVELS+1)·d·w rows) integer sketch, with est_rank ≥
# true rank always (a sum of per-range overestimates).
#
# This is the 100 TB substitute for exact `percentile` (a per-group
# sort/hash over the whole column) when cross-engine verifiability
# matters: `approx_percentile`'s KLL sketch is engine-internal AND
# merge-order-dependent, while every cell here is plain integer data
# both engines recompute bit-for-bit.  Unlike the base CMS (md5-salted
# string keys), the dyadic cells hash the integer (level, prefix) pair
# through a pure affine family — (LEVELS+1)·d bucket computations per
# row are integer multiply-adds, no md5 — all operands bounded so the
# arithmetic is exact int64 in Spark SQL, DuckDB, and Python alike:
# A < P ≈ 2^31, prefix < 2^LEVELS, lvl ≤ LEVELS keeps A·u + C·lvl + B
# far under 2^63.

DYADIC_LEVELS = 24  # value domain [0, 2^24)
_DY_ABC = [
    (
        H._mh_const("dcms_a", i, H.MINHASH_P - 1) + 1,
        H._mh_const("dcms_b", i, H.MINHASH_P),
        H._mh_const("dcms_c", i, H.MINHASH_P - 1) + 1,
    )
    for i in range(CMS_D)
]


def _check_levels(levels: int) -> None:
    """Shared bound for every dyadic entry point — see the overflow
    note in ``dyadic_cms_sketch``."""
    if not 1 <= levels <= 31:
        raise ValueError(f"levels must be in [1, 31], got {levels}")


def dyadic_bucket_expr(i: int, lvl: int, u_sql: str) -> str:
    """Row ``i``'s bucket for dyadic prefix ``u_sql`` at level ``lvl``
    — one SQL string valid verbatim in both engines (all operands
    positive int64)."""
    a, b, c = _DY_ABC[i]
    # every operand promoted to BIGINT before multiplying: a bare
    # {c} * {lvl} is int32 × int32 in Spark's ANSI constant folding
    # and overflows loudly (caught by the first test run)
    return (
        f"((({a} * CAST({u_sql} AS BIGINT)"
        f" + {c} * CAST({lvl} AS BIGINT) + {b})"
        f" % {H.MINHASH_P}) % {CMS_W})"
    )


def dyadic_cms_sketch(
    df: DataFrame,
    key: str,
    levels: int = DYADIC_LEVELS,
) -> DataFrame:
    """Build the dyadic sketch: rows ``(lvl, i, bucket, cnt)``.  ONE
    scan; each row fans out to its (levels+1)·d cells via an array
    explode, then a map-side-combinable count — the shuffle carries at
    most (levels+1)·d·w cells per partition regardless of input.

    Domain contract: values must lie in [0, 2^levels); NULL and
    out-of-range rows are DROPPED (loudly documented, mirrored by the
    oracle) — callers scale/offset real columns into the domain
    (prices in cents, quantities as-is).  Merge = elementwise addition
    on (lvl, i, bucket), exactly like the Count-Min sketch."""
    # levels capped at 31: the affine bucket is a·prefix + c·lvl + b
    # with a, b, c < 2^31 and prefix < 2^levels, so the product stays
    # under 2^62 only for levels ≤ 31.  Beyond that Spark (non-ANSI)
    # silently wraps int64 while the driver-side Python in
    # dyadic_quantiles computes with unbounded
    # ints — the sketch and the estimator would silently diverge.
    _check_levels(levels)
    cells = F.array(
        *[
            F.struct(
                F.lit(lvl).cast("int").alias("lvl"),
                F.lit(i).cast("int").alias("i"),
                F.expr(
                    dyadic_bucket_expr(i, lvl, f"shiftright(__v, {lvl})")
                )
                .cast("int")
                .alias("bucket"),
            )
            for lvl in range(levels + 1)
            for i in range(CMS_D)
        ]
    )
    return (
        df.select(F.col(key).cast("long").alias("__v"))
        .where(
            F.col("__v").isNotNull()
            & (F.col("__v") >= 0)
            & (F.col("__v") < (1 << levels))
        )
        .select(F.explode(cells).alias("c"))
        .groupBy(
            F.col("c.lvl").alias("lvl"),
            F.col("c.i").alias("i"),
            F.col("c.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dyadic_decompose(x: int, levels: int = DYADIC_LEVELS) -> list[tuple[int, int]]:
    """The canonical dyadic decomposition of the half-open range
    [0, x): one ``(lvl, prefix)`` cell per set bit of ``x``, walking
    high bit to low.  Pure integer function — the Spark estimator, the
    DuckDB oracle, and the driver-side quantile search all consume
    exactly this."""
    if not 0 <= x <= (1 << levels):
        raise ValueError(f"x must be in [0, 2^{levels}], got {x}")
    out: list[tuple[int, int]] = []
    cur = 0
    for j in range(levels, -1, -1):
        if x & (1 << j):
            out.append((j, cur >> j))
            cur += 1 << j
    return out


def dyadic_quantiles(
    sketch_rows: list,
    qs: list[float],
    levels: int = DYADIC_LEVELS,
) -> dict[float, int]:
    """Driver-side quantile answers from a COLLECTED sketch (bounded
    index metadata: ≤ (levels+1)·d·w rows — the same collect budget as
    the IVF/PQ codebooks).  For each q: binary search on the integer
    domain for an x with est_rank(x) ≥ ceil(q·N).  APPROXIMATE, not
    exact-minimal: est_rank is not monotone in x (the dyadic
    decomposition changes wholesale at power-of-two boundaries, and a
    single coarse cell can estimate below the sum of the finer
    overestimates it covers), so the search is a heuristic that can
    return a non-minimal x or one whose est_rank is below target —
    the answer stays within the CMS error band (rank error ≤ levels ·
    εN with the usual CMS ε = e/w at confidence 1 − (1/e)^d), which
    is the guarantee callers should rely on.  N is exact (any
    (lvl, i) row of the sketch sums to N by construction — every
    in-domain value increments one bucket per row).  Deterministic:
    pure integer arithmetic over the cells."""
    _check_levels(levels)
    cells: dict[tuple[int, int, int], int] = {}
    for r in sketch_rows:
        cells[(r["lvl"], r["i"], r["bucket"])] = r["cnt"]
    n = sum(c for (lvl, i, _), c in cells.items() if lvl == 0 and i == 0)

    def est_rank(x: int) -> int:
        total = 0
        for lvl, pre in dyadic_decompose(x, levels):
            total += min(
                cells.get(
                    (
                        lvl,
                        i,
                        (
                            (_DY_ABC[i][0] * pre + _DY_ABC[i][2] * lvl
                             + _DY_ABC[i][1])
                            % H.MINHASH_P
                        )
                        % CMS_W,
                    ),
                    0,
                )
                for i in range(CMS_D)
            )
        return total

    import math

    out: dict[float, int] = {}
    for q in qs:
        target = max(1, math.ceil(q * n)) if n else 0
        lo, hi = 0, 1 << levels
        while lo < hi:
            mid = (lo + hi) // 2
            if est_rank(mid) >= target:
                hi = mid
            else:
                lo = mid + 1
        out[q] = lo
    return out
