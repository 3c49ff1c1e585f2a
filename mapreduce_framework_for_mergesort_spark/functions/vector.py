"""Vector math over ``array<float>`` embedding columns — JVM-side only.

Cosine similarity as a sequential left fold in DOUBLE:
``dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))``.  Verified bitwise equal
to DuckDB's ``list_sum(list_transform(...))`` formulation on the test
embeddings (both engines evaluate the same IEEE op sequence), so oracle
comparisons need no rounding fudge.

``aggregate``/``zip_with`` are higher-order Catalyst expressions —
JVM-side, no Python, no UDF, but evaluated *interpreted* (higher-order
functions do not enter whole-stage codegen; the containing Project loses
its codegen star).  Unrolling a dot into a flat per-component sum is NOT
a reliable win: in a flat 1M-row Project a one-dot unrolled sum codegens
and beats the fold ~2.7×, but a three-dot unrolled cosine is 3× SLOWER
(192 terms defeat the JIT), and inside a ``transform`` lambda — where
the k-means argmin actually lives — the unrolled form is interpreted
anyway and its expression size adds ~1 s of analysis/codegen per job
(measured; see ``similarity._argmin_cell_udf``).  So the engine keeps the fold
everywhere.  For genuinely hot all-pairs loops a Pandas-UDF matrix
kernel beats both by orders of magnitude (see ``operators/dedup.py``'s
two-tier pattern), at the price of BLAS summation order — hence kernel
for candidates, exact fold for the final filter.
"""

from __future__ import annotations


def spark_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


# Per-PAIR scoring through Catalyst expressions — fold or unrolled —
# costs ~µs/pair and must not be
# the hot loop of an all-pairs/blocked-pairs operator.  The fast path is
# the NumPy kernel + exact-rescore pattern in
# ``operators/dedup.embedding_near_dup_pairs`` (candidates at BLAS
# speed, final filter through this exact fold).  Per-ROW scoring (one
# query vector against the table) is fine: N folds, not N².


def spark_cosine(a: str, b: str) -> str:
    return (
        f"{spark_dot(a, b)} / "
        f"(sqrt({spark_dot(a, a)}) * sqrt({spark_dot(b, b)}))"
    )


def duckdb_dot(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def duckdb_cosine(a: str, b: str, dim: int) -> str:
    return (
        f"{duckdb_dot(a, b, dim)} / "
        f"(sqrt({duckdb_dot(a, a, dim)}) * sqrt({duckdb_dot(b, b, dim)}))"
    )
