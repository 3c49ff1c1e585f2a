"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — a broadcast of the query vector, a
per-row JVM fold, and ``TakeOrderedAndProject``.  No shuffle of the
embedding table at all; at 100 TB this is a single scan, which is the
correct baseline shape (and what FAISS-on-a-cluster degenerates to when
you can't fit an index).

Scale path: random-hyperplane LSH (SimHash for vectors, Charikar '02).
Hyperplane components are derived deterministically from md5 — no RNG
state, so the index is reproducible across runs/engines.  Bucketing cuts
the rerank set by ~2^planes; recall is probabilistic (tested against the
brute-force baseline in ``tests/test_similarity.py``), hence rows-only
oracle status for the ANN query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.functions import hashing as H
from mapreduce_framework_for_mergesort_spark.functions import vector as V

NUM_PLANES = 8


QUANT = 1 << 20  # component quantization scale (see lsh_bucket_udf)

KM_ITERS = 2  # fixed Lloyd iterations — part of the IVF index definition

# Centroids are trained on the deterministic prefix sample
# ``vec_id < num_centroids * KM_SAMPLE_FACTOR``, not the full corpus.
# Sampling is part of the index *definition* (the DuckDB oracle CTE
# applies the identical predicate), so exactness is unaffected; it is
# also the only shape that survives 100 TB — Lloyd iterations touch a
# bounded O(C) sample while the corpus pays exactly one map-only
# assignment pass.  vec_id is a dense surrogate key in this data model,
# so a prefix is an arbitrary-but-fixed sample, which is all k-means
# init needs.
KM_SAMPLE_FACTOR = 64


def hyperplane_matrix_int(dim: int):
    """Deterministic integer (dim × NUM_PLANES) hyperplane matrix:
    component (i, p) is ``2·hexbyte − 255`` where hexbyte is the first
    hex byte of md5('<p>_<i>') — the round-1 ``hexbyte − 127.5`` planes
    scaled by 2 into integers (positive scaling, identical sign
    structure).  Derived from md5, not an RNG — reproducible across
    runs, machines, and engines with no seed state to ship around, and
    *integer* so the dot products below are exact in any summation
    order."""
    import hashlib

    H = np.empty((dim, NUM_PLANES), dtype=np.int64)
    for p in range(NUM_PLANES):
        for i in range(1, dim + 1):
            hx = hashlib.md5(f"{p}_{i}".encode()).hexdigest()[:2]
            H[i - 1, p] = 2 * int(hx, 16) - 255
    return H


def lsh_bucket_udf(dim: int):
    """Arrow-batched bucket assignment: ONE NumPy matmul per batch
    against the md5-derived hyperplane matrix, then sign bits → bucket
    string.

    This replaces a per-row Catalyst HOF fold (8 planes × dim-term
    ``aggregate(zip_with(...))``) that ran interpreted — no codegen —
    at ~10 µs/row (SCALE_NOTES.md measurements); bucketing a 100 TB
    corpus through that expression was the round-1 scale-killer flagged
    in VERDICT.md.  The matmul does the identical arithmetic at BLAS
    speed; the matrix is built on the driver and ships inside the UDF
    closure (dim × 8 int64 — trivially broadcastable).

    Exactness: components are quantized to integers
    (``round-half-away(x · 2^20)``, matching SQL ``round`` semantics)
    and the planes are integers, so every dot product is an exact int64
    sum — independent of summation order.  A BLAS matmul and a SQL
    SUM() therefore agree bit-for-bit, which is what lets
    ``q_embed_ann_lsh`` carry a full DuckDB oracle instead of a
    rows-only check (a float matmul's last-ulp drift vs a SQL fold
    could flip a sign bit on a boundary row)."""
    from pyspark.sql.functions import pandas_udf

    H = hyperplane_matrix_int(dim)
    powers = 1 << np.arange(NUM_PLANES - 1, -1, -1)

    @pandas_udf("string")
    def bucket(emb: pd.Series) -> pd.Series:
        X = np.array(emb.tolist(), dtype=np.float64) * QUANT
        # round half away from zero (SQL round), not numpy's half-even
        Xq = (np.sign(X) * np.floor(np.abs(X) + 0.5)).astype(np.int64)
        codes = ((Xq @ H) >= 0) @ powers  # (n,) ints in [0, 2^planes)
        fmt = f"0{NUM_PLANES}b"
        return pd.Series([format(int(c), fmt) for c in codes])

    return bucket


def duckdb_bucket_cte(dim: int) -> str:
    """DuckDB CTE replicating the integer LSH bucketing exactly: the
    hyperplane matrix is embedded as a literal VALUES table (the same
    md5-derived constants the UDF uses), the quantized dot is an exact
    BIGINT SUM, and the bucket string aggregates sign bits in plane
    order.  Yields CTEs ``hp(i, p, h)`` and ``buckets(vec_id, bucket)``."""
    H = hyperplane_matrix_int(dim)
    rows = ", ".join(
        f"({i + 1}, {p}, {int(H[i, p])})"
        for p in range(NUM_PLANES)
        for i in range(dim)
    )
    return f"""
    hp(i, p, h) AS (VALUES {rows}),
    dots AS (
      SELECT e.vec_id, hp.p,
             SUM(CAST(round(CAST(e.embedding[hp.i] AS DOUBLE) * {QUANT})
                      AS BIGINT) * hp.h) AS dot
      FROM embeddings e, hp
      GROUP BY e.vec_id, hp.p),
    buckets AS (
      SELECT vec_id,
             string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, ''
                        ORDER BY p) AS bucket
      FROM dots GROUP BY vec_id)
    """


def duckdb_kmeans_cte(dim: int, num_centroids: int) -> str:
    """DuckDB CTE chain replicating ``ivf_cells`` step-for-step —
    quantization, prefix-sample selection (``ksmp``), integer-L2
    assignment, rounded-mean update, final full-corpus assignment —
    yielding ``cells(vec_id, embedding, cell)``.  Every intermediate is
    int64 (or one correctly-rounded double division), so the two engines
    agree bit-for-bit on the trained index, same discipline as
    ``duckdb_bucket_cte``."""
    nrm = f"sqrt({V.duckdb_dot('embedding', 'embedding', dim)})"
    dist = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (x.xq[i] - c.cq[i]) * (x.xq[i] - c.cq[i])))"
    )
    sample = num_centroids * KM_SAMPLE_FACTOR
    parts = [
        f"""knorm AS (
      SELECT vec_id, embedding,
             CASE WHEN {nrm} = CAST(0 AS DOUBLE)
                  THEN CAST(1 AS DOUBLE) ELSE {nrm} END AS nrm
      FROM embeddings),
    kxq AS (
      SELECT vec_id, embedding,
             list_transform(embedding, v ->
               CAST(round(CAST(v AS DOUBLE) / nrm
                          * CAST({QUANT} AS DOUBLE)) AS BIGINT)) AS xq
      FROM knorm),
    ksmp AS (
      SELECT vec_id, xq FROM kxq WHERE vec_id < {sample}),
    kc0 AS (
      SELECT vec_id AS cid, xq AS cq FROM ksmp
      ORDER BY vec_id LIMIT {num_centroids})"""
    ]
    prev = "kc0"
    for t in range(1, KM_ITERS + 1):
        parts.append(
            f"""ka{t} AS (
      SELECT x.vec_id, c.cid,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY {dist}, c.cid) AS rn
      FROM ksmp x CROSS JOIN {prev} c),
    ku{t} AS (
      SELECT a.cid AS cell, ki.i,
             CAST(round(CAST(SUM(x.xq[ki.i]) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cq_i
      FROM ka{t} a
      JOIN ksmp x ON x.vec_id = a.vec_id
      CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) ki
      WHERE a.rn = 1
      GROUP BY a.cid, ki.i),
    kc{t} AS (
      SELECT cell AS cid, list(cq_i ORDER BY i) AS cq
      FROM ku{t} GROUP BY cell)"""
        )
        prev = f"kc{t}"
    parts.append(
        f"""kfin AS (
      SELECT x.vec_id, c.cid,
             row_number() OVER (PARTITION BY x.vec_id
                                ORDER BY {dist}, c.cid) AS rn
      FROM kxq x CROSS JOIN {prev} c),
    cells AS (
      SELECT x.vec_id, x.embedding, f.cid AS cell
      FROM kfin f JOIN kxq x ON x.vec_id = f.vec_id
      WHERE f.rn = 1)"""
    )
    return ",\n    ".join(parts)


def brute_force_topk(
    embeddings: DataFrame, query_vec_id: int, k: int
) -> DataFrame:
    """Exact cosine top-k vs. the embedding of ``query_vec_id``.

    Plan: broadcast 1-row query → per-row fold → TakeOrderedAndProject
    (partial top-k per partition; k·P candidates to the driver).
    """
    q = (
        embeddings.where(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").alias("qe"))
    )
    scored = embeddings.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.expr(V.spark_cosine("embedding", "qe")).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id")).limit(k)


Cents = list[tuple[int, list[int]]]  # [(cid, [cq_0..cq_dim-1]), ...]


def _quantize_np(X):
    """NumPy replica of the SQL quantization expression
    (``tests/references.quantize_normalized``),
    bit-for-bit: the squared norm is accumulated with ``np.cumsum``
    (a strictly sequential left-to-right C loop — the same operation
    order as the Catalyst/DuckDB fold; ``np.sum`` would use pairwise
    summation and drift in the last ulp, which round() can amplify into
    a ±1 quantization flip on a boundary row), the division/scale
    follow the SQL expression's association ``(v / nrm) * 2^20``, and
    rounding is half-away-from-zero like SQL ``round`` (the
    ``lsh_bucket_udf`` precedent).  Pinned against the SQL expression
    row-for-row in ``tests/test_llm_ops.py``."""
    sq = np.cumsum(X * X, axis=1)[:, -1]
    nrm = np.sqrt(sq)
    nrm[nrm == 0.0] = 1.0
    Y = X / nrm[:, None] * QUANT
    return (np.sign(Y) * np.floor(np.abs(Y) + 0.5)).astype(np.int64)


def _argmin_np(Xq, cents: Cents):
    """Exact int64 nearest-centroid ids for quantized rows: ONE distance
    matrix (||x||² − 2·x·c + ||c||² via NumPy matmul — every term fits
    int64 at |xq| ≤ 2^20, dim ≤ 2^22), then ``argmin`` whose
    first-occurrence semantics give the lowest-cid tie-break because
    ``cents`` is sorted by cid."""
    ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    Q = np.array([cq for _, cq in cents], dtype=np.int64)  # (C, dim)
    d = (
        (Xq * Xq).sum(axis=1)[:, None]
        - 2 * (Xq @ Q.T)
        + (Q * Q).sum(axis=1)[None, :]
    )
    return ids[d.argmin(axis=1)]


def _argmin_cell_udf(cents: Cents, from_embedding: bool = False):
    """Arrow-batched nearest-centroid assignment.

    Same playbook as ``lsh_bucket_udf``: integer arithmetic is exact in
    any summation order, so the BLAS kernel and the DuckDB oracle's SQL
    SUM agree bit-for-bit — the operator keeps a full value-exact
    oracle while assigning at matmul speed.  Catalyst-expression
    alternatives were all measured ~0.1 ms *per fold* interpreted (HOFs
    never codegen): C folds per row made the corpus pass the dominant
    cost of every IVF operator at just 2000 rows, and would be hopeless
    at 100 TB.  The centroid matrix rides the UDF closure (C·dim int64
    — index metadata, trivially broadcast).

    With ``from_embedding=True`` the kernel takes the RAW embedding and
    quantizes in-batch (``_quantize_np``) — the corpus assignment pass
    then never evaluates the interpreted SQL quantize expression, which
    was measured at ~0.7 ms/row (14 s for a 20 K-row pass at 10×; the
    dominant cost of the whole IVF family and a non-starter at 100 TB).
    The SQL expression remains the canonical definition: training
    aggregates run on its output, and the kernel is pinned to it
    row-for-row in tests."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def cell(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="int64")
        if from_embedding:
            Xq = _quantize_np(np.array(col.tolist(), dtype=np.float64))
        else:
            Xq = np.array(col.tolist(), dtype=np.int64)
        return pd.Series(_argmin_np(Xq, cents))

    return cell


def _kmeans_train_np(ids, Xq, num_centroids: int, iters: int) -> Cents:
    """Driver-side exact integer Lloyd's k-means over the quantized
    sample — the same arithmetic, step for step, as the distributed
    formulation tests pin it to (``tests/references._kmeans_train``):

    * init = the first ``num_centroids`` vectors by vec_id;
    * assignment = exact int64 squared-L2 argmin, ties to lowest cid
      (``_argmin_np`` — the identical kernel the corpus pass uses);
    * update = component mean ``round(sum / n)`` with int64 sums (exact
      in any order) and SQL half-away-from-zero rounding of the one
      correctly-rounded double division;
    * cells that lose all members drop out.

    Both trainers are pinned equal on real data in
    ``tests/test_llm_ops.py``, and the DuckDB oracle
    (``duckdb_kmeans_cte``) replicates the same steps CTE-for-CTE, so
    the trained index is value-exact across all three formulations.
    """
    order = np.argsort(ids)
    ids, Xq = ids[order], Xq[order]
    # init = the FIRST num_centroids sample vectors by vec_id (round 4:
    # was ``ids < num_centroids``, which silently yielded fewer — or
    # zero — seeds whenever the id space isn't dense from 0, e.g. a
    # filtered corpus; identical on the driver tables, where ids are
    # dense).  The DuckDB CTE (kc0) applies the same ORDER BY/LIMIT.
    cents: Cents = [
        (int(i), [int(v) for v in row])
        for i, row in zip(ids[:num_centroids], Xq[:num_centroids])
    ]
    for _ in range(iters):
        if not cents:
            break
        assign = _argmin_np(Xq, cents)
        new: Cents = []
        for cid in np.unique(assign):
            M = Xq[assign == cid]
            mean = M.sum(axis=0, dtype=np.int64).astype(np.float64) / len(M)
            q = (np.sign(mean) * np.floor(np.abs(mean) + 0.5)).astype(np.int64)
            new.append((int(cid), [int(v) for v in q]))
        cents = sorted(new)
    return cents


def ivf_cells(embeddings: DataFrame, num_centroids: int) -> DataFrame:
    """IVF index build: train integer k-means centroids
    (``_trained_cents``) on the deterministic prefix sample
    ``vec_id < num_centroids * KM_SAMPLE_FACTOR``, then assign every
    vector to its nearest centroid → (vec_id, embedding, cell).

    Cost shape: the Lloyd iterations touch only the MATERIALIZED sample
    (O(C·KM_SAMPLE_FACTOR) rows — the round-3 first cut trained on the
    full corpus, re-quantizing and re-scanning it once per iteration,
    which is both the sf0.1 bench regression and a non-starter at
    100 TB); the corpus itself pays exactly one lazy map-only pass —
    quantize + literal-centroid argmin — fused into whichever job
    consumes the returned DataFrame.  At 100 TB the cell table is then
    written partitioned by ``cell`` so a probe prunes to 1/C of storage
    (same pattern as ``sources.write_partitioned_parquet``).
    """
    return assign_cells(embeddings, _trained_cents(embeddings, num_centroids))


def _trained_cents(embeddings: DataFrame, num_centroids: int) -> Cents:
    """Collect the prefix training sample and run ``KM_ITERS`` Lloyd
    iterations on the driver → centroid list.

    ONE Spark job total: the ``vec_id < sample`` filter and the 2-column
    projection push down to the parquet scan, and what comes back is
    O(C · KM_SAMPLE_FACTOR · dim) values — bounded index metadata by
    construction (the sample size is part of the index definition), so
    collecting it is safe at any corpus size.  Quantization uses
    ``_quantize_np``, pinned row-for-row to the canonical SQL expression.
    The round-3 first cut instead materialized the sample as a DataFrame
    and aggregated each Lloyd iteration as a cluster job — 4+ jobs of
    pure fixed overhead for a 512-row sample."""
    sample = num_centroids * KM_SAMPLE_FACTOR
    rows = (
        embeddings.where(F.col("vec_id") < sample)
        .select("vec_id", "embedding")
        .collect()
    )
    if not rows:
        return []
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    return _kmeans_train_np(ids, _quantize_np(X), num_centroids, KM_ITERS)


def nearest_cells(qe, cents: Cents, nprobe: int) -> list[int]:
    """The ``nprobe`` nearest cell ids for a raw query embedding, in
    deterministic centroid-distance order (exact int64 squared-L2 on the
    quantized query, ties to the lowest cid — the identical arithmetic
    and tie-break as ``_argmin_np``, so ``nearest_cells(qe, cents, 1)``
    IS the cell the corpus-assignment kernel would pick).  Driver-side
    over the C-element centroid list: probing is an index-metadata
    decision, never a cluster job."""
    Xq = _quantize_np(np.array([list(qe)], dtype=np.float64))[0]
    ids = np.array([cid for cid, _ in cents], dtype=np.int64)
    Q = np.array([cq for _, cq in cents], dtype=np.int64)
    d = ((Q - Xq[None, :]) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))  # by distance, ties by cid
    return [int(ids[i]) for i in order[:nprobe]]


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int,
    num_centroids: int = 8,
    nprobe: int = 1,
    cents: Cents | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: probe the query's ``nprobe`` nearest cells, exact cosine
    rerank inside.

    ``nprobe`` is the recall knob (Jégou et al., 'Product Quantization
    for Nearest Neighbor Search', §IVFADC probing): cells are probed in
    deterministic centroid-distance order (``nearest_cells`` — exact
    integer arithmetic, ties to lowest cid), so every setting stays
    deterministic and oracle-checkable; candidate sets are NESTED in
    ``nprobe``, which with the total (score, vec_id) rerank order makes
    recall@k non-decreasing in ``nprobe`` and exactly 1.0 at
    ``nprobe = C`` (pinned in tests against ``brute_force_topk``).
    nprobe=1 remains the default — and the registered query's oracle
    contract.

    After training (bounded-sample jobs, see ``_trained_cents``) the
    probe needs NO JOIN: the query row's embedding is looked up first —
    ``vec_id = query`` pushes down to the parquet scan — the probe
    cells are a driver-side index-metadata decision, and the candidate
    pass is a single ``cell IN (<literals>)`` filter + cosine against
    the (64-element, exactly round-tripped) literal query vector.  This
    is exactly the shape a 100 TB probe wants: prune to nprobe cells of
    an index written partitioned by ``cell`` (see ``ivf_cells``).  The
    round-2/3 alternative — checkpointing the whole cell index per
    query to share it between the lookup and candidate branches — paid
    a corpus write+read to save this one-row lookup.

    ``cents``/``cells`` let a caller running SEVERAL probes over one
    corpus snapshot amortize: train once, assign once (optionally
    materialized), probe many (the round-4+ review measured the
    registered query paying the full train+assign cost once per nprobe
    branch).
    """
    if cents is None:
        cents = _trained_cents(embeddings, num_centroids)
    q = (
        embeddings.where(F.col("vec_id") == query_vec_id)
        .select("embedding")
        .collect()
    )
    if not q or not cents:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id: bigint, score: double"
        )
    qe = q[0]["embedding"]
    probe = nearest_cells(qe, cents, nprobe)
    if cells is None:
        cells = assign_cells(embeddings, cents)
    scored = cells.where(F.col("cell").isin(probe)).select(
        "vec_id", F.expr(V.spark_cosine("embedding", _qe_lit(qe))).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id")).limit(k)


def assign_cells(embeddings: DataFrame, cents: Cents) -> DataFrame:
    """(vec_id, embedding) → (vec_id, embedding, cell): the ONE
    corpus-side cell-assignment projection, shared by ``ivf_cells``,
    ``ivf_topk``, and the IVFADC index build — previously hand-copied at
    every site, the exact drift mode ``text_feature_exprs``'s
    history documents (round-4+ review)."""
    udf = _argmin_cell_udf(cents, from_embedding=True)
    return embeddings.select(
        "vec_id", "embedding", udf(F.col("embedding")).alias("cell")
    )


def _qe_lit(qe) -> str:
    """Exact double-literal array for a collected query embedding:
    shortest-round-trip ``repr`` parsed back via string→double is
    bit-identical to the collected value."""
    return "array({})".format(
        ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in qe)
    )


def lsh_bucketed_topk(
    embeddings: DataFrame, query_vec_id: int, k: int, dim: int = 64
) -> DataFrame:
    """ANN: restrict rerank to the query's LSH bucket, then exact cosine.

    At scale the bucketed table is written once (partitioned by bucket)
    and queries prune to one partition — the scan-everything term drops
    out entirely.
    """
    bucketed = embeddings.withColumn(
        "bucket", lsh_bucket_udf(dim)(F.col("embedding"))
    )
    q = (
        bucketed.where(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket"))
    )
    cands = bucketed.join(
        F.broadcast(q), bucketed["bucket"] == F.col("qbucket")
    )
    scored = cands.select(
        "vec_id", F.expr(V.spark_cosine("embedding", "qe")).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col("vec_id")).limit(k)


# --- deterministic feature-hash embeddings ---------------------------------

FH_SALT = "#fh"  # decorrelates bucket/sign bits from every other decision


def feature_hash_embed(df: DataFrame, dim: int = 64) -> DataFrame:
    """Signed feature hashing (Weinberger et al. '09, "Feature Hashing
    for Large Scale Multitask Learning"): embed the token multiset of
    ``text`` into R^``dim`` as the ``embedding`` column — component i = Σ over tokens with
    bucket(token) = i of sign(token) — making the WHOLE similarity
    stack (brute-force cosine, LSH buckets, IVF cells, PQ codes,
    IVFADC, embedding near-dup) usable over raw text and chunks with
    no external model: the embedding is a pure deterministic function
    of the text, so it is rerun-, partitioning-, and engine-exact
    (integer counts, surfaced as exactly-representable floats and
    replicated verbatim by the DuckDB oracle in the tests).

    Not a learned embedding — inner products approximate token-multiset
    overlap (the hashing-trick guarantee), which is exactly the
    lexical-similarity signal the dedup/retrieval tiers want when no
    model is available.

    100 TB shape: ONE JVM projection per row — one md5 per token
    (bucket AND sign derive from the same hash value: low bits vs the
    next bit up), then an O(dim·n_tokens) fold building the component
    array; no shuffle, no Python, no vocabulary state."""
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    h = H.spark_base_hash(f"t || '{FH_SALT}'")
    hvs = f"transform(fts, t -> {h})"
    acc = (
        f"aggregate({hvs}, "
        f"array_repeat(CAST(0 AS BIGINT), {dim}), "
        f"(acc, hv) -> transform(acc, (v, i) -> v + "
        f"IF(pmod(hv, {dim}) = i, "
        f"IF(pmod(hv div {dim}, 2) = 0, CAST(1 AS BIGINT), "
        f"CAST(-1 AS BIGINT)), CAST(0 AS BIGINT))))"
    )
    expr = H.let(
        H.spark_tokens("text"),
        "fts",
        f"transform({acc}, v -> CAST(v AS FLOAT))",
    )
    return df.withColumn("embedding", F.expr(expr))
