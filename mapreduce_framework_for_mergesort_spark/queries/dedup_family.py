"""Dedup queries — exact, MinHash+LSH (+ clustering + survivors),
SimHash, n-gram Jaccard, embedding-cosine.  The MinHash/SimHash oracles
replicate the *entire* signature pipeline in DuckDB SQL from the same
constants (``functions/hashing.py``), so even the approximate
algorithms get exact cross-engine verification.  Exactness rests on
every signature-feeding operation being order-independent int64
arithmetic with all products < 2^63 (one md5 per shingle → affine
(a·h+b) mod 2^31−1 mins — see the overflow derivation in
``functions/hashing.py``); any change to those expressions must
re-derive that bound, not just preserve md5 calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark import sizing
from mapreduce_framework_for_mergesort_spark.functions import hashing as H
from mapreduce_framework_for_mergesort_spark.functions import vector as V
from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.operators import dedup as D
from mapreduce_framework_for_mergesort_spark.operators import similarity as S
from mapreduce_framework_for_mergesort_spark.operators.materialize import (
    materialize,
    materialize_if_large,
)
from mapreduce_framework_for_mergesort_spark.queries import query

JACCARD_TAU = 0.8
EMBED_TAU = 0.45  # test embeddings are near-orthogonal; 0.45 → ~14 pairs
EMBED_DIM = 64


@query(
    "q_dedup_exact",
    oracle="""
    SELECT text, MIN(doc_id) AS keep_doc_id, COUNT(*) AS dup_count
    FROM documents
    GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dup_groups(load_table(spark, sf_dir, "documents"))


def _duckdb_bands_cte(recursive: bool = False, from_reps: bool = False) -> str:
    """CTE chain documents → shingles → minhash signatures → band rows.

    ``from_reps``: band only exact-dup REPRESENTATIVES (min doc_id per
    distinct text — DuckDB groups by the text itself; the engine groups
    by md5(text), identical sets absent an md5 collision) so the band
    join is quadratic only in NON-identical duplication, mirroring
    ``dedup.exact_rep_ids`` on the engine side."""
    toks = H.duckdb_tokens("text")

    def sig(k: int) -> str:
        a, b = H.MINHASH_AB[k]
        return (
            f"CAST(list_min(list_transform(hs, h -> "
            f"({a} * h + {b}) % {H.MINHASH_P})) AS BIGINT)"
        )

    sigs = ",\n         ".join(
        f"{sig(k)} AS sig{k}" for k in range(H.NUM_MINHASHES)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"{H.duckdb_band([f'CAST(sig{i} AS VARCHAR)' for i in idxs])}"
        f" AS band_val FROM sigs"
        for b, idxs in H.band_slices()
    )
    rep_cte = (
        "reps AS (SELECT MIN(doc_id) AS doc_id, text "
        "FROM documents GROUP BY text),\n    "
        if from_reps
        else ""
    )
    src = "reps" if from_reps else "documents"
    return f"""
    WITH {"RECURSIVE" if recursive else ""} {rep_cte}sh AS (
      SELECT doc_id, {H.duckdb_shingles(toks)} AS sh FROM {src}),
    hs AS (
      SELECT doc_id, sh,
             list_transform(sh, s -> {H.duckdb_base_hash('s')}) AS hs
      FROM sh WHERE len(sh) > 0),
    sigs AS (
      SELECT doc_id,
         {sigs}
      FROM hs),
    bands AS (
      {band_selects})
    """


@query(
    "q_dedup_minhash_pairs",
    oracle=_duckdb_bands_cte(recursive=True, from_reps=True)
    + """,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id),
    exedges AS (
      SELECT r.doc_id AS doc_a, d.doc_id AS doc_b
      FROM documents d
      JOIN reps r ON d.text = r.text
      WHERE d.doc_id > r.doc_id),
    pairs AS (
      SELECT doc_a, doc_b FROM cand
      UNION ALL
      SELECT doc_a, doc_b FROM exedges),
    cedges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN cedges e ON e.u = r.node),
    cl AS (
      SELECT node, MIN(lbl) AS cluster FROM reach GROUP BY node)
    SELECT 'pair' AS part, doc_a, doc_b FROM pairs
    UNION ALL
    SELECT 'cluster' AS part, node AS doc_a, cluster AS doc_b FROM cl
    UNION ALL
    SELECT 'survivor' AS part, cluster AS doc_a, COUNT(*) AS doc_b
    FROM cl GROUP BY cluster
    """,
)
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MinHash near-dedup pipeline in one tagged union (round 3
    added the transitive-closure tiers — candidate PAIRS alone can't
    dedup A~B~C chains):

    * ``pair``     — near-dup edges: LSH band-collision candidates over
                     exact-dup REPRESENTATIVES (round 5 — banding the
                     raw corpus made pair output quadratic in exact
                     duplication, the one superlinear key in
                     ``SCALE_r04.json``), plus one (representative,
                     replica) edge per exact copy
                     (``dedup.exact_dup_edges`` — linear in the corpus,
                     star-graph instead of per-content cliques);
    * ``cluster``  — connected components over those edges
                     (doc_a = doc_id, doc_b = cluster id = smallest
                     doc_id in the component; every document appears,
                     singletons label themselves).  The fixpoint is
                     IDENTICAL to raw-corpus banding: replicas share
                     every band with their representative, so the edge
                     keeps them in the same component transitively;
    * ``survivor`` — one row per cluster (doc_a = surviving doc_id,
                     doc_b = cluster size) — the deterministic
                     min-survivor rule ``q_dedup_exact`` uses, lifted to
                     near-dup clusters.

    The oracle replicates all three tiers: the representative collapse +
    band pipeline in SQL and the clustering as a recursive min-label
    closure (``reach``) — the iterative Spark propagation
    (``dedup.cluster_pairs``) must reach the identical fixpoint, so the
    driver hash-checks an *iterative graph algorithm* value-for-value."""
    docs = load_table(spark, sf_dir, "documents")
    # The hash projection feeds the representative semi-join and the
    # replica edge build; whether to MATERIALIZE it is scale-adaptive
    # (round 7 — the round-6 fixed unmaterialized choice was right at
    # x1/x10 and wrong at x100, see sizing.HASH_MAT_THRESHOLD_BYTES): below
    # the cutoff its consumers re-scan parquet and re-run the JVM md5
    # (~4 cheap codegen passes, 2.6→2.4 s warm at sf0.1) instead of
    # paying a checkpoint write+read on the critical path before
    # banding can start; above it the re-scans dominate and the
    # checkpoint wins.  The rejected alternative (band EVERYTHING and
    # let the md5 ride the band kernel's projection, one
    # materialization total) measured 2.3 s at ×1 but 6.8 s at ×10: on
    # a replica-heavy corpus the checkpoint then carries every
    # replica's band array, exactly the volume the collapse exists to
    # avoid.
    hashed = materialize_if_large(
        D.content_hashes(docs), docs, sizing.HASH_MAT_THRESHOLD_BYTES
    )
    rep_docs = docs.join(
        D.exact_rep_ids(docs, hashed=hashed), "doc_id", "semi"
    )
    # band-pair doc_b is always a representative, exact-edge doc_b never
    # is — the two edge sets are disjoint, so no distinct() needed
    pairs = materialize(
        D.lsh_candidate_pairs(D.minhash_bands(rep_docs)).unionByName(
            D.exact_dup_edges(docs, hashed=hashed)
        )
    )
    clusters = D.cluster_pairs(pairs, nodes=docs.select("doc_id"))
    surv = D.cluster_survivors(clusters)
    lit = F.lit
    return (
        pairs.select(lit("pair").alias("part"), "doc_a", "doc_b")
        .unionByName(
            clusters.select(
                lit("cluster").alias("part"),
                F.col("node").alias("doc_a"),
                F.col("cluster").alias("doc_b"),
            )
        )
        .unionByName(
            surv.select(
                lit("survivor").alias("part"),
                F.col("keep_doc_id").alias("doc_a"),
                F.col("cluster_size").alias("doc_b"),
            )
        )
    )


@query(
    "q_dedup_simhash",
    oracle=f"""
    WITH sigs AS (
      SELECT doc_id, {H.duckdb_simhash(H.duckdb_tokens("text"))} AS simhash
      FROM documents),
    reps AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
    sbands AS (
      SELECT s.doc_id, s.simhash, b.band_id,
             (s.simhash >> (b.band_id * {D.SIMHASH_BAND_BITS}))
               & {(1 << D.SIMHASH_BAND_BITS) - 1} AS band_val
      FROM sigs s JOIN reps USING (doc_id) CROSS JOIN
           (SELECT unnest(range(0, {D.SIMHASH_NUM_BANDS})) AS band_id) b),
    spairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sbands a
      JOIN sbands b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {D.SIMHASH_R})
    SELECT 'sig' AS part, doc_id AS doc_a, doc_id AS doc_b, simhash AS val
    FROM sigs
    UNION ALL
    SELECT 'pair' AS part, doc_a, doc_b, hamming AS val FROM spairs
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash tier as a tagged union (round 4 added the pair tier —
    signatures alone generate no candidates):

    * ``sig``  — per-doc 48-bit signature (doc_a = doc_b = doc_id,
                 val = simhash; 16-bit through round 3 — widened because
                 the 10× sweep measured the 2^16 space quadratic);
    * ``pair`` — hamming-near pairs via the banded join over exact-dup
                 REPRESENTATIVES (min doc_id per distinct text, round 5 —
                 raw-corpus banding made this the one superlinear key in
                 ``SCALE_r04.json``: 17.9× at 10× on a replica-heavy
                 corpus, pair output quadratic in exact duplication;
                 identical text ⇒ identical simhash, so no cross-content
                 pair is lost and replicas are recoverable from the
                 ``sig`` branch).  val = exact hamming distance ≤ 3;
                 4 bands × 12 bits make the banding COMPLETE for r ≤ 3
                 (pigeonhole), so unlike MinHash this candidate generator
                 is exact and the oracle replicates the whole tier —
                 including the collapse — value-for-value.  The raw
                 (uncollapsed) form stays available as the operator
                 default (``dedup.simhash_candidate_pairs(docs)``) for
                 explicitly-bounded diagnostics.
    """
    docs = load_table(spark, sf_dir, "documents")
    # ONE signature-kernel pass: the materialized (doc_id, simhash,
    # __h) table feeds the sig branch AND the pair tier's
    # representative collapse + band build — the md5 rides the same
    # projection, so the corpus is scanned once
    sigs_h = materialize(D.simhash_signatures(docs, with_text_md5=True))
    sigs = sigs_h.select("doc_id", "simhash")
    rep_sigs = sigs.join(
        sigs_h.groupBy("__h").agg(F.min("doc_id").alias("doc_id")),
        "doc_id",
        "semi",
    )
    pairs = D.simhash_candidate_pairs(docs, signatures=rep_sigs)
    lit = F.lit
    return sigs.select(
        lit("sig").alias("part"),
        F.col("doc_id").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("val"),
    ).unionByName(
        pairs.select(
            lit("pair").alias("part"),
            "doc_a",
            "doc_b",
            F.col("hamming").alias("val"),
        )
    )


@query(
    "q_dedup_ngram_jaccard",
    oracle=_duckdb_bands_cte(from_reps=True)
    + f""",
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
           AND a.doc_id < b.doc_id),
    e AS (
      SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
      FROM sh WHERE len(sh) > 0),
    p AS (
      SELECT c.doc_a, c.doc_b,
             COUNT(*) AS inter,
             any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb
      FROM cand c
      JOIN e a ON a.doc_id = c.doc_a
      JOIN e b ON b.doc_id = c.doc_b AND a.s = b.s
      GROUP BY 1, 2),
    exedges AS (
      SELECT r.doc_id AS doc_a, d.doc_id AS doc_b
      FROM documents d
      JOIN reps r ON d.text = r.text
      WHERE d.doc_id > r.doc_id),
    {D.duckdb_dup_spans_cte()},
    {D.duckdb_strip_cte()},
    strip_rows AS (
      SELECT doc_id, stripped_text, n_tokens,
             len(regexp_extract_all(stripped_text,
                 '{H.TOKEN_CLASS_DUCKDB}')) AS n_kept
      FROM stripped)
    SELECT 'pair' AS part, doc_a, doc_b,
           CAST(inter AS DOUBLE) / (na + nb - inter) AS val,
           CAST(NULL AS DOUBLE) AS val2
    FROM p
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_TAU}
    UNION ALL
    SELECT 'pair' AS part, doc_a, doc_b,
           CAST(1 AS DOUBLE) AS val, CAST(NULL AS DOUBLE) AS val2
    FROM exedges
    UNION ALL
    SELECT 'span' AS part, doc_id AS doc_a,
           CAST(span_start AS BIGINT) AS doc_b,
           CAST(span_end AS DOUBLE) AS val,
           CAST(n_dup_pos AS DOUBLE) AS val2
    FROM spans
    UNION ALL
    SELECT 'strip' AS part, doc_id AS doc_a,
           {H.duckdb_base_hash('stripped_text')} AS doc_b,
           CAST(n_kept AS DOUBLE) AS val,
           CAST(n_tokens - n_kept AS DOUBLE) AS val2
    FROM strip_rows
    WHERE n_kept < n_tokens
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical near-dup as a tagged union (round 4 added the ``span``
    tier):

    * ``pair`` — LSH band candidates over exact-dup REPRESENTATIVES →
      exact 3-gram Jaccard verification ≥ τ (doc_a/doc_b = the pair,
      val = jaccard), plus one (representative, replica) edge per
      byte-identical copy with val = 1.0 (round 5 — the same collapse
      as the minhash/simhash tiers: replicas of a verified pair would
      re-verify identical shingle sets for a guaranteed jaccard of 1,
      quadratic in duplication; identical text has Jaccard 1 by
      definition, including shingle-less short docs the banded tier
      cannot see);
    * ``span`` — position-level duplicate-substring spans (Lee et
      al. '21 reformulated as positional k-gram matching, k=8):
      doc_a = doc_id, doc_b = span start (token index), val = span
      end, val2 = duplicated-window count inside the span;
    * ``strip`` — the REMOVAL step (first-occurrence-wins rewrite,
      ``dedup.strip_dup_spans``), one row per doc that lost tokens:
      doc_b = 32-bit md5 fingerprint of the rewritten text (pins the
      exact post-strip content), val = kept tokens, val2 = removed.

    All tiers replicate fully in the oracle's SQL — the driver
    hash-checks every span boundary and rewritten-content fingerprint
    value-for-value."""
    docs = load_table(spark, sf_dir, "documents")
    lit = F.lit
    # Exact-dup representative collapse, same round-5 treatment as the
    # minhash/simhash pair tiers: band + Jaccard-verify only one doc
    # per distinct text (replicas of a verified pair would re-verify
    # the identical shingle sets — quadratic in duplication for a
    # guaranteed jaccard of 1), and re-attach replicas through linear
    # (representative, replica) edges with val = 1.0 — byte-identical
    # text has Jaccard 1 by definition (including docs too short to
    # shingle, which the banded tier can't even see).
    # The two tier chains are independent up to their eager
    # materializations (pair: content hashes → bands → candidates;
    # span/strip: gram flags) — build them on two driver threads so
    # the blocking checkpoints overlap instead of serializing
    # (concurrent job submission is the q_profile_stats pattern; the
    # cluster schedules the jobs side by side)
    from concurrent.futures import ThreadPoolExecutor

    def _pair_chain():
        # scale-adaptive hash projection — same measured trade as the
        # minhash key: cheap codegen re-scans beat a corpus checkpoint
        # while the corpus is small, and lose at x100
        hashed = materialize_if_large(
            D.content_hashes(docs), docs, sizing.HASH_MAT_THRESHOLD_BYTES
        )
        rep_docs = docs.join(
            D.exact_rep_ids(docs, hashed=hashed), "doc_id", "semi"
        )
        return hashed, D.ngram_jaccard_pairs(rep_docs, JACCARD_TAU)

    def _flags_chain():
        # one tokenize→window→hash pass AND one per-gram shuffle feed
        # both span branches (round 6: the shared pass moved up a
        # level — flags, not raw grams, so neither branch re-shuffles
        # on g)
        return materialize(D.positional_gram_flags(docs))

    with ThreadPoolExecutor(2) as ex:
        f_pair = ex.submit(_pair_chain)
        f_flags = ex.submit(_flags_chain)
        hashed, jac = f_pair.result()
        flags = f_flags.result()
    pairs = (
        jac.select("doc_a", "doc_b", F.col("jaccard").alias("val"))
        .unionByName(
            D.exact_dup_edges(docs, hashed=hashed).select(
                "doc_a", "doc_b", lit(1.0).alias("val")
            )
        )
        .select(
            lit("pair").alias("part"),
            "doc_a",
            "doc_b",
            "val",
            lit(None).cast("double").alias("val2"),
        )
    )
    spans = D.dup_spans(docs, flags=flags).select(
        lit("span").alias("part"),
        F.col("doc_id").alias("doc_a"),
        F.col("span_start").cast("bigint").alias("doc_b"),
        F.col("span_end").cast("double").alias("val"),
        F.col("n_dup_pos").cast("double").alias("val2"),
    )
    strips = (
        D.strip_dup_spans(docs, flags=flags)
        .where(F.col("n_kept_tokens") < F.col("n_tokens"))
        .select(
            lit("strip").alias("part"),
            F.col("doc_id").alias("doc_a"),
            F.expr(H.spark_base_hash("stripped_text")).alias("doc_b"),
            F.col("n_kept_tokens").cast("double").alias("val"),
            (F.col("n_tokens") - F.col("n_kept_tokens"))
            .cast("double")
            .alias("val2"),
        )
    )
    return pairs.unionByName(spans).unionByName(strips)


NUM_CELLS = 8


@query(
    "q_dedup_embedding",
    oracle=f"""
    WITH {S.duckdb_kmeans_cte(EMBED_DIM, NUM_CELLS)}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {V.duckdb_cosine('a.embedding', 'b.embedding', EMBED_DIM)} AS cosine
    FROM cells a
    JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE {V.duckdb_cosine('a.embedding', 'b.embedding', EMBED_DIM)} >= {EMBED_TAU}
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell-blocked embedding near-dup pairs: same-cell exact cosine
    ≥ τ.  The cells are TRAINED (integer k-means, round 3 — see
    ``operators/similarity._trained_cents``) yet the whole pipeline
    stays value-exact: training, assignment, and scoring are all
    replicated in the oracle's CTE chain."""
    return D.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), EMBED_TAU, NUM_CELLS
    )
