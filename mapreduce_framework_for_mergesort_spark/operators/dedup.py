"""Deduplication operators for training-data pipelines.

The reference deduplicates only *task results* (redundant speculative
copies racing, ``Server.java:262,444-446``) — data-level dedup is a
north-star extension (``BASELINE.json``).  Six tiers, cheapest first:

1. exact           — hash groupBy on content (one shuffle on the key)
2. minhash + LSH   — near-dup *candidates* without any pairwise compare
3. simhash         — per-doc bit signature; hamming-near pairs
4. n-gram jaccard  — exact set similarity for candidate verification
5. embedding cos   — semantic near-dup (exact small-N; LSH path at scale)
6. substring spans — position-level: repeated k-token windows → merged
   spans (profile/filter) + first-occurrence-wins removal; tiers 1-5
   decide KEEP/DROP per doc, tier 6 rewrites within docs

Scale posture (100 TB): the only all-pairs computation here
(``embedding_near_dup_pairs``) is the *verification* tier — at scale you
run tiers 2/3 first so the candidate set is tiny, then verify exactly.
MinHash/LSH costs one explode (docs × bands) + one equi-join on band
value — the canonical web-scale dedup shape (Broder '97); band-value
hotspots (boilerplate docs) are AQE-skew-split and can be salted by
band_id, which is already part of the join key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark import sizing
from mapreduce_framework_for_mergesort_spark.functions import hashing as H
from mapreduce_framework_for_mergesort_spark.functions import vector as V
from mapreduce_framework_for_mergesort_spark.operators.materialize import (
    materialize as _materialize,
)


def exact_dup_groups(documents: DataFrame) -> DataFrame:
    """Distinct-content summary: ONE row per distinct ``text`` —
    including contents that appear once — with the deterministic
    survivor (min doc_id) and ``dup_count`` = total copies (so 1 means
    *no* duplicates; filter ``dup_count > 1`` for groups that actually
    have them — not ``> 0``, which selects the whole corpus)."""
    return documents.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def content_hashes(documents: DataFrame) -> DataFrame:
    """(doc_id, __h = md5(text)) — the one corpus hashing pass the
    exact-dup helpers share.  Materialize it when both
    ``exact_rep_ids`` and ``exact_dup_edges`` are needed (the
    registered minhash key does) so the corpus is hashed once."""
    return documents.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("__h")
    )


def exact_rep_ids(
    documents: DataFrame, hashed: DataFrame | None = None
) -> DataFrame:
    """One representative id per distinct document content: the smallest
    ``doc_id`` among rows sharing ``md5(text)`` — the deterministic survivor
    rule ``exact_dup_groups`` uses, reduced to just the id column.

    This is the exact-dup collapse the near-dup tiers band AFTER: on a
    replica-heavy corpus a pair tier over raw documents emits (and pays
    for) ``m·(m-1)/2`` pairs per m-replica content — quadratic in exact
    duplication — while the representative set shrinks the tier's input
    by the duplication factor and its pair output by that factor
    squared.  Identical text produces identical bands/signatures, so no
    cross-content candidate is lost by banding representatives only.
    One hash aggregate on a 16-byte key; scale-safe.  ``hashed``
    injects a shared ``content_hashes`` pass."""
    if hashed is None:
        hashed = content_hashes(documents)
    return hashed.groupBy("__h").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )


def exact_dup_edges(
    documents: DataFrame, hashed: DataFrame | None = None
) -> DataFrame:
    """(doc_a = representative, doc_b = replica) for every NON-
    representative row — the linear-in-corpus edge set that reconnects
    exact replicas to their representative after a pair tier has been
    collapsed to representatives (``exact_rep_ids``).  Feeding
    ``rep_pairs ∪ exact_dup_edges`` to ``cluster_pairs`` reaches the
    IDENTICAL component fixpoint as banding the raw corpus (replicas
    share every band with their representative, so raw banding connects
    them directly; via the edge they stay connected transitively), at
    star-graph cost instead of per-content cliques.  ``hashed``
    injects a shared ``content_hashes`` pass."""
    if hashed is None:
        hashed = content_hashes(documents)
    reps = hashed.groupBy("__h").agg(F.min("doc_id").alias("__rep"))
    return (
        hashed.join(reps, "__h")
        .where(F.col("doc_id") > F.col("__rep"))
        .select(
            F.col("__rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
    )


def _with_shingles(documents: DataFrame) -> DataFrame:
    # spark_shingles let-binds the token list internally, so the regexp
    # tokenizer runs once per doc even though Catalyst's CollapseProject
    # would otherwise inline it into every lambda consumer.
    return documents.withColumn(
        "__sh", F.expr(H.spark_shingles(H.spark_tokens("text")))
    )


def minhash_bands(documents: DataFrame) -> DataFrame:
    """doc_id → (band_id, band_val) rows: the LSH index.

    Signature k = min over shingles of the Carter–Wegman affine hash
    ``(a_k · md5_32(shingle) + b_k) mod (2^31−1)`` — ONE md5 per
    shingle, all ``NUM_MINHASHES`` signatures by exact-int64 integer
    math (see ``functions/hashing.py``); bands of ``BAND_ROWS``
    signatures are collapsed to one md5.  Docs with no shingles
    (< n tokens) produce no rows: they have no content to collide on.

    The whole tokenize→shingle→hash→band pipeline runs in one Arrow
    kernel (``band_structs_udf``, pinned to the canonical SQL
    expression ``tests/references.spark_band_structs``).  Per-row,
    shuffle-free; the only shuffle in the dedup pipeline is the
    downstream band-value join.
    """
    return documents.select(
        "doc_id",
        F.explode(H.band_structs_udf()(F.col("text"))).alias("__band"),
    ).select(
        "doc_id",
        F.col("__band.band_id").alias("band_id"),
        F.col("__band.band_val").alias("band_val"),
    )


def lsh_candidate_pairs(
    bands: DataFrame, materialize: bool = True
) -> DataFrame:
    """Docs sharing any band → candidate near-dup pair (a < b), distinct.

    Equi-join on (band_id, band_val): band_id in the key spreads each
    doc's bands across partitions; hot band values are AQE-skew-split.

    The band index is materialized before the self-join — otherwise
    both join sides recompute the full signature pipeline (measured 2x
    cost).  Policy lives in ``operators/materialize.py``: a RELIABLE
    ``df.checkpoint`` when the session has a checkpoint dir configured
    (at 1000-executor scale unreplicated local blocks are lost on any
    executor decommission — round-2 advisory), executor-local checkpoint
    otherwise (blocks reclaimed with the DataFrame by the
    ContextCleaner — no caller-side release protocol, unlike the
    round-1 ``persist()`` leak).  At real scale this materialization is
    the LSH *index build*, normally written to a table once and joined
    many times — pass ``materialize=False`` when ``bands`` is already
    stored.
    """
    if materialize:
        bands = _materialize(bands)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


#: Hash-min budget before ``cluster_pairs`` falls back to star
#: contraction: clique-ish dedup graphs settle in <= ~4 rounds, and a
#: graph still moving after 8 has a long diameter, exactly star's
#: territory.
HASH_MIN_ROUNDS = 8

#: Star-contraction budget: O(log² n) rounds converge far past any
#: candidate graph this engine builds (a diameter-400 path takes <= 10).
STAR_ROUNDS = 40


def cluster_pairs(pairs: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """Connected components over an undirected ``(doc_a, doc_b)`` pair list → one row per
    node with ``cluster`` = the smallest node id reachable from it (the
    component's canonical label).  This is the step every near-dedup
    pipeline needs after candidate/verified PAIRS: transitive closure
    into duplicate CLUSTERS, so exactly one document per cluster
    survives (A~B and B~C must collapse to one survivor even when A~C
    was never emitted as a pair).

    Three algorithms, tried in order, all returning the identical
    fixpoint (pinned against each other and a union-find reference in
    property tests):

    * driver union-find — when the candidate graph has at most
      ``sizing.DRIVER_UF_MAX_EDGES`` symmetric edges, one collect and
      one union-find pass (round 13: every distributed round costs a
      checkpoint job + a convergence-probe job, ~1.4 s of pure
      scheduling for a 251-edge fixture graph).  The routing probe is
      a bounded ``limit(cap + 1).count()`` over the already
      checkpointed edge blocks, so a big graph never pays a full count.
    * ``hash_min`` — label propagation for ``HASH_MIN_ROUNDS`` rounds:
      labels start as each node's own id; each round every node takes
      the min of its label and its neighbors' labels.  Rounds needed =
      min-label propagation diameter — ideal for dedup graphs, which
      are dense clique-ish clusters with tiny diameters; one equi-join
      + one map-side-partial min aggregation per round.
    * ``star`` — when hash-min exhausts its budget: alternating
      large-star/small-star contraction (Kiveris et al. '14) for up to
      ``STAR_ROUNDS`` rounds: each round rewires every node's strictly
      larger neighbors to its neighborhood min (large-star), then its
      smaller neighbors and itself (small-star).  Converges in
      O(log² n) rounds — ~7 for a diameter-100 path where hash-min
      needs ~100 — at the price of two join+agg+distinct passes per
      round.  Long-diameter graphs get a guaranteed answer; typical
      dedup graphs never pay star's extra per-round cost.

    Per round both distributed algorithms materialize their state
    (lineage cut — iterative plans otherwise re-execute the whole
    prefix each round) and state is sized by the CANDIDATE GRAPH, never
    the corpus.  The convergence probes are ``limit(1)`` runs, not full
    counts.

    ``nodes`` (optional, one id column): the full vertex set — nodes
    with no pairs become singleton clusters of themselves, which is what
    a dedup survivor pass wants (documents with no near-dups survive).
    Singletons take a SHORTCUT: a node in no pair can never change
    label, so the iteration runs only over pair-participating nodes
    (≤ 2·|pairs| of them) and the singleton rows are unioned in lazily
    at the end.  This is the property that makes the operator viable at
    100 TB — per-round state is sized by the CANDIDATE GRAPH, never the
    corpus; without it every round would checkpoint a corpus-sized
    label table.  Default ``nodes``: only nodes appearing in ``pairs``.
    """
    e = pairs.select(
        F.col("doc_a").cast("long").alias("u"),
        F.col("doc_b").cast("long").alias("v"),
    )
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # Self-loops carry no connectivity: the algorithms run on the
    # loop-free graph (star contraction would otherwise DROP a node
    # whose only pair is (x, x) — its edge set empties after round 1),
    # and loop-only nodes rejoin through the singleton union below.
    edges = _materialize(sym.where(F.col("u") != F.col("v")))
    verts = edges.select(F.col("u").alias("node")).distinct()
    base = (
        nodes.select(F.col(nodes.columns[0]).cast("long").alias("node"))
        if nodes is not None
        else sym.select(F.col("u").alias("node")).distinct()
    )
    singletons = base.join(verts, "node", "left_anti").select(
        "node", F.col("node").alias("cluster")
    )
    cap = sizing.DRIVER_UF_MAX_EDGES
    if edges.limit(cap + 1).count() <= cap:
        labels = _driver_uf_labels(edges)
    else:
        labels = _hashmin_labels(edges, HASH_MIN_ROUNDS)
        if labels is None:
            labels = _star_labels(edges, STAR_ROUNDS)
    return labels.unionByName(singletons)


def _driver_uf_labels(edges: DataFrame) -> DataFrame:
    """Min-label connected components by driver-side union-find over a
    bounded symmetric edge list — identical fixpoint to the
    distributed algorithms (a component's label is its smallest node
    id), one collect + one createDataFrame instead of per-round jobs."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges.select("u", "v").toLocalIterator():
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # second pass: component min == the min-id root by construction
    # (unions always point the larger root at the smaller)
    labels = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(
        labels, "node bigint, cluster bigint"
    )


def _hashmin_labels(edges: DataFrame, max_iters: int) -> DataFrame | None:
    """Hash-min propagation over a symmetric edge list → (node, cluster)
    at the fixpoint, or ``None`` when ``max_iters`` rounds weren't
    enough (the caller falls back to star contraction)."""
    # Fused round 0: starting from identity labels, the first
    # propagation yields exactly min(node, min(neighbors)) — computable
    # straight from the edge list with one aggregation, no identity
    # label table to build, join against, and checkpoint first.
    labels = _materialize(
        edges.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("mv")).alias("cluster"),
        )
    )
    changed = 1
    for _ in range(max_iters):
        prop = edges.join(
            labels, edges["v"] == labels["node"]
        ).select(F.col("u").alias("node"), "cluster")
        new = _materialize(
            labels.union(prop).groupBy("node").agg(
                F.min("cluster").alias("cluster")
            )
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.cluster") != F.col("o.cluster"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    return None


def _sym_edges(directed: DataFrame) -> DataFrame:
    """(a, b) rows → distinct symmetric (u, v) edge set, self-loops
    dropped."""
    e = directed.where(F.col("a") != F.col("b"))
    return (
        e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .distinct()
    )


def _star_labels(edges: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    'Connected Components in MapReduce and Beyond', SoCC '14) over a
    symmetric edge list → (node, cluster) labels.

    Per round, with m(u) = min of u's closed neighborhood Γ(u) ∪ {u}:

    * large-star rewires every STRICTLY LARGER neighbor of u to m(u):
      emit (v, m(u)) for v ∈ Γ(u), v > u.  Each undirected edge is
      processed from its smaller endpoint's side only, so the output
      never exceeds the input edge count.
    * small-star rewires every smaller-or-equal neighbor AND u itself:
      emit (v, m(u)) for v ∈ Γ(u), v < u, plus (u, m(u)).

    Both emit only (node, smaller-id) edges, so ids monotonically
    contract toward component minima; the paper proves each component
    converges to a star centered at its minimum in O(log² n) rounds
    (observed ~log₂ diameter for paths — the property test pins a
    diameter-400 path at ≤ 10 rounds).  Convergence = the edge set is
    a fixpoint of the large+small round, checked with two anti-join
    ``limit(1)`` probes.  At the fixpoint every component is a star, so
    labels fall out of one aggregation: min neighbor (the center), or
    the node itself for centers.

    Shapes at 100 TB match hash-min's discipline: per round two
    groupBy-min aggregations (map-side partials) + two equi-joins on
    node id + the distincts that keep the edge set a set, all sized by
    the candidate graph; state materialized per round (lineage cut).
    """
    if edges.limit(1).count() == 0:
        return edges.select(
            F.col("u").alias("node"), F.col("v").alias("cluster")
        )
    E = edges
    for _ in range(max_iters):
        # large-star: neighbors v > u rewired to m(u)
        mins = (
            E.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        ls = (
            E.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        E1 = _materialize(_sym_edges(ls))
        # small-star: neighbors v < u, and u itself, rewired to m(u)
        mins2 = (
            E1.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        ss = (
            E1.join(mins2, "u")
            .where(F.col("v") < F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(
                mins2.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        )
        E2 = _materialize(_sym_edges(ss))
        changed = (
            E2.join(E, ["u", "v"], "left_anti").limit(1).count()
            + E.join(E2, ["u", "v"], "left_anti").limit(1).count()
        )
        E = E2
        if changed == 0:
            # fixpoint: every component is a star around its minimum
            return E.groupBy("u").agg(F.min("v").alias("mv")).select(
                F.col("u").alias("node"),
                F.least(F.col("u"), F.col("mv")).alias("cluster"),
            )
    raise RuntimeError(
        f"star contraction did not converge within {max_iters} rounds"
        f" — not expected below 2^(sqrt({max_iters})) nodes"
    )


DEFAULT_EMBED_TAU = 0.9  # paraphrase-grade cosine for the semantic tier


def near_dup_pair_tiers(
    documents: DataFrame,
    tiers: tuple[str, ...] = ("minhash",),
    embeddings: DataFrame | None = None,
    embed_tau: float = DEFAULT_EMBED_TAU,
    num_centroids: int = 8,
) -> DataFrame:
    """Union of candidate near-dup pairs from the selected tiers, as
    distinct (doc_a, doc_b) rows — the pluggable candidate-generation
    front of the dedup pipeline:

    * ``minhash``   — LSH band collisions (lexical near-dups);
    * ``simhash``   — hamming-near banded signatures (lexical, exact
                      for r ≤ 3);
    * ``embedding`` — IVF-cell-blocked cosine ≥ ``embed_tau``
                      (SEMANTIC near-dups: paraphrases MinHash's
                      shingle overlap can't see).  Requires
                      ``embeddings`` (vec_id, embedding) keyed by the
                      same id space as ``documents.doc_id``; vectors for
                      documents not in ``documents`` are semi-joined
                      away FIRST, so a pair can never resurrect a
                      filtered-out document (or hand the cluster
                      survivor role to one).

    Every tier is blocked (bands / cells) — unioning them unions
    candidate sets, never changes any tier's shape, so the composition
    scales exactly as its worst member."""
    known = {"minhash", "simhash", "embedding"}
    bad = set(tiers) - known
    if bad:
        raise ValueError(f"unknown dedup tiers {sorted(bad)}; known: {sorted(known)}")
    frames: list[DataFrame] = []
    if "minhash" in tiers:
        frames.append(
            lsh_candidate_pairs(minhash_bands(documents)).select(
                "doc_a", "doc_b"
            )
        )
    if "simhash" in tiers:
        frames.append(
            simhash_candidate_pairs(documents).select("doc_a", "doc_b")
        )
    if "embedding" in tiers:
        if embeddings is None:
            raise ValueError("the 'embedding' tier requires an embeddings table")
        emb = embeddings.join(
            documents.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
        )
        frames.append(
            embedding_near_dup_pairs(emb, embed_tau, num_centroids).select(
                F.col("vec_a").alias("doc_a"),
                F.col("vec_b").alias("doc_b"),
            )
        )
    if not frames:
        raise ValueError("at least one dedup tier is required")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.distinct() if len(frames) > 1 else out


def near_dedup_documents(
    documents: DataFrame,
    tiers: tuple[str, ...] = ("minhash",),
    embeddings: DataFrame | None = None,
    embed_tau: float = DEFAULT_EMBED_TAU,
    embed_cells: int = 8,
) -> DataFrame:
    """End-to-end near-dedup: keep exactly ONE document per near-dup
    cluster (the smallest ``doc_id`` in the component) and every document
    with no near-dups.  Exact duplicates collapse too — identical text
    yields identical bands, so exact-dup pairs are always candidates.

    ``tiers``/``embeddings`` select the candidate generators
    (``near_dup_pair_tiers``) — pairs from all tiers feed ONE
    clustering, so a doc lexically near A and semantically near B
    collapses all three into one survivor.

    When every tier is lexical, the EXACT tier runs first: documents
    collapse to one representative per distinct md5(text) (min
    ``doc_id``) and every downstream tier sees only representatives — on
    a replica-heavy corpus each tier's input shrinks by the duplication
    factor and its pair set by its square (measured 15.5 s → 3.3 s on
    the 10× replica corpus, identical kept set).  The kept set is
    IDENTICAL for the lexical tiers: identical text yields identical
    bands AND an identical simhash, so replicas always share a component
    with their representative and a component's min ``doc_id`` is always
    a representative (pinned in tests).  With the ``embedding`` tier the
    collapse is skipped, because a NON-representative replica's VECTOR
    could introduce a semantic pair its representative's vector misses.

    Composition of the tiered pipeline in its scale shapes: blocked
    candidates (no all-pairs), connected components (candidate-graph-
    sized state), then a semi-join of the corpus against the survivor
    ids — the corpus itself is never shuffled by the clustering."""
    pool = documents
    if "embedding" not in tiers:
        # no broadcast hint: the rep id set is distinct-content-sized
        # (corpus-scale in the worst case) — AQE picks broadcast when
        # it actually fits
        pool = documents.join(exact_rep_ids(documents), "doc_id", "semi")
    pairs = near_dup_pair_tiers(pool, tiers, embeddings, embed_tau, embed_cells)
    clusters = cluster_pairs(pairs, nodes=pool.select("doc_id"))
    keep = cluster_survivors(clusters).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    return documents.join(keep, "doc_id", "semi")


def cluster_survivors(clusters: DataFrame) -> DataFrame:
    """Per-cluster survivor summary over ``cluster_pairs`` output: the
    canonical label IS the surviving doc id (smallest in the component —
    the same deterministic min-survivor rule ``exact_dup_groups`` uses),
    plus the cluster size.  One hash aggregate, map-side partials."""
    return clusters.groupBy(F.col("cluster").alias("keep_doc_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )


def simhash_signatures(
    documents: DataFrame, with_text_md5: bool = False
) -> DataFrame:
    """Per-doc 48-bit simhash (majority vote over token-md5 bit
    columns), via the Arrow kernel (``simhash_udf`` — identical
    definition as the canonical SQL expression it is pinned to).

    ``with_text_md5`` appends ``__h = md5(text)`` in the SAME
    projection, so a caller that also needs the exact-dup
    representative collapse (the registered pair tier) derives it from
    this one materialized pass instead of rescanning the corpus.

    The kernel runs over DISTINCT texts and joins back on md5(text)
    (round 6 — the same replica collapse as ``positional_ngrams``): a
    signature is a pure function of the text, and on replica-heavy
    corpora the per-batch token memo cannot fire across file-appended
    copies that never share an Arrow batch, so distinct-collapsing the
    kernel input divides its cost by the duplication factor (the 100×
    spot-check's simhash floor was exactly this kernel).

    NULL contract (round 7, advisory): a NULL-text document keeps its
    row with signature 0 — exactly what the canonical
    ``tests/references.spark_simhash`` expression (and the DuckDB oracle
    CTE) yields on NULL text, since every bit term's CASE falls through
    to 0 on a NULL count.  Round 6's plain inner join silently dropped
    those rows (``md5(NULL)`` is NULL, and inner equi-joins
    null-filter), disagreeing with ``text.per_content``'s eqNullSafe
    contract for the same collapse — the join below is eqNullSafe like
    ``per_content``, and the kernel itself guards None."""
    hashed = documents.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("__h")
    )
    reps = (
        documents.select(
            F.md5(F.col("text").cast("binary")).alias("__h"), "text"
        )
        .dropDuplicates(["__h"])
        .select(
            F.col("__h").alias("__h_r"),
            H.simhash_udf()(F.col("text")).alias("simhash"),
        )
    )
    joined = hashed.join(reps, F.col("__h").eqNullSafe(F.col("__h_r")))
    cols = [F.col("doc_id"), F.col("simhash")]
    if with_text_md5:
        cols.append(F.col("__h"))
    return joined.select(*cols)


# 48-bit signature split into 4 bands of 12 bits.  Pigeonhole: two
# signatures at hamming distance ≤ SIMHASH_NUM_BANDS − 1 MUST agree on
# at least one whole band, so the banded equi-join below is a COMPLETE
# candidate generator for r ≤ 3 — unlike MinHash banding, which is
# probabilistic, this tier is exact end-to-end and carries a full
# value oracle.  12-bit bands give 4096 buckets per band, so random
# 50 K-doc corpora don't collide (the 10× sweep measured the original
# 4-bit bands at 841 s — quadratic in bucket occupancy).
SIMHASH_NUM_BANDS = 4
SIMHASH_BAND_BITS = H.SIMHASH_BITS // SIMHASH_NUM_BANDS
SIMHASH_R = SIMHASH_NUM_BANDS - 1  # largest r the banding is complete for


def simhash_bands(signatures: DataFrame) -> DataFrame:
    """(doc_id, simhash) → one (doc_id, band_id, band_val) row per band:
    band b is the b-th 12-bit slice of the signature, extracted with
    shift and mask — pure codegen arithmetic, no Python, no shuffle."""
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band_id"),
                F.expr(
                    f"(simhash >> {b * SIMHASH_BAND_BITS}) & {mask}"
                ).alias("band_val"),
            )
            for b in range(SIMHASH_NUM_BANDS)
        ]
    )
    return signatures.select(
        "doc_id", "simhash", F.explode(bands).alias("__b")
    ).select(
        "doc_id",
        "simhash",
        F.col("__b.band_id").alias("band_id"),
        F.col("__b.band_val").alias("band_val"),
    )


def simhash_candidate_pairs(
    documents: DataFrame, signatures: DataFrame | None = None
) -> DataFrame:
    """Hamming-near simhash pairs (doc_a < doc_b, hamming ≤
    ``SIMHASH_R``) via the banded join: docs sharing any 12-bit band are
    candidates; the exact hamming distance (``bit_count(a XOR b)`` — one
    codegen instruction) verifies.  The result is EXACTLY the set of all
    pairs at hamming ≤ ``SIMHASH_R`` (banding completeness above), so no
    all-pairs comparison is ever needed and the operator stays
    value-oracle-able.

    Scale shape mirrors ``lsh_candidate_pairs``: one explode (4 rows per
    doc) + one equi-join on (band_id, band_val); band_id rides the join
    key, hot band values are AQE-skew-split.  4096 distinct values per
    band keep random corpora collision-free (only near-dups and exact
    replicas share a 12-bit slice), so the tier is linear in the corpus
    plus quadratic only in true duplication — the same bound as MinHash
    banding — while every bit stays exactly replicable in both engines.

    The signature rides the band rows (4·8 bytes/doc) so the verify step
    needs no join back to the signature table.

    ``signatures``: reuse an existing (doc_id, simhash) table (e.g. one
    the caller already materialized for its own output) instead of
    running the signature kernel again — the band projection on top is
    pure shift/mask.
    """
    if signatures is None:
        signatures = simhash_signatures(documents)
    bands = _materialize(simhash_bands(signatures))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)")
            .cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_R)
        .distinct()
    )


# Benchmark decontamination: the published practice is long-n-gram
# overlap removal (e.g. the 13-gram filtering described in Brown et al.
# 2020 §C, and 8-grams in later replications) — long enough that a
# collision is evidence of copied eval text, not common phrasing.
DECONTAM_N = 8


def contaminated_doc_ids(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = DECONTAM_N,
    doc_grams: DataFrame | None = None,
) -> DataFrame:
    """Ids of documents sharing at least one word ``n``-gram with any
    benchmark text — the detection half of eval-set decontamination.

    Scale shape (the part that matters at 100 TB): the benchmark side —
    eval suites are MBs, not TBs — collapses to its DISTINCT shingle
    set and ships as a broadcast, so the corpus pays exactly one
    map-side scan with a broadcast semi-join (no corpus shuffle); the
    returned id set is at most corpus-cardinality but in practice tiny.

    Tokenizer and shingler are the engine's canonical expressions
    (``functions/hashing.py``), already pinned across engines, with the
    window widened to ``n`` — a doc or benchmark text shorter than
    ``n`` tokens contributes no shingles and can never match.  The
    default compares shingle STRINGS on purpose: the corpus side never
    shuffles (broadcast semi-join), so a hashed spelling only adds an
    md5 per window — a round-6 A/B measured the 48-bit-hashed Arrow
    kernel SLOWER at both ×1 (0.98 → 1.49 s) and ×10 (3.9 → 4.9 s),
    because the per-batch memo can't fire when replicas live in
    different tasks (key-shifted copies are file-appended, never
    batch-local).

    NULL contract: a NULL-text document has no shingles, so it is
    never flagged — the inner semi-joins below drop the NULL ``__th``
    group, which IS that semantics (unlike ``simhash_signatures``,
    where a dropped row changed the output shape).

    ``doc_grams`` (the exception, and the real shared-pass win):
    inject a precomputed ``positional_ngrams(documents, n)``-shaped
    table (``doc_id``, 48-bit hash column ``g``) when
    the span tiers ALREADY built it — the whole tokenize→window→hash
    scan then costs nothing extra, and the benchmark side hashes its
    shingles with the matching ``spark_gram_hash``
    (``pipelines.curate_documents`` wires this when the span ceiling
    and decontamination run with the same window size).  Hash equality
    ≈ shingle equality at 2⁻⁴⁸ per pair; a collision can only ADD a
    spurious flag (over-removal), never hide a real overlap."""
    if doc_grams is not None:
        bench_g = (
            benchmark.select(
                F.explode(
                    F.expr(
                        H.spark_shingles(H.spark_tokens("text"), n)
                    )
                ).alias("s")
            )
            .select(F.expr(H.spark_gram_hash("s")).alias("g"))
            .distinct()
        )
        return (
            doc_grams.join(F.broadcast(bench_g), "g", "semi")
            .select("doc_id")
            .distinct()
        )
    # Contamination is a pure function of the text, so the shingle
    # pass runs over DISTINCT texts and flags propagate back to doc
    # ids through an md5(text) join (round 6 — the same replica
    # collapse as positional_ngrams/simhash_signatures): on a
    # replica-heavy corpus the per-byte shingle cost divides by the
    # duplication factor; on an all-distinct one this adds one
    # distinct+join.
    hashed = documents.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("__th")
    )
    reps = documents.select(
        F.md5(F.col("text").cast("binary")).alias("__th"), "text"
    ).dropDuplicates(["__th"])
    rep_sh = reps.select(
        "__th",
        F.explode(
            F.expr(H.spark_shingles(H.spark_tokens("text"), n))
        ).alias("s"),
    )
    bench_sh = (
        benchmark.select(
            F.explode(
                F.expr(H.spark_shingles(H.spark_tokens("text"), n))
            ).alias("s")
        )
        .distinct()
    )
    bad = (
        rep_sh.join(F.broadcast(bench_sh), "s", "semi")
        .select("__th")
        .distinct()
    )
    return hashed.join(bad, "__th", "semi").select("doc_id").distinct()


def contamination_report(documents: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Per-benchmark-item leakage accounting — the report an eval owner
    reads before trusting a score: for each benchmark row, how many
    corpus documents share at least one word ``DECONTAM_N``-gram with it
    (``n_docs_hit``) and how many (doc, shingle-type) overlaps exist in
    total (``n_gram_hits``; a doc repeating a shared shingle counts
    once per distinct shingle).  Items with zero hits appear with
    zeros, so the report covers the whole suite.

    Scale shape (same asymmetry as ``contaminated_doc_ids``): the
    benchmark side is MBs — its DISTINCT (item, shingle) set
    broadcasts — and the corpus pays one map-side scan; the aggregate
    is benchmark-item-sized."""
    # spark_shingles is already per-doc distinct, so the join emits one
    # row per (item, doc, shared shingle type)
    shingles = F.explode(
        F.expr(H.spark_shingles(H.spark_tokens("text"), DECONTAM_N))
    ).alias("s")
    doc_sh = documents.select(F.col("doc_id").alias("__doc"), shingles)
    bench_sh = benchmark.select(F.col("doc_id").alias("bench_id"), shingles)
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "s")
        .groupBy("bench_id")
        .agg(
            F.count_distinct("__doc").alias("n_docs_hit"),
            F.count(F.lit(1)).alias("n_gram_hits"),
        )
    )
    all_items = benchmark.select(F.col("doc_id").alias("bench_id")).distinct()
    return (
        all_items.join(hits, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce(F.col("n_docs_hit"), F.lit(0)).alias("n_docs_hit"),
            F.coalesce(F.col("n_gram_hits"), F.lit(0)).alias(
                "n_gram_hits"
            ),
        )
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = DECONTAM_N,
    doc_grams: DataFrame | None = None,
) -> DataFrame:
    """Drop every document sharing an ``n``-gram with the benchmark —
    the removal half of eval-set decontamination.  No broadcast hint on
    the anti-join: the flagged id set is usually tiny but its
    cardinality is bounded only by the corpus (one boilerplate 8-gram
    in the benchmark can flag a large fraction of it — round-4 review),
    so AQE decides; small sets still broadcast under the threshold,
    pathological ones degrade safely to a shuffle anti-join on the id.
    ``doc_grams`` as in ``contaminated_doc_ids`` (a shared gram pass)."""
    bad = contaminated_doc_ids(documents, benchmark, n, doc_grams=doc_grams)
    return documents.join(bad, "doc_id", "anti")


def ngram_jaccard_pairs(documents: DataFrame, tau: float) -> DataFrame:
    """N-gram Jaccard similarity, **LSH-blocked**: exact verification
    runs only over the MinHash/LSH candidate pairs (doc_a < doc_b).

    The unblocked form (join every pair sharing ≥1 shingle) looks linear
    at small SF but is quadratic in duplication: a shingle shared by k
    docs yields k² pairs, so a 10× corpus with hot boilerplate blew up
    the 10× scale run (SCALE_NOTES.md).  Blocking bounds work to
    |candidates| × |shingles per doc|.

    Exact verification (round 6): the corpus is first PRUNED to the
    docs that appear in any candidate pair (a semi-join against the
    candidate id set — AQE broadcasts it when small, which it is by
    construction: candidates are bounded by true near-duplication),
    then each pair intersects its two DISTINCT-shingle arrays in one
    codegen ``array_intersect``.  |A∪B| = |A|+|B|−|A∩B|; the division
    is one double op.  The previous shingle-equality explode-join
    re-shingled the ENTIRE corpus twice and paid two shuffles plus a
    groupBy to verify a few hundred pairs (round-5 review: the suite's
    top cost center); set-intersection of the same distinct sets is
    value-identical, so the DuckDB oracle's multiset-product-count
    formulation still compares hash-for-hash.
    """
    # consumed twice (id-prune + pair join) — cut the band self-join
    # lineage instead of re-running it
    candidates = _materialize(lsh_candidate_pairs(minhash_bands(documents)))
    ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        _with_shingles(documents.join(ids, "doc_id", "semi"))
        .where(F.size("__sh") > 0)
        .select("doc_id", F.size("__sh").alias("n_sh"), "__sh")
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("na"),
        F.col("__sh").alias("__sa"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
        F.col("__sh").alias("__sb"),
    )
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "inter", F.size(F.array_intersect("__sa", "__sb"))
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= tau)
        .select("doc_a", "doc_b", "jaccard")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, tau: float, num_centroids: int = 8
) -> DataFrame:
    """Embedding-cosine near-dup pairs, **IVF-cell-blocked**: vectors are
    assigned to their nearest centroid (``similarity.ivf_cells``) and
    only same-cell pairs are scored exactly.

    The unblocked all-pairs theta-join is O(N²) cosine folds — 200M
    pair-folds already at the 10× scale run.  Cell blocking divides that
    by ~num_centroids; at real scale centroids grow ∝ √N so cells stay
    bounded.  True near-dups (cosine ≥ τ with τ high) co-locate in a
    cell with high probability; the deterministic assignment keeps the
    whole operator oracle-checkable, unlike random LSH.
    """
    from mapreduce_framework_for_mergesort_spark.operators.similarity import (
        ivf_cells,
    )

    # Tier 1 — candidate generation: a NumPy/BLAS kernel per cell emits
    # pairs scoring ≥ τ−ε.  All-pairs scoring through Catalyst
    # expressions is ~µs/pair (HOF folds never enter codegen, and
    # unrolled per-component sums trade that for seconds of per-job
    # analysis overhead — see similarity._argmin_cell_udf); the matmul
    # does the same work in milliseconds either way.
    # Tier 2 — exactness: survivors are re-scored with the engine's
    # canonical fold expression and filtered at τ, so the FINAL result
    # is bit-identical to the oracle regardless of BLAS summation order
    # (ε = 1e-6 is ~6 orders beyond double-vs-BLAS drift; no true pair
    # can be missed).
    cells = ivf_cells(embeddings, num_centroids)

    def cell_pairs(pdf):
        import numpy as np

        X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0.0] = 1.0
        G = (X / norms[:, None]) @ (X / norms[:, None]).T
        ia, ib = np.where(G >= tau - 1e-6)
        keep = ids[ia] < ids[ib]
        return pd.DataFrame({"vec_a": ids[ia][keep], "vec_b": ids[ib][keep]})

    cand = cells.groupBy("cell").applyInPandas(
        cell_pairs, "vec_a long, vec_b long"
    )

    a = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cosine", F.expr(V.spark_cosine("ea", "eb")))
        .where(F.col("cosine") >= tau)
        .select("vec_a", "vec_b", "cosine")
    )


# --- duplicate-substring spans (tier 6: position-level dedup) --------------
# Document-level tiers (2-5) decide KEEP/DROP per doc; training corpora
# also need the finer grain of Lee et al. '21 ("Deduplicating Training
# Data Makes Language Models Better"): a long boilerplate block repeated
# across otherwise-distinct pages should be *measured* (and filtered on)
# even though no whole document is a near-dup.  The suffix-array pass of
# the paper does not distribute; the standard scalable reformulation is
# positional k-gram matching — a k-token window repeated anywhere in the
# corpus marks all its occurrences as duplicated span material.

DUP_SPAN_K = 8  # span granularity: repeated runs of >= k tokens


def positional_ngrams(documents: DataFrame, k: int = DUP_SPAN_K) -> DataFrame:
    """(doc_id, pos, g): every k-token window with its 1-based token
    position; ``g`` is the 48-bit md5-prefix gram hash
    (``functions.hashing.spark_gram_hash`` — md5, not xxhash64, so the
    DuckDB oracle computes the identical key), so the corpus-wide
    shuffle moves 8-byte int64 keys, never window text.  Round 6: was a
    32-char md5 hex STRING — 4× the shuffle bytes and a string compare
    on every group/join of the suite's largest intermediate table
    (round-5 review); the int64 prefix keeps cross-engine exactness
    (collision analysis at ``spark_gram_hash``).

    Hot path is the memoized Arrow kernel (``hashing.gram_rows_udf``),
    pinned row-for-row to the canonical SQL spelling
    ``tests/references.positional_ngrams_sql`` — the same
    kernel-vs-expression contract as the minhash band and simhash
    passes.  The kernel runs over DISTINCT texts only (round 6):
    identical documents produce
    identical (pos, g) arrays by definition, so the tokenize→window→
    hash work — measured 40.7 s of the key's 73 s at the 100×
    replica spot-check, where replicas never share an Arrow batch and
    the per-batch memo cannot fire — is paid once per distinct content
    and joined back to doc_ids on md5(text).  The join ships one
    un-exploded gram ARRAY per distinct text plus a skinny
    (doc_id, hash) corpus projection; the 600 M-row explode happens
    map-side after the join.  On an all-distinct corpus this adds one
    cheap distinct+join; on a replica-heavy one it divides the kernel
    by the duplication factor.

    Unlike ``spark_shingles`` this keeps positions and duplicates —
    set semantics would erase exactly the repetition being measured.

    NULL contract: a NULL-text document contributes NO gram rows —
    the same as the SQL spelling (posexplode of a NULL gram array).
    The inner join's inferred ``__th IS NOT NULL`` drops the NULL rep
    before the kernel, and the kernel itself also guards None (round
    7), so the contract does not depend on optimizer filter inference.
    """
    return (
        _text_hashes(documents)
        .join(_distinct_text_gram_arrays(documents, k), "__th")
        .select("doc_id", F.explode("__ws").alias("w"))
        .select(
            "doc_id", F.col("w.pos").alias("pos"), F.col("w.g").alias("g")
        )
    )


def _text_hashes(documents: DataFrame) -> DataFrame:
    """(doc_id, __th) — the 16-byte binary md5 content key the gram
    passes share (binary, not the 32-char hex string: half the join/
    shuffle width for the same exactness)."""
    return documents.select(
        "doc_id",
        F.unhex(F.md5(F.col("text").cast("binary"))).alias("__th"),
    )


def _distinct_text_gram_arrays(documents: DataFrame, k: int) -> DataFrame:
    """(__th, __ws = array<struct<pos, g>>) per DISTINCT text — the one
    tokenize→window→hash kernel pass both ``positional_ngrams`` (which
    joins the un-exploded arrays to doc ids and explodes map-side) and
    ``positional_gram_flags``' distinct-grain window (which explodes at
    distinct grain) derive from.  One key spelling for both (round-8
    review: two divergent inline copies could drift)."""
    return (
        documents.select(
            F.unhex(F.md5(F.col("text").cast("binary"))).alias("__th"),
            "text",
        )
        .dropDuplicates(["__th"])
        .select("__th", H.gram_rows_udf(k)(F.col("text")).alias("__ws"))
    )


def positional_gram_flags(
    documents: DataFrame,
    k: int = DUP_SPAN_K,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Per-window duplication flags over the positional gram table:
    (doc_id, pos, __cnt = corpus-wide occurrences of this window's
    gram, __is_first = whether this occurrence is the gram's
    corpus-wide first under (doc_id, pos) order) — the ONE shuffled
    pass both span tiers consume (round 6: replaces ``dup_spans``'s
    groupBy+join AND ``strip_dup_spans``'s separate groupBy+join with
    a single exchange-on-g + window).

    Round 8 (round-7 verdict item 5): when the pass builds its own
    grams, the per-gram WINDOW runs at DISTINCT-CONTENT grain —
    (text-hash, pos, g) rows carrying each text's replica count —
    instead of over the post-explode per-document table, and the
    per-document expansion is a sort-free hash join afterwards.  On
    the ×100 replica spot-check this shrinks the window's sort input
    by the duplication factor (600 M rows → 6 M), which is exactly the
    buffer the observed GCLocker allocation stalls pointed at; on an
    all-distinct corpus it degenerates to the same volume plus one
    cheap join.  EXACT equivalence, not approximation:

    * ``__cnt`` — the original counts (doc, pos) occurrence rows per
      gram; every distinct-grain (text, pos) row stands for exactly
      ``__n`` replicas, so ``sum(__n)`` over the gram equals the row
      count;
    * ``__is_first`` — the original's winner is ``min(struct(doc_id,
      pos))``.  All replicas of a text share its positions, so each
      (text, pos) row's best candidate is (min_doc(text), pos); a doc
      has one text, so min_doc values are distinct across texts and
      ``min(struct(min_doc, pos))`` picks the same (doc, pos) — the
      pos tie-break resolves within the winning text's own rows.
    Pinned row-for-row against the direct per-occurrence window in
    tests (replica-heavy + NULL-text corpus).

    Both flags come from UNORDERED window aggregates (count +
    struct-min) on purpose: an ordered spelling (``row_number``) would
    make WindowExec sort every gram row by (g, doc_id, pos), while the
    unordered form sorts by g alone.

    Scale shape (100 TB): one hash exchange on the uniform int64 gram
    key at distinct-content volume, then one hash join expanding to
    document grain keyed on a 16-byte binary md5 (no sort anywhere at
    corpus volume).  Materialize the result when both ``dup_spans``
    and ``strip_dup_spans`` consume it (the registered key does).
    With an injected per-document ``grams`` table the direct
    per-occurrence window is kept — the injector owns the grain."""
    from pyspark.sql import Window

    if grams is not None:
        w = Window.partitionBy("g")
        first = F.min(F.struct("doc_id", "pos")).over(w)
        return grams.select(
            "doc_id",
            "pos",
            F.count(F.lit(1)).over(w).alias("__cnt"),
            (
                (F.col("doc_id") == first["doc_id"])
                & (F.col("pos") == first["pos"])
            ).alias("__is_first"),
        )
    hashed = _text_hashes(documents)
    reps = hashed.groupBy("__th").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("doc_id").alias("__min_doc"),
    )
    tg = (
        _distinct_text_gram_arrays(documents, k)
        .select("__th", F.explode("__ws").alias("w"))
        .select("__th", F.col("w.pos").alias("pos"), F.col("w.g").alias("g"))
        .join(reps, "__th")  # distinct-text grain: AQE broadcasts reps
    )
    w = Window.partitionBy("g")
    first = F.min(F.struct(F.col("__min_doc").alias("d"), F.col("pos").alias("p"))).over(w)
    flagged = tg.select(
        "__th",
        "pos",
        "__min_doc",
        F.sum("__n").over(w).alias("__cnt"),
        (
            (F.col("__min_doc") == first["d"])
            & (F.col("pos") == first["p"])
        ).alias("__f"),
    )
    return hashed.join(flagged, "__th").select(
        "doc_id",
        "pos",
        "__cnt",
        (F.col("__f") & (F.col("doc_id") == F.col("__min_doc"))).alias(
            "__is_first"
        ),
    )


def dup_spans(
    documents: DataFrame,
    k: int = DUP_SPAN_K,
    grams: DataFrame | None = None,
    flags: DataFrame | None = None,
) -> DataFrame:
    """Merged duplicate-substring spans: (doc_id, span_start, span_end,
    n_dup_pos) token ranges (1-based, inclusive) covered by k-gram
    windows that occur at least twice corpus-wide, with
    overlapping/adjacent windows fused (gaps-and-islands: a window
    starting inside-or-at the running max end of previous windows + 1
    extends the current span).

    Scale shape (100 TB): one exchange on the int64 gram hash
    (``positional_gram_flags``), then a per-doc window — state is
    bounded by tokens-per-doc, never the corpus, and the shuffle key is
    uniform md5-prefix output so no hot key survives un-split.

    ``flags`` (preferred) / ``grams`` inject shared upstream passes —
    pass a materialized ``positional_gram_flags`` when another consumer
    (``strip_dup_spans``) shares it, so the tokenize→window→hash pass
    AND the per-gram shuffle run once, not per consumer.
    """
    if flags is None:
        flags = positional_gram_flags(documents, k, grams=grams)
    dup_pos = flags.where(F.col("__cnt") >= 2).select(
        "doc_id", "pos"
    )
    return _merge_windows(dup_pos, k)


def _merge_windows(positions: DataFrame, k: int) -> DataFrame:
    """Fuse k-wide windows at (doc_id, pos) into maximal token spans
    (gaps-and-islands over window starts): (doc_id, span_start,
    span_end, n_dup_pos).  Per-doc window — state bounded by
    windows-per-doc, never the corpus."""
    from pyspark.sql import Window

    prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_island = (
        positions.withColumn(
            "__new",
            (
                F.col("pos")
                > F.coalesce(F.max("pos").over(prev) + (k - 1), F.lit(-1))
            ).cast("int"),
        )
        .withColumn("__island", F.sum("__new").over(run))
    )
    return with_island.groupBy("doc_id", "__island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_dup_pos"),
    ).select("doc_id", "span_start", "span_end", "n_dup_pos")


def dup_span_profile(
    documents: DataFrame, k: int = DUP_SPAN_K, grams: DataFrame | None = None
) -> DataFrame:
    """Per-doc duplicate-substring stats over ALL docs (zero-filled):
    (doc_id, n_tokens, dup_span_count, dup_token_cover,
    dup_token_frac).  ``dup_token_frac`` is the curation signal —
    filter docs whose boilerplate fraction exceeds a threshold, the
    position-level analogue of the per-doc ``quality`` score.  ``grams`` as in
    ``dup_spans``: inject a shared positional-n-gram pass when another
    consumer runs over the same corpus."""
    toks = H.spark_tokens("text")
    base = documents.select(
        "doc_id",
        F.expr(f"size({toks})").cast("bigint").alias("n_tokens"),
    )
    per_doc = dup_spans(documents, k, grams=grams).groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).alias("dup_span_count"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "dup_token_cover"
        ),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_span_count", F.lit(0)).cast("bigint").alias(
            "dup_span_count"
        ),
        F.coalesce("dup_token_cover", F.lit(0)).cast("bigint").alias(
            "dup_token_cover"
        ),
        F.expr(
            "CASE WHEN n_tokens = 0 THEN CAST(0 AS DOUBLE) "
            "ELSE CAST(coalesce(dup_token_cover, 0) AS DOUBLE) / n_tokens END"
        ).alias("dup_token_frac"),
    )


def _duckdb_islands(prefix: str, src_cte: str, out_cte: str, k: int) -> str:
    """The ONE SQL spelling of ``_merge_windows`` (gaps-and-islands over
    (doc_id, pos) window starts), shared by the span and strip oracles —
    the merge condition must stay bit-identical everywhere or span
    boundaries and strip coverage silently disagree inside one oracle.
    Emits ``{prefix}_isl``/``{prefix}_isl2``/``{out_cte}(doc_id,
    span_start, span_end, n_dup_pos)``."""
    return f"""
    {prefix}_isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 + {k - 1}, -1)
             THEN 1 ELSE 0 END AS ni
      FROM {src_cte}),
    {prefix}_isl2 AS (
      SELECT doc_id, pos,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS island
      FROM {prefix}_isl),
    {out_cte} AS (
      SELECT doc_id, MIN(pos) AS span_start,
             MAX(pos) + {k - 1} AS span_end,
             COUNT(*) AS n_dup_pos
      FROM {prefix}_isl2 GROUP BY doc_id, island)
    """


def duckdb_dup_spans_cte() -> str:
    """The oracle half of ``dup_spans``: DuckDB CTEs ending in
    ``spans(doc_id, span_start, span_end, n_dup_pos)`` — the identical
    positional-k-gram → count → gaps-and-islands chain (same 48-bit
    md5-prefix gram
    key, same merge condition), so span boundaries compare
    value-for-value across engines."""
    k = DUP_SPAN_K
    toks = H.duckdb_tokens("text")
    parts = ", ".join(f"ts[i + {j}]" for j in range(k))
    return f"""
    dsp_toks AS (SELECT doc_id, {toks} AS ts FROM documents),
    dsp_pos AS (
      SELECT doc_id, unnest(range(1, len(ts) - {k - 2})) AS i, ts
      FROM dsp_toks WHERE len(ts) >= {k}),
    dsp_grams AS (
      SELECT doc_id, i AS pos,
             {H.duckdb_gram_hash(f"concat_ws(' ', {parts})")} AS g
      FROM dsp_pos),
    dsp_dup AS (
      SELECT g FROM dsp_grams GROUP BY g HAVING COUNT(*) >= 2),
    dsp_dp AS (
      SELECT doc_id, pos FROM dsp_grams JOIN dsp_dup USING (g)),
    {_duckdb_islands("dsp", "dsp_dp", "spans", k)}
    """


def _strip_rebuild_arrow(k: int):
    """The strip rebuild (tokenize → slice out protecting intervals →
    rejoin) as ONE Arrow kernel over (text, __iv) returning
    struct(stripped_text, n_tokens, n_kept_tokens) — replaces three
    interpreted HOF expressions (HOFs never enter codegen and
    re-evaluate shared subtrees).  Exact replica: same pinned
    tokenizer (``hashing.tokenize``), same 1-based inclusive slices,
    same <k short-doc passthrough, same NULL propagation."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "struct<stripped_text: string, n_tokens: bigint, "
        "n_kept_tokens: bigint>"
    )
    def rebuild(text: pd.Series, iv: pd.Series) -> pd.DataFrame:
        # per Arrow batch: a replica tokenizes once when it shares the
        # batch with its original
        tokens = H.Memo(H.tokenize)
        st, nt, nk = [], [], []
        for s, intervals in zip(text, iv):
            if s is None:
                # match the SQL spelling exactly: concat_ws over a
                # NULL token array is '', size(NULL) is NULL, and the
                # n_kept CASE falls to the interval-sum ELSE branch
                st.append("")
                nt.append(None)
                nk.append(sum(int(v["e"]) - int(v["s"]) + 1 for v in intervals))
                continue
            toks = tokens[s]
            n = len(toks)
            nt.append(n)
            if n < k:
                st.append(" ".join(toks))
                nk.append(n)
            else:
                kept: list[str] = []
                total = 0
                for v in intervals:
                    s0, e0 = int(v["s"]), int(v["e"])
                    kept.extend(toks[s0 - 1 : e0])
                    total += e0 - s0 + 1
                st.append(" ".join(kept))
                nk.append(total)
        return pd.DataFrame(
            {"stripped_text": st, "n_tokens": nt, "n_kept_tokens": nk}
        )

    return rebuild


def strip_dup_spans(
    documents: DataFrame, k: int = DUP_SPAN_K, flags: DataFrame | None = None
) -> DataFrame:
    """Span REMOVAL, first-occurrence-wins (the Lee et al. '21 step
    after detection): rewrite each document keeping only tokens covered
    by a *protecting* window — one that is either unique corpus-wide or
    the globally-first occurrence (min (doc_id, pos)) of its k-gram.
    An exact duplicate of an earlier document strips to the empty
    string; a repeated block inside otherwise-novel text loses its
    interior while up to k-1 fringe tokens survive on each edge (they
    sit under windows straddling into unique context — the documented
    resolution limit of the k-gram reformulation).

    Output: original columns + ``stripped_text`` (kept tokens joined
    with single spaces — canonical whitespace, NOT the original
    spacing), ``n_tokens``, ``n_kept_tokens``.  Deterministic under
    rerun/partitioning (the winner is an order-free struct-min).

    Scale shape: one exchange on the int64 gram key
    (``positional_gram_flags``, shared with ``dup_spans`` when both
    run), then a per-doc window and an interval rebuild: the protecting
    intervals are sorted and SLICED out of the token array
    (O(intervals + kept tokens) per doc — round 6; the previous
    per-token ``exists`` scan was O(tokens × intervals)), and the kept
    count is the interval-length sum, not a re-tokenization of the
    rebuilt text (tokens contain no whitespace, so the two are
    identical by construction).  ``flags`` as in ``dup_spans``.

    Scale gate: when ``sizing.reaches(documents,
    sizing.STRIP_ARROW_THRESHOLD_BYTES)`` (the plan's scan-file bytes;
    an in-memory frame counts as below), the rebuild runs as the Arrow
    kernel ``_strip_rebuild_arrow``; below it, as codegen HOF slices.
    Both give identical rows; there is no override.
    """
    if flags is None:
        flags = positional_gram_flags(documents, k)
    protecting = flags.where(
        (F.col("__cnt") < 2) | F.col("__is_first")
    ).select("doc_id", "pos")
    iv = (
        _merge_windows(protecting, k)
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("span_start").alias("s"),
                        F.col("span_end").alias("e"),
                    )
                )
            ).alias("__iv")
        )
    )
    toks = H.spark_tokens("text")
    empty_iv = F.expr("array()").cast("array<struct<s:int,e:int>>")
    joined = documents.join(iv, "doc_id", "left").withColumn(
        "__iv", F.coalesce(F.col("__iv"), empty_iv)
    )
    if sizing.reaches(documents, sizing.STRIP_ARROW_THRESHOLD_BYTES):
        out = joined.withColumn(
            "__sr", _strip_rebuild_arrow(k)(F.col("text"), F.col("__iv"))
        )
        return (
            out.withColumn("stripped_text", F.col("__sr.stripped_text"))
            .withColumn("n_tokens", F.col("__sr.n_tokens"))
            .withColumn("n_kept_tokens", F.col("__sr.n_kept_tokens"))
            .drop("__iv", "__sr")
        )
    # __iv intervals are disjoint and sorted by start (islands output +
    # array_sort), so the kept text is the in-order concatenation of
    # token-array slices and the kept count is the length sum
    stripped = H.let(
        toks,
        "ts",
        f"CASE WHEN size(ts) < {k} THEN concat_ws(' ', ts) ELSE "
        "concat_ws(' ', flatten(transform(__iv, "
        "v -> slice(ts, v.s, v.e - v.s + 1)))) END",
    )
    n_tokens = H.let(toks, "ts", "size(ts)")
    n_kept = (
        f"CASE WHEN n_tokens < {k} THEN n_tokens ELSE "
        "aggregate(__iv, 0, (acc, v) -> acc + v.e - v.s + 1) END"
    )
    return (
        joined.withColumn("stripped_text", F.expr(stripped))
        .withColumn("n_tokens", F.expr(n_tokens).cast("bigint"))
        .withColumn("n_kept_tokens", F.expr(n_kept).cast("bigint"))
        .drop("__iv")
    )


def duckdb_strip_cte() -> str:
    """The oracle half of ``strip_dup_spans``, continuing the CTE chain
    of ``duckdb_dup_spans_cte`` (reuses its ``dsp_toks``/``dsp_grams``):
    ends in ``stripped(doc_id, stripped_text, n_tokens,
    n_kept_tokens)``.  First-occurrence choice is expressed as
    row_number over (doc_id, pos) — identical to the struct-min."""
    k = DUP_SPAN_K
    return f"""
    stp_flag AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY g) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos)
               AS rn
      FROM dsp_grams),
    stp_prot AS (
      SELECT doc_id, pos FROM stp_flag
      WHERE cnt < 2 OR rn = 1),
    {_duckdb_islands("stp", "stp_prot", "stp_spans", k)},
    stp_iv AS (
      SELECT doc_id,
             list({{'s': span_start, 'e': span_end}}) AS iv
      FROM stp_spans GROUP BY doc_id),
    stripped AS (
      -- COALESCE(..., ''): DuckDB's array_to_string([]) is NULL where
      -- Spark's concat_ws is '' — a fully-stripped (or empty/NULL-text)
      -- doc must compare equal as '' on both engines
      SELECT t.doc_id,
             COALESCE(
               CASE WHEN len(ts) < {k} THEN array_to_string(ts, ' ')
               ELSE array_to_string(list_transform(list_filter(
                 list_transform(range(1, len(ts) + 1),
                                i -> {{'t': ts[i], 'p': i}}),
                 x -> len(list_filter(
                   COALESCE(iv, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
                   v -> x.p >= v.s AND x.p <= v.e)) > 0),
                 x -> x.t), ' ') END, '') AS stripped_text,
             len(ts) AS n_tokens
      FROM dsp_toks t LEFT JOIN stp_iv USING (doc_id))
    """
