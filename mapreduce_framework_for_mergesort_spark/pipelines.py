"""End-to-end training-data curation: the composition a corpus owner
actually runs, built from the engine's operators in their 100 TB shapes.

    raw documents
      → PII redaction (first, so PII never feeds features or survives)
      → per-doc features (ONE codegen projection: quality + language +
        duplicate-token fraction)
      → filter (quality floor, language allowlist, optional
        repetition ceiling)
      → near-dedup (pluggable candidate tiers — MinHash/LSH, SimHash,
        embedding-semantic — into one connected-components pass →
        one deterministic survivor per cluster)
      → content-hash train/val/test split

Each stage is the scale-correct form established elsewhere in the repo:
the feature pass is a single scan with zero Python; dedup never
compares all pairs (LSH-blocked, cluster state sized by the candidate
graph); the split keys on md5 of the TEXT ITSELF — not doc_id — so any
near-miss duplicate the LSH tier lets through still cannot straddle a
train/test boundary when its text is byte-identical (an id-keyed split
would rely entirely on dedup having caught it first — round-3
advisory).  Reruns and engines agree row-for-row.  No stage collects
data to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.operators import dedup as D
from mapreduce_framework_for_mergesort_spark.operators import sampling
from mapreduce_framework_for_mergesort_spark.operators.text import (
    text_feature_exprs,
)


def with_curation_features(
    documents: DataFrame, with_repetition: bool = True
) -> DataFrame:
    """Append ``quality`` and ``pred_lang`` (and, with
    ``with_repetition``, ``dup_token_frac``) to the document rows in one
    whole-stage-codegen projection (the same expressions
    ``operators/text.py`` uses, composed column-wise so the pipeline
    pays ONE scan — joining the per-doc feature tables back on doc_id
    would shuffle the corpus twice for no reason).  ``with_repetition``
    exists because the dup fraction costs an extra O(n_tokens)
    ``array_distinct`` per document — the pipeline only pays it when a
    repetition filter is actually requested."""
    from mapreduce_framework_for_mergesort_spark.operators import langid

    e = text_feature_exprs()
    # SAME classifier decision as operators/text.lang_id (round 12:
    # the two-stage script + learned-trigram model; langid.python_pred
    # pins the kernel body to this expression in tests) — the pipeline
    # must not fork the language definition.  Deliberately the CODEGEN
    # expression here, not lang_id's Arrow kernel: the pipeline
    # computes features over text that may itself be an expression
    # (strip_spans rewrites it with a HOF transform, or an Arrow kernel
    # at scale), and a pandas UDF fed an expression-proxy argument dies
    # with SparkException INTERNAL_ERROR "Cannot evaluate expression:
    # kernel(expressionproxy(...))" under subexpression elimination
    # (measured round 12) — the Arrow kernel is safe only on plain
    # column inputs, which is what lang_id's per_content reps provide.
    pred = langid.spark_pred_expr("text")
    cols = {"quality": F.expr(e["quality"]), "pred_lang": F.expr(pred)}
    if with_repetition:
        cols["dup_token_frac"] = F.expr(e["dup_token_frac"])
    return documents.withColumns(cols)


def curate_documents(
    documents: DataFrame,
    min_quality: float = 0.5,
    max_dup_token_frac: float | None = None,
    max_dup_span_frac: float | None = None,
    strip_spans: bool = False,
    dup_span_k: int = D.DUP_SPAN_K,
    langs: tuple[str, ...] = ("en",),
    splits: sampling.Weights = sampling.DEFAULT_SPLITS,
    redact: bool = True,
    split_on: str = "text",
    dedup_tiers: tuple[str, ...] = ("minhash",),
    embeddings: DataFrame | None = None,
    embed_tau: float = D.DEFAULT_EMBED_TAU,
    embed_cells: int = 8,
    benchmark: DataFrame | None = None,
    decontam_n: int = D.DECONTAM_N,
    cluster_cap: int | None = None,
    split_mode: str = "hash",
    split_state_path: str | None = None,
    split_epoch: int | None = None,
    url_col: str | None = None,
    max_pages_per_domain: int | None = None,
) -> DataFrame:
    """The full curation pipeline → surviving documents with a ``split``
    column (original columns preserved; features dropped after the
    filter so the dedup/split stages don't carry them through shuffles).

    ``split_on`` is the split key column — default ``text`` (true
    content addressing: exact duplicates can never straddle splits even
    if a dedup tier misses them).  Pass ``doc_id`` to key on identity
    instead, e.g. when documents are re-crawled with drifting whitespace
    and split stability across crawls matters more than the exact-dup
    guarantee.

    ``dedup_tiers`` selects the candidate generators (see
    ``operators/dedup.near_dup_pair_tiers``): add ``"embedding"`` (with
    an ``embeddings`` table keyed by doc_id) to also collapse SEMANTIC
    duplicates — paraphrases whose shingle overlap is too low for the
    MinHash tier — into the same clustering, and ``"simhash"`` for the
    hamming-near lexical tier.  All tiers feed one connected-components
    pass, so mixed lexical/semantic duplicate chains still collapse to
    a single survivor.

    ``max_dup_span_frac`` (optional) is the CORPUS-relative boilerplate
    ceiling: drop documents whose tier-6 duplicate-substring span
    coverage (``operators/dedup.dup_span_profile``, window size
    ``dup_span_k``) exceeds the threshold — repetition shared ACROSS
    pages, which the within-doc ``max_dup_token_frac`` cannot see.

    ``strip_spans`` REWRITES instead of dropping: the tier-6 removal
    pass (``dedup.strip_dup_spans``, first-occurrence-wins) replaces
    each document's text with its de-boilerplated form right after
    redaction — BEFORE features (quality scores the text that actually
    ships, not boilerplate-inflated input) and BEFORE dedup (a doc
    that was nothing but repeats strips to empty and is removed here,
    rather than surviving as a near-dup cluster's representative).
    Note the rewrite canonicalizes whitespace to single spaces and
    pays one corpus-wide gram pass up front.

    ``benchmark`` (optional, a one-column-of-text DataFrame — see
    ``decontam_n``/``operators/dedup.decontaminate``) drops every
    surviving document that shares a long word n-gram with the eval
    suite.  It runs on the REDACTED text (contamination is judged on
    the text that would actually ship to training) and BEFORE dedup:
    if a contaminated document would have been a cluster's survivor,
    removing it first lets a clean near-duplicate survive instead of
    silently shipping nothing from that cluster.

    ``cluster_cap`` (optional, needs ``embeddings``) adds the
    SemDeDup-style diversity step after dedup: survivors are assigned
    to embedding k-means cells (``similarity.ivf_cells``,
    ``embed_cells`` centroids) and each cell keeps at most
    ``cluster_cap`` docs by deterministic salted-hash rank
    (``sampling.balanced_sample`` — two-phase, scale-safe), so an
    over-crawled topic can't dominate the mix even when its pages
    aren't near-duplicates of each other.

    ``split_mode`` selects the train/val/test router:

    * ``"hash"`` (default) — ``sampling.hash_split`` on ``split_on``:
      exact duplicates can never straddle splits, near-duplicates can
      (only matters when one slips past the dedup stage).
    * ``"leakage_safe"`` — ``sampling.leakage_safe_split`` routed by
      near-dup CLUSTER content key, REUSING the dedup stage's pair
      tiers and cluster labels (computed once, consumed by both
      survivor selection and the split) so members of one near-dup
      cluster always land in one split — even when the dedup
      configuration is too loose to collapse them (e.g. a strict
      ``embed_tau`` missing a paraphrase pair, or a semantic-only
      ``dedup_tiers`` missing a lexical near-dup).  When the
      configured tiers don't include ``"minhash"``, the split's
      clustering additionally unions the MinHash band-collision tier
      as a lexical floor — the dedup SURVIVOR semantics stay exactly
      what ``dedup_tiers`` requested; only the routing graph widens.
      ``split_on`` is ignored (the key is content-derived by
      construction).
    * ``"stable"`` — ``sampling.assign_splits_stable`` over the SAME
      shared routing clusters, with assignments persisted at
      ``split_state_path`` (first-assignment-wins across incremental
      runs; ``split_epoch`` passes through for idempotent replay).
      Assignment is at SURVIVOR grain — the persisted state keys the
      deduped corpus the pipeline actually ships.  The output carries
      an extra ``split_cluster`` column (the routing-cluster label) so
      ``prepare_training_shards``' straddle quarantine is one
      aggregate over it, not a second candidate generation.

    ``url_col`` (optional, round 10) turns on the URL tier for crawl
    corpora: ``operators/urls.dedup_by_url`` collapses canonical-URL
    variants (recrawls, tracking params, case/port/fragment noise)
    BEFORE anything else — it is the cheapest dedup tier and shrinks
    everything downstream — and ``max_pages_per_domain`` (requires
    ``url_col``) applies ``urls.cap_per_domain``, the anti-SEO-farm
    page budget at registrable-domain grain, before content-level
    near-dedup ever sees the farm's pages.

    Redaction runs FIRST among the content stages (before features and
    dedup) so documents that differ only in embedded PII become exact
    duplicates and collapse, and no PII influences quality/language
    scores or ships in any output row.
    """
    from mapreduce_framework_for_mergesort_spark.operators.text import (
        redact_pii,
    )

    if split_mode not in ("hash", "leakage_safe", "stable"):
        raise ValueError(
            f"unknown split_mode {split_mode!r}; "
            "known: 'hash', 'leakage_safe', 'stable'"
        )
    if split_mode == "stable" and not split_state_path:
        raise ValueError("split_mode='stable' requires split_state_path")
    if split_mode == "stable" and "split_cluster" in documents.columns:
        # the stable router emits this column; a silent overwrite (or
        # a downstream quarantine aggregating over user data) is worse
        # than a loud rename request (round-8 review)
        raise ValueError(
            "documents already carry a 'split_cluster' column, which "
            "split_mode='stable' reserves for its routing-cluster "
            "label — rename the input column"
        )
    if max_pages_per_domain is not None and url_col is None:
        raise ValueError("max_pages_per_domain requires url_col")
    if url_col is not None:
        from mapreduce_framework_for_mergesort_spark.operators import (
            urls as _urls,
        )

        documents = _urls.dedup_by_url(documents, url_col=url_col)
        if max_pages_per_domain is not None:
            documents = _urls.cap_per_domain(
                documents, max_pages_per_domain, url_col=url_col
            )
    if redact:
        documents = redact_pii(documents)
    if strip_spans:
        documents = (
            D.strip_dup_spans(documents, k=dup_span_k)
            .drop("text", "n_tokens", "n_kept_tokens")
            .withColumnRenamed("stripped_text", "text")
            .where(F.col("text") != "")
        )
    want_rep = max_dup_token_frac is not None
    keep = (F.col("quality") >= min_quality) & F.col("pred_lang").isin(
        *langs
    )
    if want_rep:
        # Gopher-style repetition ceiling: heavily repetitive docs
        # (boilerplate, generation loops) are filtered in the SAME
        # one-scan projection (dup_token_frac is defined once, in
        # operators/text.text_feature_exprs)
        keep = keep & (F.col("dup_token_frac") <= max_dup_token_frac)
    feat = with_curation_features(documents, with_repetition=want_rep)
    kept = feat.where(keep).drop(
        "quality", "pred_lang", *(["dup_token_frac"] if want_rep else [])
    )
    # When the span ceiling AND decontamination both run with the same
    # window size (the defaults: DUP_SPAN_K == DECONTAM_N == 8), both
    # consume the SAME positional-gram table — one tokenize→window→hash
    # scan, materialized, instead of two (round 6; the fallback
    # SCALE_NOTES.md round 5 named but didn't wire).  Decontamination
    # flags are a per-document property, so computing them from the
    # pre-span-filter gram table and anti-joining after the span filter
    # is exactly equivalent to re-shingling the filtered corpus.
    shared_grams = None
    if (
        max_dup_span_frac is not None
        and benchmark is not None
        and dup_span_k == decontam_n
    ):
        from mapreduce_framework_for_mergesort_spark.operators.materialize import (
            materialize as _mat,
        )

        shared_grams = _mat(D.positional_ngrams(kept, k=dup_span_k))
    if max_dup_span_frac is not None:
        # Position-level boilerplate ceiling (tier-6 spans): unlike the
        # WITHIN-doc dup_token_frac above, this one is corpus-relative
        # — a k-token window repeated in any OTHER document counts — so
        # it cannot live in the one-scan projection; it costs the
        # gram-count shuffle of dup_spans.  Runs after the cheap
        # filters (smaller corpus feeds the gram pass) as an anti-join
        # on the offending doc_ids — the flagged set is the small side,
        # so AQE turns the anti-join into a broadcast at runtime.
        flagged = (
            D.dup_span_profile(kept, k=dup_span_k, grams=shared_grams)
            .where(F.col("dup_token_frac") > max_dup_span_frac)
            .select("doc_id")
        )
        kept = kept.join(flagged, "doc_id", "left_anti")
    if benchmark is not None:
        kept = D.decontaminate(
            kept, benchmark, n=decontam_n, doc_grams=shared_grams
        )
    split_clusters = None
    if split_mode in ("leakage_safe", "stable"):
        # Inline near_dedup_documents' stages so the candidate pairs
        # and cluster labels are computed ONCE and shared between
        # survivor selection and split routing (the whole point of the
        # composition — a second candidate generation over the corpus
        # would double the dominant dedup cost).  collapse_exact
        # resolves exactly as near_dedup_documents does.
        from mapreduce_framework_for_mergesort_spark.operators.materialize import (
            materialize,
        )

        collapse = "embedding" not in dedup_tiers
        pool = (
            kept.join(D.exact_rep_ids(kept), "doc_id", "semi")
            if collapse
            else kept
        )
        pairs = D.near_dup_pair_tiers(
            pool,
            dedup_tiers,
            embeddings,
            embed_tau,
            embed_cells,
        )
        if "minhash" in dedup_tiers:
            # routing graph == dedup graph: one clustering serves both
            dedup_clusters = materialize(
                D.cluster_pairs(pairs, nodes=pool.select("doc_id"))
            )
            split_clusters = dedup_clusters
        else:
            # lexical floor for ROUTING only: a lexical near-dup the
            # configured tiers can't see must still travel as one
            # cluster through the split.  pairs is consumed by both
            # clusterings — cut the candidate-generation lineage.
            pairs = materialize(pairs)
            dedup_clusters = D.cluster_pairs(
                pairs, nodes=pool.select("doc_id")
            )
            split_clusters = materialize(
                D.cluster_pairs(
                    pairs.unionByName(
                        D.lsh_candidate_pairs(D.minhash_bands(pool))
                    ).distinct(),
                    nodes=pool.select("doc_id"),
                )
            )
        deduped = kept.join(
            D.cluster_survivors(dedup_clusters).select(
                F.col("keep_doc_id").alias("doc_id")
            ),
            "doc_id",
            "semi",
        )
    else:
        deduped = D.near_dedup_documents(
            kept,
            tiers=dedup_tiers,
            embeddings=embeddings,
            embed_tau=embed_tau,
            embed_cells=embed_cells,
        )
    if cluster_cap is not None:
        # Cluster-balanced cap (SemDeDup-style diversity step): assign
        # survivors to embedding k-means cells and keep at most
        # cluster_cap per cell — near-dedup removes COPIES, this caps
        # TOPICS, so one over-crawled domain can't dominate the mix.
        # Runs after dedup (caps count unique survivors, not dup mass)
        # and before the split (all splits stay balanced).  Documents
        # without an embedding row form their own stratum (cell -1)
        # rather than silently dropping.
        if embeddings is None:
            raise ValueError(
                "cluster_cap requires an embeddings table for cell "
                "assignment"
            )
        from mapreduce_framework_for_mergesort_spark.operators import (
            similarity,
        )

        # min-per-doc_id: a duplicate vec_id row in the embeddings
        # table would otherwise fan each affected survivor out to
        # multiple rows through the left join, duplicating doc_ids
        # downstream and violating balanced_sample's unique-key
        # contract (round-4 advisory).  ivf_cells is deterministic per
        # vector, so exact-duplicate rows collapse to the same cell;
        # conflicting vectors under one vec_id keep the smallest cell —
        # deterministic, unlike dropDuplicates' first-seen survivor.
        cells = (
            similarity.ivf_cells(embeddings, num_centroids=embed_cells)
            .groupBy(F.col("vec_id").alias("doc_id"))
            .agg(F.min("cell").alias("cell"))
        )
        deduped = (
            deduped.join(cells, "doc_id", "left")
            .withColumn("cell", F.coalesce(F.col("cell"), F.lit(-1)))
        )
        deduped = sampling.balanced_sample(
            deduped, "cell", cluster_cap, key="doc_id"
        ).drop("cell")
    if split_mode == "leakage_safe":
        return sampling.leakage_safe_split(
            deduped, splits=splits, clusters=split_clusters
        )
    if split_mode == "stable":
        assigned = sampling.assign_splits_stable(
            deduped,
            split_state_path,
            splits=splits,
            clusters=split_clusters,
            epoch=split_epoch,
        )
        # carry the routing-cluster label out (assign_splits_stable
        # drops its internal copy): downstream straddle detection is
        # then ONE aggregate over ``split_cluster`` instead of a
        # second candidate generation over the corpus
        return assigned.join(
            split_clusters.withColumnRenamed("cluster", "split_cluster"),
            F.col("doc_id") == F.col("node"),
        ).drop("node")
    return sampling.hash_split(deduped, split_on, splits)


def prepare_training_shards(
    documents: DataFrame,
    out_dir: str,
    budget: int = 2048,
    shards_per_split: int = 4,
    input_checks: list | None = None,
    quarantine_straddlers: bool = False,
    **curate_kwargs,
) -> dict:
    """The last mile: curated corpus → on-disk training shards.

    Composes ``curate_documents`` (redact → filter → [decontaminate] →
    near-dedup → split) with per-split sequence packing
    (``sampling.pack_documents``) and a layout-aware shard write, then
    returns a small manifest dict — the artifact a training job
    consumes directly:

    * packing runs WITHIN each split (a training sequence must never
      straddle a train/test boundary — packing the whole corpus first
      would concatenate across splits);
    * each split writes to ``<out_dir>/<split>/`` range-partitioned by
      ``pack_id`` and sorted by (pack_id, pack_offset): every shard
      file owns a contiguous pack range in order, so a data loader
      streams shard files sequentially with zero shuffling at read
      time, and pack_id range predicates prune at file level (footer
      min/max — the same mechanism ``operators/layout.py`` measures);
    * the manifest carries per-split docs / tokens / packs / shards —
      all Spark-side aggregates (counts and int64 sums; nothing
      data-sized ever reaches the driver); budgets count whitespace
      tokens, per split of ``curate_documents``' ``splits``;
    * ``input_checks`` (a list of ``operators/quality.py`` check
      tuples) gates the RAW input before anything runs: one
      conditional-aggregate scan, and a failing check raises with
      every violated constraint listed — a corrupt landing zone can't
      burn curation/tokenizer cost or leave partial shard output.
    * ``quarantine_straddlers`` (round-7 verdict item 4; requires
      ``split_mode='stable'`` in the curate kwargs): a near-dup
      cluster whose PERSISTED assignments straddle splits — the
      structural leakage a later bridge document creates, which
      ``assign_splits_stable`` correctly refuses to re-route — is
      quarantined from the EVAL side before packing: its val/test
      members are dropped, its train members kept (train is the safe
      side; a leaked eval example corrupts measurement, a dropped one
      doesn't).  The manifest records ``straddling_clusters`` and
      ``docs_quarantined_from_eval``, so the drop is auditable, never
      silent.  Detection is one aggregate over the ``split_cluster``
      column the stable router already carries — no second candidate
      generation.

    Determinism end to end: every stage is a pure function of content
    (hash split, hash dedup survivors, key-ordered packing), so a
    rerun produces the same rows with the same (pack_id, pack_offset)
    assignments — the property that makes 100 TB pipeline re-runs
    diffable at the ROW level.  Which pack ranges land in which shard
    FILE is not pinned (``repartitionByRange`` samples its boundaries
    per run), so diff re-runs on rows, not file bytes.  ``pack_id`` is
    scoped per split directory (each split packs its own token stream
    from 0).
    """
    from mapreduce_framework_for_mergesort_spark.operators.materialize import (
        materialize,
    )

    if (
        quarantine_straddlers
        and curate_kwargs.get("split_mode") != "stable"
    ):
        # argument-only validation belongs at function entry — before
        # the input-checks full-corpus scan or any curation cost is
        # paid (round-8 review pass 2).  Keyed on the REQUESTED mode,
        # not column presence: a user corpus carrying its own
        # 'split_cluster' column under another router must not smuggle
        # arbitrary data into the quarantine aggregate.
        raise ValueError(
            "quarantine_straddlers requires split_mode='stable' "
            "(the hash and leakage_safe routers route whole "
            "clusters, so straddles cannot exist)"
        )
    if input_checks:
        # Data-quality gate FIRST (operators/quality.py — one
        # conditional-aggregate scan): a corrupt landing zone (null
        # texts, duplicate doc_ids, out-of-range metadata) fails the
        # run loudly here, before any curation/tokenizer cost is paid
        # or partial shard output is written.
        from mapreduce_framework_for_mergesort_spark.operators.quality import (
            assert_valid,
        )

        assert_valid(documents, input_checks)

    # One curation run, not one per split: each split's pack+write
    # branch consumes the SAME materialized survivors (lineage cut) —
    # without this the redact→features→dedup pipeline re-executes per
    # split, tripling the dominant cost at any scale.
    curated = materialize(
        curate_documents(documents, **curate_kwargs), eager=False
    )
    splits = curate_kwargs.get("splits", sampling.DEFAULT_SPLITS)
    quarantine_stats = None
    if quarantine_straddlers:  # mode validated at function entry
        # keep-side: the literal 'train' split when one exists, else
        # the first split (the module convention puts train/largest
        # first) — positional-only keying silently inverted the
        # documented train-kept/eval-dropped behavior for callers who
        # order splits differently (round-8 review)
        train_name = next(
            (n for n, _w in splits if n == "train"), splits[0][0]
        )
        # straddling clusters + their eval-side doc count, one
        # aggregate over the materialized survivors (split_cluster is
        # the routing label the stable router carried out)
        straddle = materialize(
            curated.groupBy("split_cluster")
            .agg(
                F.countDistinct("split").alias("__n_splits"),
                F.sum(
                    F.when(F.col("split") != train_name, 1).otherwise(0)
                ).alias("__n_eval_docs"),
            )
            .where(F.col("__n_splits") > 1)
            .select("split_cluster", "__n_eval_docs")
        )
        stats = straddle.agg(
            F.count(F.lit(1)).alias("clusters"),
            F.coalesce(F.sum("__n_eval_docs"), F.lit(0)).alias("docs"),
        ).collect()[0]
        quarantine_stats = {
            "straddling_clusters": int(stats["clusters"]),
            "docs_quarantined_from_eval": int(stats["docs"]),
            "kept_in": train_name,
        }
        # the quarantine: eval-side members of straddling clusters are
        # dropped; train-side members kept (tiny straddle set — AQE
        # broadcasts the flag join)
        flagged = straddle.select("split_cluster").withColumn(
            "__straddle", F.lit(True)
        )
        curated = (
            curated.join(flagged, "split_cluster", "left")
            .where(
                F.col("__straddle").isNull()
                | (F.col("split") == train_name)
            )
            .drop("__straddle")
        )
    if curate_kwargs.get("split_mode") == "stable":
        # routing metadata, not training data — never ships in a
        # shard.  Dropped only when THIS call put it there (stable
        # mode): a user corpus legitimately carrying a column of this
        # name under another router must pass through untouched
        # (round-8 review).
        curated = curated.drop("split_cluster")
    manifest: dict = {
        "budget": budget,
        "token_unit": "whitespace",
        "splits": {},
        **(
            {"quarantine": quarantine_stats}
            if quarantine_stats is not None
            else {}
        ),
    }
    for split, _w in splits:
        sub = curated.where(F.col("split") == split).drop("split")
        # materialized: the shard write and the manifest aggregate
        # below would otherwise EACH run the packing passes (cumsum
        # mapInPandas + offsets window + broadcast join) over the
        # split (round-4+ review)
        packed = materialize(
            sampling.pack_documents(sub, budget), eager=False
        )
        (
            packed.repartitionByRange(shards_per_split, "pack_id")
            .sortWithinPartitions("pack_id", "pack_offset")
            .write.mode("overwrite")
            .parquet(f"{out_dir}/{split}")
        )
        agg = packed.agg(
            F.count(F.lit(1)).alias("docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tokens"),
        ).collect()[0]
        tokens = int(agg["tokens"])
        manifest["splits"][split] = {
            "docs": agg["docs"],
            "tokens": tokens,
            # ceil(tokens/budget), NOT max(pack_id)+1: pack_id is where
            # a document STARTS, and a last document that straddles into
            # the final (partial) pack would undercount it
            "packs": -(-tokens // budget),
            "shards": shards_per_split,
            "path": f"{out_dir}/{split}",
        }
    return manifest
