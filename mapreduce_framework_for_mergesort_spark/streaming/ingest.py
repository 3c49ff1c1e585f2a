"""Continuous corpus ingestion with incremental near-dedup.

The batch pipeline (``pipelines.curate_documents``) answers "dedup this
corpus"; a production corpus is not a corpus but a FEED.  This module
is the streaming composition: documents arrive in microbatches, each
batch is deduped against everything ACCEPTED SO FAR via a persisted
two-tier index — content hashes (exact tier: catches every byte-dup,
including documents too short to shingle) and LSH bands (near tier) —
novel documents are appended to the output table and their hash+band
rows to the index.  The corpus and its dedup index grow together; no
batch ever re-bands history.

Semantics (first-arrival-wins): the representative of a duplicate
cluster is the first accepted document; later arrivals that match the
index are REJECTED — including TRANSITIVELY: the batch's candidate
pairs are closed into clusters (``dedup.cluster_pairs``) and a cluster
containing ANY index hit is rejected whole, so a document that only
chains to shipped history through a rejected batch-mate cannot slip in
(the same transitive-closure semantics as the batch operator).  This
differs deliberately from the batch operator's min-id survivor — an
ingest pipeline must not revoke a document it already shipped
downstream.  Within one microbatch, ties fall back to the batch rule
(min doc_id), keeping the whole history deterministic for a given
batch sequence.

Per microbatch (``foreachBatch``), with ONE banding pass:

1. exact tier: collapse the batch per md5(text) (min doc_id), then
   drop representatives whose hash is already indexed;
2. band the remainder once (materialized);
3. within-batch LSH pairs from those bands + index-collision hits from
   the same bands; cluster the pairs; reject every cluster containing
   a hit; accept the remaining cluster labels (= min-id survivors);
4. append accepted rows to ``out_path``, their (doc_id, text_md5)
   rows to ``<index>/hashes``, and their band rows (reused from step
   2, not re-banded) to ``<index>/bands`` partitioned by band_id.

Scale shape: the stored corpus is NEVER re-banded or re-scanned — each
batch pays O(batch) banding + one hash anti-join + one band equi-join
+ three appends; the band index is partitioned by band_id so the join
prunes band-aligned files.

Delivery: EXACTLY-ONCE via epoch-keyed overwrite (round 5).
Each microbatch writes its corpus rows, hash rows, and band rows to its
own ``epoch=N`` partition with ``overwrite`` mode, so a retried epoch
REPLACES its own (possibly partial) output instead of appending a
duplicate.  Two properties make the retry byte-equivalent, pinned in
``tests/test_streaming_ingest.py``:

* the accept DECISION is deterministic under partial failure: the
  index reads EXCLUDE the current epoch's partitions, so a crash
  between the three writes cannot make the retry reject the batch
  against its own half-written rows (epochs are serialized by
  Structured Streaming, and a replayable source re-delivers the same
  batch content for a replayed epoch id — the file source's guarantee);
* the writes are per-epoch overwrites, so re-running an epoch yields
  the identical final directory state regardless of what the failed
  attempt left behind.

An index/corpus is either all epoch-keyed (the stream path and
``epoch=``-passing backfills) or all flat-append (legacy
``epoch=None`` backfills, at-least-once) — parquet partition discovery
cannot mix the two layouts under one root.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.operators.dedup import (
    cluster_pairs,
    lsh_candidate_pairs,
    minhash_bands,
)
from mapreduce_framework_for_mergesort_spark.operators.materialize import (
    materialize,
)


def _read_optional(spark, path: str) -> DataFrame | None:
    """Read a parquet dir that legitimately may not exist yet (first
    batch).  Only the path-not-found analysis error maps to None — any
    other failure (storage outage, corrupt footer, permissions) must
    FAIL the batch so streaming retries it; swallowing it would
    silently disable cross-batch dedup and pollute the corpus."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException as ex:
        msg = str(ex)
        # UNABLE_TO_INFER_SCHEMA: the dir exists but holds no parquet
        # footers — an all-empty append (e.g. a first batch of only
        # shingle-less docs wrote zero band rows) left a schemaless
        # dir, which genuinely means "nothing indexed yet"
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise
    return df


def _max_persisted_epoch(spark, path: str) -> int | None:
    """Largest ``epoch=N`` partition under ``path``, from a FILESYSTEM
    LISTING (Hadoop FS API — no data scan, works on any scheme).
    None if the dir is absent or holds no epoch partitions."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsc.hadoopConfiguration()
    fs = jpath.getFileSystem(conf)
    if not fs.exists(jpath):
        return None
    best: int | None = None
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("epoch="):
            try:
                e = int(name[len("epoch="):])
            except ValueError:
                continue
            best = e if best is None or e > best else best
    return best


def _exclude_epoch(df: DataFrame | None, epoch: int | None):
    """Drop the current epoch's own partitions from an index read — a
    retried epoch must decide against PRIOR history only, never its own
    failed attempt's partial writes.  Legacy flat-append indexes have
    no ``epoch`` column and pass through untouched."""
    if df is None or epoch is None or "epoch" not in df.columns:
        return df
    return df.where(F.col("epoch") != F.lit(epoch))


def accept_batch(
    batch: DataFrame,
    index_path: str,
    out_path: str,
    epoch: int | None = None,
) -> None:
    """One ingest step (the ``foreachBatch`` body, callable directly
    for batch backfills): dedup ``batch`` within itself and against
    the two-tier index, then persist the accepted docs + their index
    rows.  With ``epoch`` (the stream path, or a deterministic
    backfill) all three writes are idempotent per-epoch overwrites —
    exactly-once under retries; ``epoch=None`` keeps the legacy
    flat-append layout (at-least-once).

    Replay guard: an epoch may only be replayed while it is still the
    LATEST persisted epoch.  Replaying an older epoch after later
    epochs have committed would let the accept decision see those
    later partitions and reject docs the original run accepted —
    leaving the epoch's partition silently different instead of
    byte-identical.  Structured Streaming's serialized epochs never
    hit this; the guard exists for the directly-callable backfill
    path, which raises ``ValueError`` instead of corrupting state.

    Quiesce contract, MECHANICAL (round 9 — previously a docstring
    plea on ``retract_documents``): the only decision input that can
    legally change between an epoch's original run and its replay is
    the published retraction-tombstone set, so each epoch records the
    set it decided against in ``<index_path>/_decisions/epoch-N``
    (tiny sidecar, written BEFORE any data write so every crash window
    is covered).  A replay whose listing differs from the record
    raises ``RuntimeError`` instead of silently writing a partition
    that diverges from what downstream consumers may already have
    read.  Records below the latest epoch are garbage-collected (the
    replay guard already forbids replaying those)."""
    spark = batch.sparkSession
    from mapreduce_framework_for_mergesort_spark.io import (
        list_tombstone_batch_ids,
    )

    # ONE listing feeds both the decision record and the tombstone
    # read below — two listings could straddle a concurrent publish
    # and record a set that differs from the rows actually read
    tomb_ids = list_tombstone_batch_ids(spark, f"{out_path}/_tombstones")
    if epoch is not None:
        persisted = _max_persisted_epoch(spark, f"{index_path}/hashes")
        if persisted is not None and epoch < persisted:
            raise ValueError(
                f"epoch {epoch} is older than the latest persisted "
                f"epoch {persisted}: replay is only idempotent for the "
                "latest epoch (older epochs' accept decisions would "
                "see later history and diverge)"
            )
        recorded = _read_decision_record(spark, index_path, epoch)
        if recorded is not None and recorded != tomb_ids:
            raise RuntimeError(
                f"epoch {epoch} replay sees retraction batches "
                f"{tomb_ids} but originally decided against "
                f"{recorded}: a retraction was published inside this "
                "epoch's replay window, so re-deciding could silently "
                "diverge from rows downstream consumers already read. "
                "Quiesce retractions around replays; to recover, "
                f"delete this epoch's partitions ({out_path}/epoch="
                f"{epoch} and the index's hashes/bands epoch={epoch}) "
                "plus the _decisions record, then re-run the epoch to "
                "rebuild it under the current tombstone set."
            )
        if recorded is None:
            _write_decision_record(spark, index_path, epoch, tomb_ids)
            # GC below the PERSISTED epoch, not the in-flight one: the
            # guard above still allows replaying `persisted`, so its
            # record must survive until a later epoch commits.  GCing
            # below the in-flight epoch opened a crash window (record
            # written, data writes not yet) where the previous — still
            # replayable — epoch had lost its record and a replay
            # would silently re-decide under a changed tombstone set
            # (round-9 review: the exact divergence this mechanism
            # exists to make loud).
            if persisted is not None:
                _gc_decision_records(spark, index_path, below=persisted)
    # one tombstone read per microbatch, shared by the three
    # exclusions below (round-8 review: building the same broadcast
    # twice on the hot path)
    tombs = _retraction_tombstones(spark, out_path, batch_ids=tomb_ids)

    def _minus_retracted(df):
        if df is None or tombs is None:
            return df
        return df.join(F.broadcast(tombs), "doc_id", "left_anti")

    # A retracted doc_id is DEAD: the tombstone keys the IDENTITY, so
    # an incoming row reusing it is dropped here — accepting it would
    # create rows read_corpus masks forever and the next fold deletes
    # (silent loss of an "accepted" doc; round-8 review).  Re-admission
    # of retracted content must arrive under a NEW doc_id.
    batch = _minus_retracted(batch)
    hashed = batch.withColumn(
        "__h", F.md5(F.col("text").cast("binary"))
    )
    # exact tier, within batch: one representative per distinct text
    # (min doc_id) — catches shingle-less short docs the band tier
    # cannot see
    reps = hashed.groupBy("__h").agg(F.min("doc_id").alias("doc_id"))
    pool = hashed.join(reps, ["doc_id", "__h"], "semi")
    # exact tier, against history — minus retracted docs (round 8:
    # a retracted document must not veto a future copy; its index
    # rows are masked here and removed physically at the next fold)
    idx_hashes = _minus_retracted(
        _exclude_epoch(
            _read_optional(spark, f"{index_path}/hashes"), epoch
        )
    )
    if idx_hashes is not None:
        pool = pool.join(idx_hashes.select("__h"), "__h", "anti")

    # ONE banding pass serves the within-batch pair tier, the index
    # probe, and the index append below
    bands = materialize(minhash_bands(pool))
    idx_bands = _minus_retracted(
        _exclude_epoch(
            _read_optional(spark, f"{index_path}/bands"), epoch
        )
    )
    if idx_bands is not None:
        hit = (
            bands.join(
                idx_bands.select("band_id", "band_val"),
                ["band_id", "band_val"],
                "semi",
            )
            .select(F.col("doc_id").alias("node"))
            .distinct()
        )
    else:
        hit = spark.createDataFrame([], "node: bigint")
    pairs = lsh_candidate_pairs(bands, materialize=False)
    clusters = cluster_pairs(pairs, nodes=pool.select("doc_id"))
    # transitive rejection: a cluster containing ANY index hit is
    # dropped whole — its members are (chains of) near-dups of shipped
    # documents
    bad = (
        clusters.join(hit, "node", "semi").select("cluster").distinct()
    )
    accepted_ids = (
        clusters.select("cluster").distinct()
        .join(bad, "cluster", "anti")
        .select(F.col("cluster").alias("doc_id"))
    )
    # Materialize the accept decision ONCE (repo materialization
    # policy: reliable checkpoint when the session has a checkpoint
    # dir) so the three appends below cannot diverge across
    # re-evaluations.
    accepted = materialize(pool.join(accepted_ids, "doc_id", "semi"))
    if epoch is None:
        mode, sfx = "append", ""
    else:
        # per-epoch overwrite: the retry replaces its own partition,
        # never appends beside a failed attempt's leftovers
        mode, sfx = "overwrite", f"/epoch={epoch}"
    accepted.drop("__h").write.mode(mode).parquet(f"{out_path}{sfx}")
    accepted.select("doc_id", "__h").write.mode(mode).parquet(
        f"{index_path}/hashes{sfx}"
    )
    bands.join(accepted_ids, "doc_id", "semi").write.mode(
        mode
    ).partitionBy("band_id").parquet(f"{index_path}/bands{sfx}")


#: Retraction-tombstone schema, explicit so an EMPTY takedown batch
#: (only a _SUCCESS marker) reads as zero rows, never an inference
#: failure — the same contract as the two batch indices' tombstones.
RETRACTION_SCHEMA = "doc_id bigint"

#: Sidecar inside each tombstone batch dir recording the first epoch
#: that CANNOT physically carry the batch's doc_ids (max persisted
#: epoch at publish time + 1 — every later accept_batch drops them at
#: entry, and +1 covers an epoch in flight during the publish).  The
#: fold high-water mark: once a fold's hi reaches this on all three
#: surfaces the batch is physically gone from every epoch it could
#: have touched and retires from the compaction transform.
_PUBLISH_EPOCH_FILE = "_PUBLISH_EPOCH"

#: Marker file under ``_tombstones/`` holding the retraction-fold
#: high-water marks: ``retired`` (batch id → fold hi that finished it)
#: and ``folded_through`` (still-active batch id → highest fold hi it
#: has been anti-joined through).  ``compact_ingest_state`` passes the
#: transform only when some batch would see NEWLY-closed epochs
#: (round-9 advice: without the marks, the first takedown made every
#: later compaction rewrite the full folded history of all three
#: surfaces forever, even with no new tombstones and no new epochs).
_FOLD_STATE_MARKER = "_RETRACTION_FOLDS"


def retract_documents(spark, out_path: str, doc_ids, batch_id: str) -> bool:
    """Takedown from the continuously-ingested corpus (round 8 — the
    lifecycle step that completes the feed story: documents leave
    corpora too, for legal, consent, or quality reasons, and a feed
    that can only ever grow is not a production corpus).  Publishes
    ``doc_ids`` as a tombstone batch under ``<out_path>/_tombstones/``
    (underscore-prefixed: invisible to the epoch-partition reads and
    to ``_list_epochs``); from then on

    * ``read_corpus`` masks the rows (broadcast anti-join — the
      consumer-facing corpus read);
    * ``accept_batch`` excludes the retracted docs' index rows from
      its exact-hash and band decisions, so a FUTURE copy of retracted
      content gets fresh judgment instead of silently deduping against
      a document that no longer ships (legal-takedown pipelines that
      must keep CATCHING re-uploads want a retained blocklist through
      ``dedup.decontaminate``, not tombstones);
    * the next ``compact_ingest_state`` fold makes the removal
      PHYSICAL on every closed epoch of all three surfaces (corpus,
      hashes, bands) via ``compact_epochs``' transform hook — no
      dedicated rewrite pass.  Tombstones are kept after folding (the
      live epoch may still carry the rows physically); they are
      bounded by takedown volume and fold away only on a full
      overwrite rebuild.  Each batch records the max persisted epoch
      at publish time (+1, the ``_PUBLISH_EPOCH`` sidecar — riding the
      atomic rename, so a crash can't publish a batch without it);
      once a fold covers that epoch on all three surfaces the batch
      RETIRES from the transform, so takedowns cost a bounded number
      of rewrites instead of rewriting the folded history forever
      (round-9 advice).

    A retracted ``doc_id`` is DEAD: the tombstone keys the identity,
    so ``accept_batch`` drops incoming rows that reuse it (accepting
    one would create rows ``read_corpus`` masks forever and the next
    fold deletes).  Re-admission of retracted content must arrive
    under a NEW doc_id — which the fresh-judgment index masking then
    accepts.

    Same durability discipline as every publish in this engine
    (delegated to ``io.publish_tombstone_batch``, shared with the
    IVFADC and LSH index takedowns): two-phase write + single-rename,
    idempotent retry returns False, a crash leaves an invisible temp.
    Ordering contract, ENFORCED since round 9: a retraction published
    inside an in-flight epoch's crash-replay window makes the replay
    fail loudly (``accept_batch`` compares the tombstone set against
    the epoch's recorded decision inputs) instead of silently
    diverging — still quiesce, but a violation is now a loud error,
    not corruption."""
    from mapreduce_framework_for_mergesort_spark.io import (
        publish_tombstone_batch,
    )
    from mapreduce_framework_for_mergesort_spark.operators.layout import (
        _list_epochs,
    )

    epochs = _list_epochs(spark, out_path)
    publish_epoch = (epochs[-1] if epochs else -1) + 1
    return publish_tombstone_batch(
        spark,
        f"{out_path}/_tombstones",
        RETRACTION_SCHEMA,
        doc_ids,
        batch_id,
        meta={_PUBLISH_EPOCH_FILE: str(publish_epoch)},
    )


def _retraction_tombstones(
    spark, out_path: str, batch_ids: list[str] | None = None
) -> DataFrame | None:
    """Union of published retraction batches (optionally pinned to a
    listing snapshot), or None when no takedown has ever run (the
    common case — it must cost readers nothing)."""
    from mapreduce_framework_for_mergesort_spark.io import (
        read_tombstone_batches,
    )

    return read_tombstone_batches(
        spark, f"{out_path}/_tombstones", RETRACTION_SCHEMA, batch_ids
    )


def _decision_record_path(index_path: str, epoch: int) -> str:
    return f"{index_path}/_decisions/epoch-{epoch}"


def _read_decision_record(
    spark, index_path: str, epoch: int
) -> list[str] | None:
    """The tombstone-batch-id set ``epoch`` originally decided
    against, or None if the epoch never started (no record)."""
    from mapreduce_framework_for_mergesort_spark.io import read_small_file

    s = read_small_file(spark, _decision_record_path(index_path, epoch))
    if s is None:
        return None
    return [line for line in s.split("\n") if line]


def _write_decision_record(
    spark, index_path: str, epoch: int, tomb_ids: list[str]
) -> None:
    """Publish the epoch's decision-input record (checked two-phase
    publish — ``io.publish_small_file``; a crash mid-write can't leave
    a half record a replay would 'mismatch' against, and a failed
    rename raises instead of leaving a stale record)."""
    from mapreduce_framework_for_mergesort_spark.io import (
        publish_small_file,
    )

    publish_small_file(
        spark, _decision_record_path(index_path, epoch), "\n".join(tomb_ids)
    )


def _gc_decision_records(spark, index_path: str, below: int) -> None:
    """Drop decision records for epochs ``< below`` — the replay guard
    already forbids replaying them, so their records can never be
    consulted again.  Keeps ``_decisions/`` at O(1) files."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(f"{index_path}/_decisions")
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("epoch-"):
            continue
        try:
            e = int(name[len("epoch-"):])
        except ValueError:
            continue
        if e < below:
            fs.delete(st.getPath(), False)


def _exclude_retracted(df, spark, out_path: str):
    """Anti-join ``df`` (any doc_id-keyed surface) against the
    published retraction tombstones; identity when none exist."""
    if df is None:
        return None
    tombs = _retraction_tombstones(spark, out_path)
    if tombs is None:
        return df
    return df.join(F.broadcast(tombs), "doc_id", "left_anti")


def read_corpus(spark, out_path: str) -> DataFrame:
    """The consumer-facing corpus read: every accepted document MINUS
    published retractions.  Plain ``spark.read.parquet(out_path)``
    still works when no takedown has ever run; after one it
    under-masks — always read the feed through this."""
    return _exclude_retracted(
        spark.read.parquet(out_path), spark, out_path
    )


def ingest_documents_stream(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
):
    """Start the ingestion query; returns the ``StreamingQuery``.  The
    trigger is ``availableNow``: drain what's there and stop (scheduled
    catch-up runs)."""

    def step(batch: DataFrame, epoch: int) -> None:
        # epoch-keyed: the stream path is exactly-once under retries
        accept_batch(batch, index_path, out_path, epoch=epoch)

    return (
        docs_stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_ingest_state(spark, index_path: str, out_path: str) -> dict:
    """Fold each surface's CLOSED epochs (strictly below its latest —
    the only epoch the replay guard permits replaying) into one
    consolidated partition per surface: the maintenance step a
    long-running stream needs, since exactly-once delivery writes one
    ``epoch=N`` directory per microbatch forever (small-file
    explosion).  Safe beside the running stream's writes and
    idempotent; a CONCURRENT reader (e.g. a microbatch's
    ``accept_batch`` semi-join against hashes/bands) sees at-worst
    transient duplicate history — harmless for the accept decision —
    except a two-rename metadata window on the folded epoch; protocol,
    reader contract, and crash-recovery in
    ``operators/layout.compact_epochs``.

    When retraction tombstones exist (``retract_documents``), the fold
    also makes those removals PHYSICAL on every closed epoch of all
    three surfaces — see the transform note below and the ordering
    contract on ``retract_documents``.  The transform is passed only
    while it has work to do (round 9): each batch carries a
    ``folded_through`` high-water mark, so a compaction where no
    active batch would see a newly-closed epoch runs transform-free,
    and a batch RETIRES outright once a fold covers its recorded
    publish epoch on all three surfaces (``_RETRACTION_FOLDS``
    marker) — the fix for the first takedown turning every subsequent
    compaction into a full-history rewrite of all three surfaces
    forever.  (Batches published before the sidecar existed retire at
    the first fold that runs — their closed-epoch rows are removed by
    that fold; rows in the then-live epoch stay masked until a full
    rebuild.)
    Returns the per-surface stats dicts (None where nothing to do)."""
    import math

    from mapreduce_framework_for_mergesort_spark.io import (
        list_tombstone_batch_ids,
        read_small_file,
    )
    from mapreduce_framework_for_mergesort_spark.operators.layout import (
        _list_epochs,
        compact_epochs,
        predicted_fold_hi,
    )

    # retraction fold (round 8; high-water marks round 9): while any
    # published takedown still has NEWLY-closed epochs to fold
    # through, the consolidated rewrite drops ALL tombstoned rows from
    # every closed epoch of all three doc_id-keyed surfaces — physical
    # removal at the rewrite the fold pays anyway.  Readers were
    # already masking these rows, so the fold changes bytes, never
    # answers; the tombstone batches stay (audit trail + the
    # accept-time identity check), only their transform participation
    # retires.
    troot = f"{out_path}/_tombstones"
    surfaces = (out_path, f"{index_path}/hashes", f"{index_path}/bands")
    all_ids = list_tombstone_batch_ids(spark, troot)
    state = _read_fold_state(spark, troot)
    retired, folded_through = state["retired"], state["folded_through"]
    active = [b for b in all_ids if b not in retired]

    tr = None
    if active:
        # the hi this compaction WOULD fold through (layout's own
        # probe — round-9 review: re-deriving the selection rule here
        # could desync from the fold); a None probe means crash
        # residue makes the answer unknown — be conservative and pass
        # the transform (an extra fold, never missed work)
        probes = [predicted_fold_hi(spark, p) for p in surfaces]
        exp_cov = (
            math.inf if None in probes
            else min(probes)  # type: ignore[type-var]
        )
        if any(folded_through.get(b, -1) < exp_cov for b in active):
            # the anti-join uses the FULL tombstone union, not just
            # the active batches — same single broadcast either way,
            # and it keeps the fold's "retained rows" proof
            # independent of the retirement bookkeeping
            tombs = materialize(
                _retraction_tombstones(spark, out_path, batch_ids=all_ids)
            )
            tr = lambda df: df.join(  # noqa: E731
                F.broadcast(tombs), "doc_id", "left_anti"
            )

    stats = {
        "corpus": compact_epochs(spark, out_path, transform=tr),
        "hashes": compact_epochs(spark, f"{index_path}/hashes", transform=tr),
        "bands": compact_epochs(
            spark,
            f"{index_path}/bands",
            partition_by=("band_id",),
            transform=tr,
        ),
    }

    if tr is not None:
        # Post-fold bookkeeping: batch B is fully physical-removed
        # once a fold has covered all epochs <= B's recorded publish
        # epoch on every surface.  A surface that has epochs but
        # didn't fold this time blocks (covered = -1).
        def _covered(path: str, st: dict | None) -> float:
            if st is not None:
                return st["hi"]
            return math.inf if not _list_epochs(spark, path) else -1.0

        cov = min(
            _covered(p, stats[k])
            for p, k in zip(surfaces, ("corpus", "hashes", "bands"))
        )
        cov_i = int(cov) if math.isfinite(cov) else -1
        changed = False
        for b in active:
            raw = read_small_file(
                spark, f"{troot}/{b}/{_PUBLISH_EPOCH_FILE}"
            )
            # a pre-sidecar batch retires at the first fold that runs:
            # its closed-epoch rows are removed by that fold; rows in
            # the then-live epoch stay masked until a full rebuild
            e_b = int(raw) if raw is not None else -1
            if cov >= e_b:
                retired[b] = cov_i
                folded_through.pop(b, None)
                changed = True
            elif cov > folded_through.get(b, -1):
                folded_through[b] = cov_i
                changed = True
        if changed:
            _write_fold_state(
                spark,
                troot,
                {"retired": retired, "folded_through": folded_through},
            )
    return stats


def _read_fold_state(spark, troot: str) -> dict:
    """The retraction-fold high-water marks (see ``_FOLD_STATE_MARKER``)
    — empty when no transform fold has completed yet."""
    import json

    from mapreduce_framework_for_mergesort_spark.io import read_small_file

    s = read_small_file(spark, f"{troot}/{_FOLD_STATE_MARKER}")
    if not s:
        return {"retired": {}, "folded_through": {}}
    return json.loads(s)


def _write_fold_state(spark, troot: str, state: dict) -> None:
    """Replace the fold-state marker (checked two-phase publish —
    ``io.publish_small_file``).  Its delete→rename window is
    economics-only here: a crash there re-treats every batch as
    unfolded, costing one extra transform fold, never data."""
    import json

    from mapreduce_framework_for_mergesort_spark.io import (
        publish_small_file,
    )

    publish_small_file(
        spark,
        f"{troot}/{_FOLD_STATE_MARKER}",
        json.dumps(state, sort_keys=True),
    )
