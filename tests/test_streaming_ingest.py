"""Continuous ingestion with incremental near-dedup: first-arrival
representative, cross-batch rejection via the persisted index, and
stream/batch-backfill equivalence."""

from __future__ import annotations

import pytest

from mapreduce_framework_for_mergesort_spark.streaming import ingest as I

BASE = "the quick brown fox jumps over the lazy dog again and again ok"
NEAR = "the quick brown fox jumps over the lazy dog again and again yes"
OTHER = "completely different content about spark shuffles and sorting"
THIRD = "yet another unrelated document mentioning window functions only"

BATCH_A = [(1, BASE), (7, BASE), (4, OTHER)]  # 7 = exact dup of 1
BATCH_B = [(2, BASE), (3, NEAR), (5, THIRD)]  # 2/3 near-dup accepted 1


def _drain(spark, tmp_path, tag: str):
    d = str(tmp_path / f"stream_{tag}")
    a = spark.createDataFrame(BATCH_A, ["doc_id", "text"])
    b = spark.createDataFrame(BATCH_B, ["doc_id", "text"])
    a.coalesce(1).write.mode("overwrite").parquet(d)
    b.coalesce(1).write.mode("append").parquet(d)
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = str(tmp_path / f"out_{tag}")
    idx = str(tmp_path / f"idx_{tag}")
    q = I.ingest_documents_stream(
        stream, idx, out, str(tmp_path / f"ck_{tag}")
    )
    q.awaitTermination()
    return out, idx


def test_ingest_stream_first_arrival_wins(spark, tmp_path):
    """Batch A: {1,7} collapse to 1 (within-batch min-id), 4 accepted.
    Batch B: 2 (exact dup of accepted 1) and 3 (near-dup) rejected via
    the index; 5 accepted.  The index holds exactly the accepted docs'
    bands."""
    out, idx = _drain(spark, tmp_path, "main")
    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    assert accepted == [1, 4, 5]
    for tier in ("bands", "hashes"):
        idx_docs = sorted(
            r["doc_id"]
            for r in spark.read.parquet(f"{idx}/{tier}")
            .select("doc_id")
            .distinct()
            .collect()
        )
        assert idx_docs == [1, 4, 5], tier


def test_ingest_stream_equals_batch_backfill(spark, tmp_path):
    """Draining the stream equals calling accept_batch per batch in
    arrival order — the streaming wrapper adds delivery, not
    semantics (so a backfill and a live feed agree)."""
    out_s, _ = _drain(spark, tmp_path, "s")
    out_b = str(tmp_path / "out_b")
    idx_b = str(tmp_path / "idx_b")
    for rows in (BATCH_A, BATCH_B):
        I.accept_batch(
            spark.createDataFrame(rows, ["doc_id", "text"]), idx_b, out_b
        )
    got_s = {r["doc_id"] for r in spark.read.parquet(out_s).collect()}
    got_b = {r["doc_id"] for r in spark.read.parquet(out_b).collect()}
    assert got_s == got_b == {1, 4, 5}


def test_ingest_short_doc_exact_dups_rejected_cross_batch(spark, tmp_path):
    """Docs too short to shingle produce no bands; the exact (hash)
    tier of the index must still reject their byte-identical copies in
    later batches (round-4+ review: the band-only index re-accepted
    them forever)."""
    out = str(tmp_path / "out_sh")
    idx = str(tmp_path / "idx_sh")
    I.accept_batch(
        spark.createDataFrame([(10, "ok thanks")], ["doc_id", "text"]),
        idx, out,
    )
    I.accept_batch(
        spark.createDataFrame(
            [(20, "ok thanks"), (21, "different tiny")], ["doc_id", "text"]
        ),
        idx, out,
    )
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [10, 21]


def test_ingest_rejects_transitive_chain_to_history(spark, tmp_path):
    """A batch doc with NO direct index collision whose cluster-mate
    collides must be rejected too (transitive closure — round-4+
    review: the survivor-only index probe accepted it).  doc 31 is an
    exact copy of shipped doc 30 (guaranteed collision, min-id batch
    survivor would be 31's cluster-mate 29); 29 pairs with 31 within
    the batch.  Both must be rejected: 29 only chains to history
    through 31."""
    from mapreduce_framework_for_mergesort_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
    )

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = "the quick brown fox jumps over the lazy dog again and again no"
    out = str(tmp_path / "out_tr")
    idx = str(tmp_path / "idx_tr")
    I.accept_batch(
        spark.createDataFrame([(30, base)], ["doc_id", "text"]), idx, out
    )
    batch2 = spark.createDataFrame(
        [(29, near), (31, base)], ["doc_id", "text"]
    )
    # precondition: 29 and 31 are within-batch LSH candidates (else
    # this test exercises nothing)
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_bands(batch2)).collect()
    }
    assert (29, 31) in pairs
    I.accept_batch(batch2, idx, out)
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [30]


def test_ingest_rejected_doc_cannot_evict_earlier_representative(
    spark, tmp_path
):
    """doc 2 has a SMALLER id than nothing here, but doc 0 in a later
    batch has a smaller id than accepted doc 1 — first-arrival must
    still win (the batch min-id rule applies only WITHIN a batch): an
    ingest pipeline never revokes shipped documents."""
    out = str(tmp_path / "out_r")
    idx = str(tmp_path / "idx_r")
    I.accept_batch(
        spark.createDataFrame([(1, BASE)], ["doc_id", "text"]), idx, out
    )
    I.accept_batch(
        spark.createDataFrame([(0, BASE)], ["doc_id", "text"]), idx, out
    )
    assert [r["doc_id"] for r in spark.read.parquet(out).collect()] == [1]


def _full_state(spark, out, idx):
    """Sorted row contents of all three persisted surfaces — the
    equality the exactly-once guarantee is pinned on."""

    def rows(path, cols):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(path).select(*cols).collect()
        )

    return (
        rows(out, ["doc_id", "text", "epoch"]),
        rows(f"{idx}/hashes", ["doc_id", "__h", "epoch"]),
        rows(f"{idx}/bands", ["doc_id", "band_id", "band_val", "epoch"]),
    )


def test_ingest_epoch_retry_is_exactly_once(spark, tmp_path):
    """Epoch-keyed ingest (round 5): replaying an epoch — whole or
    after a partial-failure crash between the three writes — rebuilds
    the IDENTICAL corpus+index state.  In particular the retry must
    not reject the batch against its own earlier writes (the index
    reads exclude the current epoch), which would silently drop every
    retried document."""
    import shutil

    out = str(tmp_path / "out_eo")
    idx = str(tmp_path / "idx_eo")
    a = spark.createDataFrame(BATCH_A, ["doc_id", "text"])
    b = spark.createDataFrame(BATCH_B, ["doc_id", "text"])
    I.accept_batch(a, idx, out, epoch=0)
    I.accept_batch(b, idx, out, epoch=1)
    want = _full_state(spark, out, idx)
    accepted = sorted(r[0] for r in want[0])
    assert accepted == [1, 4, 5]  # same semantics as the flat layout

    # full replay of a committed epoch: no appends, no self-rejection
    I.accept_batch(b, idx, out, epoch=1)
    assert _full_state(spark, out, idx) == want

    # crash after corpus+hashes but before bands: retry rebuilds all
    shutil.rmtree(f"{idx}/bands/epoch=1")
    I.accept_batch(b, idx, out, epoch=1)
    assert _full_state(spark, out, idx) == want

    # crash before anything but the corpus write: ditto
    shutil.rmtree(f"{out}/epoch=1")
    I.accept_batch(b, idx, out, epoch=1)
    assert _full_state(spark, out, idx) == want


def test_ingest_stale_epoch_replay_refused(spark, tmp_path):
    """Replaying an epoch OLDER than the latest persisted one must
    raise, not silently rewrite: the accept decision would see later
    epochs' partitions and could reject docs the original run accepted,
    leaving the old epoch's partition different instead of
    byte-identical (round-5 advisory).  Replaying the LATEST epoch
    stays allowed — that is the retry case exactly-once relies on."""
    import pytest

    out = str(tmp_path / "out_st")
    idx = str(tmp_path / "idx_st")
    a = spark.createDataFrame(BATCH_A, ["doc_id", "text"])
    b = spark.createDataFrame(BATCH_B, ["doc_id", "text"])
    I.accept_batch(a, idx, out, epoch=0)
    I.accept_batch(b, idx, out, epoch=1)
    want = _full_state(spark, out, idx)
    with pytest.raises(ValueError, match="older than the latest"):
        I.accept_batch(a, idx, out, epoch=0)
    # refused replay left every byte of state untouched
    assert _full_state(spark, out, idx) == want
    # latest-epoch replay still allowed and still idempotent
    I.accept_batch(b, idx, out, epoch=1)
    assert _full_state(spark, out, idx) == want


def test_ingest_stream_is_epoch_keyed(spark, tmp_path):
    """The streaming wrapper passes the real epoch id through, so a
    drained stream leaves an epoch-partitioned (retry-idempotent)
    layout — and the cross-batch rejection semantics are unchanged."""
    out, idx = _drain(spark, tmp_path, "eo")
    corpus = spark.read.parquet(out)
    assert "epoch" in corpus.columns
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 4, 5]
    assert {r["epoch"] for r in corpus.collect()} == {0, 1}


def _data_rows(spark, out, idx):
    """Sorted row contents of the three surfaces WITHOUT the epoch
    column — the reader-visible data contract compaction must
    preserve (the per-row epoch is delivery-layout metadata: folding
    closed epochs rewrites it to the folded range's high-water id)."""

    def rows(path, cols):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(path).select(*cols).collect()
        )

    return (
        rows(out, ["doc_id", "text"]),
        rows(f"{idx}/hashes", ["doc_id", "__h"]),
        rows(f"{idx}/bands", ["doc_id", "band_id", "band_val"]),
    )


def _count_files(root):
    import os

    n = 0
    for dirpath, _dirs, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_compact_epochs_preserves_content_and_replay(spark, tmp_path):
    """Round 6: folding closed epochs must change NOTHING a reader or
    the accept decision can observe — identical data rows on all three
    surfaces, the latest (replayable) epoch untouched, fewer files —
    and a replay of the latest epoch after compaction still converges
    to the identical state."""
    out = str(tmp_path / "out_cp")
    idx = str(tmp_path / "idx_cp")
    a = spark.createDataFrame(BATCH_A, ["doc_id", "text"])
    b = spark.createDataFrame(BATCH_B, ["doc_id", "text"])
    c = spark.createDataFrame(
        [(9, "one more novel document about columnar file layouts")],
        ["doc_id", "text"],
    )
    I.accept_batch(a, idx, out, epoch=0)
    I.accept_batch(b, idx, out, epoch=1)
    I.accept_batch(c, idx, out, epoch=2)
    want = _data_rows(spark, out, idx)
    files_before = _count_files(out)

    stats = I.compact_ingest_state(spark, idx, out)
    assert stats["corpus"]["epochs_folded"] == 2
    assert stats["corpus"]["hi"] == 1
    # byte-level read content identical on every surface
    assert _data_rows(spark, out, idx) == want
    # the latest epoch dir is untouched; closed ones folded into hi=1
    import os

    assert sorted(
        d for d in os.listdir(out) if d.startswith("epoch=")
    ) == ["epoch=1", "epoch=2"]
    assert _count_files(out) < files_before
    assert I._max_persisted_epoch(spark, out) == 2

    # replay of the latest epoch (the only replayable one) still
    # converges to identical state after compaction
    I.accept_batch(c, idx, out, epoch=2)
    assert _data_rows(spark, out, idx) == want
    # stale replays stay refused
    with pytest.raises(ValueError, match="older than the latest"):
        I.accept_batch(a, idx, out, epoch=0)
    # idempotent: a second compaction has nothing to do
    assert I.compact_ingest_state(spark, idx, out)["corpus"] is None
    assert _data_rows(spark, out, idx) == want
    # the stream keeps running on top of the compacted layout
    I.accept_batch(
        spark.createDataFrame(
            [(11, "a later microbatch after the compaction ran fine")],
            ["doc_id", "text"],
        ),
        idx,
        out,
        epoch=3,
    )
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [1, 4, 5, 9, 11]


def test_compact_epochs_crash_recovery(spark, tmp_path):
    """The two crash windows repair on re-run: a PARTIAL temp (no
    _SUCCESS — sources intact) is discarded and rebuilt; a COMPLETED
    temp whose swap half-finished (a source dir already deleted — the
    temp is the only full copy) is finished, losing nothing."""
    import os
    import shutil

    from mapreduce_framework_for_mergesort_spark.operators.layout import (
        compact_epochs,
    )

    out = str(tmp_path / "out_cr")
    idx = str(tmp_path / "idx_cr")
    a = spark.createDataFrame(BATCH_A, ["doc_id", "text"])
    b = spark.createDataFrame(BATCH_B, ["doc_id", "text"])
    c = spark.createDataFrame(
        [(9, "one more novel document about columnar file layouts")],
        ["doc_id", "text"],
    )
    I.accept_batch(a, idx, out, epoch=0)
    I.accept_batch(b, idx, out, epoch=1)
    I.accept_batch(c, idx, out, epoch=2)
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    )

    # crash window 1: partial temp, no _SUCCESS — must be discarded
    junk = os.path.join(out, ".compact-epoch-1")
    os.makedirs(junk)
    open(os.path.join(junk, "part-junk.parquet"), "w").write("junk")
    stats = compact_epochs(spark, out)
    assert stats is not None and stats["hi"] == 1
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    )
    assert got == want

    # crash window 2: completed temp + half-finished swap (a source
    # dir already deleted; the temp holds the only full copy)
    out2 = str(tmp_path / "out_cr2")
    idx2 = str(tmp_path / "idx_cr2")
    I.accept_batch(a, idx2, out2, epoch=0)
    I.accept_batch(b, idx2, out2, epoch=1)
    I.accept_batch(c, idx2, out2, epoch=2)
    tmp = os.path.join(out2, ".compact-epoch-1")
    (
        spark.read.parquet(out2)
        .where("epoch <= 1")
        .drop("epoch")
        .coalesce(1)
        .write.parquet(tmp)
    )
    open(os.path.join(tmp, "_FOLDED"), "w").close()  # phase-1 marker
    shutil.rmtree(os.path.join(out2, "epoch=0"))  # the crashed swap
    stats = compact_epochs(spark, out2)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out2).select("doc_id", "text").collect()
    )
    assert got == want
    assert sorted(
        d for d in os.listdir(out2) if d.startswith("epoch=")
    ) == ["epoch=1", "epoch=2"]


def test_compact_epochs_converges_from_every_crash_point(spark, tmp_path):
    """Sweep the swap's crash window: after phase 1 commits (_SUCCESS
    exists), a crash may have deleted ANY subset of the source epoch
    dirs before the rename.  A re-run must converge to the identical
    row set from every such state — the completed temp is the full
    copy, so no prefix of deletions can lose data."""
    import os
    import shutil

    from mapreduce_framework_for_mergesort_spark.operators.layout import (
        compact_epochs,
    )

    n_epochs = 4
    rows_of = lambda e: [(e * 10 + i, f"doc {e}-{i}") for i in range(3)]
    want = sorted(r for e in range(n_epochs + 1) for r in rows_of(e))

    # crash after deleting the first k source dirs, k = 0..hi+1
    for k in range(n_epochs + 1):
        out = str(tmp_path / f"t{k}")
        for e in range(n_epochs + 1):  # epoch n_epochs stays latest
            spark.createDataFrame(
                rows_of(e), ["doc_id", "text"]
            ).coalesce(1).write.parquet(f"{out}/epoch={e}")
        hi = n_epochs - 1
        # phase 1, exactly as compact_epochs writes it
        (
            spark.read.parquet(out)
            .where(f"epoch <= {hi}")
            .drop("epoch")
            .coalesce(1)
            .write.parquet(f"{out}/.compact-epoch-{hi}")
        )
        open(f"{out}/.compact-epoch-{hi}/_FOLDED", "w").close()
        for e in range(k):  # the crashed swap's partial deletions
            shutil.rmtree(f"{out}/epoch={e}")
        stats = compact_epochs(spark, out)
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "text")
            .collect()
        )
        assert got == want, (k, stats)
        assert sorted(
            d for d in os.listdir(out) if d.startswith("epoch=")
        ) == [f"epoch={hi}", f"epoch={n_epochs}"], k
        # and a second run has nothing left to do
        assert compact_epochs(spark, out) is None


def test_compact_epochs_converges_from_every_swap_step(spark, tmp_path):
    """Round 7 (reader-safe swap ordering): the swap now runs
    retire-rename → temp-rename → delete-lowers → delete-retire, so a
    crash can land BETWEEN any two of those steps.  A re-run must
    converge to the identical row set and layout from every such
    state.  Step states swept:

    0. temp complete, nothing swapped (also the old window-1 state);
    1. original ``epoch=hi`` retired, temp not yet renamed in —
       the two-metadata-op under-reporting window;
    2. temp renamed into ``epoch=hi``, no lower deletes yet — the
       duplicate-history window, retire dir is the journal;
    3. temp renamed, SOME lowers deleted;
    4. everything deleted but the retire dir (journal) itself.
    """
    import os
    import shutil

    from mapreduce_framework_for_mergesort_spark.operators.layout import (
        compact_epochs,
    )

    n_epochs = 4
    hi = n_epochs - 1
    rows_of = lambda e: [(e * 10 + i, f"doc {e}-{i}") for i in range(3)]
    want = sorted(r for e in range(n_epochs + 1) for r in rows_of(e))

    for step in range(5):
        out = str(tmp_path / f"s{step}")
        for e in range(n_epochs + 1):  # epoch n_epochs stays latest
            spark.createDataFrame(
                rows_of(e), ["doc_id", "text"]
            ).coalesce(1).write.parquet(f"{out}/epoch={e}")
        tmp = f"{out}/.compact-epoch-{hi}"
        (
            spark.read.parquet(out)
            .where(f"epoch <= {hi}")
            .drop("epoch")
            .coalesce(1)
            .write.parquet(tmp)
        )
        open(f"{tmp}/_FOLDED", "w").close()  # phase-1 marker
        retire = f"{out}/.retire-epoch-{hi}"
        if step >= 1:
            os.rename(f"{out}/epoch={hi}", retire)
        if step >= 2:
            os.rename(tmp, f"{out}/epoch={hi}")
        if step >= 3:
            shutil.rmtree(f"{out}/epoch=0")
        if step >= 4:
            for e in range(1, hi):
                shutil.rmtree(f"{out}/epoch={e}")

        # states 2-4 must already read complete-or-duplicate, never
        # missing history (the reader contract the reorder buys):
        if step >= 2:
            seen = {
                tuple(r)
                for r in spark.read.parquet(out)
                .select("doc_id", "text")
                .collect()
            }
            assert seen == set(want), step

        compact_epochs(spark, out)
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "text")
            .collect()
        )
        assert got == want, step
        assert sorted(
            d for d in os.listdir(out) if d.startswith("epoch=")
        ) == [f"epoch={hi}", f"epoch={n_epochs}"], step
        assert not os.path.exists(retire), step
        assert compact_epochs(spark, out) is None


# --- split stability under incremental ingestion (round 7) -----------

# A bridge triple, found by brute force against the engine's own band
# kernel: X ~ BRIDGE and Y ~ BRIDGE band-collide, X !~ Y (separate
# clusters until the bridge arrives), and the singleton cluster keys
# md5(md5(text)) route X and Y to DIFFERENT halves of a 50/50 split
# (buckets 4f / e8).  Y has the smaller md5(text), so a merged cluster
# inherits Y's split.
SPLIT_X = ("alpha zebra charlie delta echo foxtrot golf hotel india "
           "juliet kilo lima mike")
SPLIT_Y = ("alpha bravo charlie delta echo foxtrot golf hotel tango "
           "juliet kilo lima mike")
SPLIT_BRIDGE = ("alpha bravo charlie delta echo foxtrot golf hotel "
                "india juliet kilo lima mike")
HALVES = [("train", 0.5), ("test", 0.5)]


def test_assign_splits_stable_bridging_near_dup(spark, tmp_path):
    """Round-6 verdict item 2: ``leakage_safe_split`` routes by the
    cluster's min-md5 content key recomputed per run, so a later batch
    whose document BRIDGES two clusters flips the routing key of
    documents already shipped — cross-increment eval leakage.
    ``assign_splits_stable`` pins first-assignment-wins: every batch-1
    document keeps its original split after the bridge arrives, the
    bridge doc inherits deterministically (the prior split of the
    min-content-hash member), and the now-structural straddle is left
    in place instead of silently re-routed."""
    from mapreduce_framework_for_mergesort_spark.operators import (
        sampling as S,
    )

    state = str(tmp_path / "split_state")
    docs1 = spark.createDataFrame(
        [(1, SPLIT_X), (2, SPLIT_Y)], ["doc_id", "text"]
    )
    a1 = {
        r["doc_id"]: r["split"]
        for r in S.assign_splits_stable(docs1, state, HALVES).collect()
    }
    # first run == the one-shot batch routing, and the fixture routes
    # the two (not-yet-bridged) clusters to different splits
    ls1 = {
        r["doc_id"]: r["split"]
        for r in S.leakage_safe_split(docs1, HALVES).collect()
    }
    assert a1 == ls1 == {1: "train", 2: "test"}

    # batch 2: the bridge arrives; corpus snapshot = all three docs
    docs2 = spark.createDataFrame(
        [(1, SPLIT_X), (2, SPLIT_Y), (3, SPLIT_BRIDGE)],
        ["doc_id", "text"],
    )
    assigned2 = S.assign_splits_stable(docs2, state, HALVES)
    a2 = {r["doc_id"]: r["split"] for r in assigned2.collect()}
    # every batch-1 document keeps its original split
    assert a2[1] == a1[1] and a2[2] == a1[2]
    # the bridge inherits the min-content-hash prior member's split (Y)
    assert a2[3] == "test"

    # the one-shot routing WOULD have re-routed a shipped document:
    # the merged cluster routes whole, so doc 1 or doc 2 flips
    ls2 = {
        r["doc_id"]: r["split"]
        for r in S.leakage_safe_split(docs2, HALVES).collect()
    }
    assert len(set(ls2.values())) == 1  # one merged cluster, one split
    assert ls2[1] != a1[1] or ls2[2] != a1[2]

    # idempotent: re-running on the same snapshot changes nothing
    a3 = {
        r["doc_id"]: r["split"]
        for r in S.assign_splits_stable(docs2, state, HALVES).collect()
    }
    assert a3 == a2


def test_assign_splits_stable_epoch_replay(spark, tmp_path):
    """The epoch-keyed state path mirrors ``accept_batch``: replaying
    the LATEST epoch is byte-idempotent (per-epoch overwrite, decision
    reads exclude the epoch's own partition); replaying an older epoch
    is refused."""
    import pytest

    from mapreduce_framework_for_mergesort_spark.operators import (
        sampling as S,
    )

    state = str(tmp_path / "split_state_ep")
    docs1 = spark.createDataFrame(
        [(1, SPLIT_X), (2, SPLIT_Y)], ["doc_id", "text"]
    )
    a1 = {
        r["doc_id"]: r["split"]
        for r in S.assign_splits_stable(
            docs1, state, HALVES, epoch=0
        ).collect()
    }
    docs2 = spark.createDataFrame(
        [(1, SPLIT_X), (2, SPLIT_Y), (3, SPLIT_BRIDGE)],
        ["doc_id", "text"],
    )
    a2 = {
        r["doc_id"]: r["split"]
        for r in S.assign_splits_stable(
            docs2, state, HALVES, epoch=1
        ).collect()
    }
    assert a2 == {**a1, 3: "test"}
    # replaying the latest epoch converges to the identical state
    a2r = {
        r["doc_id"]: r["split"]
        for r in S.assign_splits_stable(
            docs2, state, HALVES, epoch=1
        ).collect()
    }
    assert a2r == a2
    rows = sorted(
        (r["doc_id"], r["split"])
        for r in spark.read.parquet(state).select(
            "doc_id", "split"
        ).collect()
    )
    assert rows == sorted(a2.items())
    # stale replays are refused, as in accept_batch
    with pytest.raises(ValueError, match="older than the latest"):
        S.assign_splits_stable(docs1, state, HALVES, epoch=0)


def test_assign_splits_stable_null_text_edges(spark, tmp_path):
    """Round-7 verdict item 7: ``assign_splits_stable`` hashes
    ``md5(text cast binary)``, so a NULL-text document carries a NULL
    content hash through the inherit/ckey aggregates — this pins that
    every NULL/empty/whitespace-text edge routes DETERMINISTICALLY
    and STABLY across round trips:

    * a new singleton NULL-text doc routes via ``split_column``'s NULL
      guard to the FIRST split (never null, never the silent
      otherwise() branch);
    * replay is byte-idempotent (the NULL doc's persisted assignment
      is honored, not recomputed);
    * a LATER NULL-text doc joins the first one's exact-dup cluster
      (groupBy groups NULLs together) and INHERITS its split — the
      min(struct(__h, __prior)) aggregate is deterministic with a
      NULL first field;
    * already-assigned docs never move when the NULL docs arrive."""
    from mapreduce_framework_for_mergesort_spark.operators import (
        sampling as S,
    )

    state = str(tmp_path / "split_state_null")
    docs1 = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, SPLIT_X)],
        "doc_id: bigint, text: string",
    )
    a1 = {
        r["doc_id"]: r["split"]
        for r in S.assign_splits_stable(docs1, state, HALVES).collect()
    }
    assert set(a1) == {1, 2, 3, 4}
    assert all(s in ("train", "test") for s in a1.values())
    # NULL content key -> the explicit first-split guard, both here
    # and in the one-shot router
    assert a1[1] == "train"
    one_shot = {
        r["doc_id"]: r["split"]
        for r in S.leakage_safe_split(docs1, HALVES).collect()
    }
    assert one_shot == a1

    # round trip: replay changes nothing
    a1r = {
        r["doc_id"]: r["split"]
        for r in S.assign_splits_stable(docs1, state, HALVES).collect()
    }
    assert a1r == a1

    # a second NULL-text doc inherits the first one's split through
    # their exact-dup cluster; everyone else is untouched
    docs2 = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, SPLIT_X), (5, None)],
        "doc_id: bigint, text: string",
    )
    a2 = {
        r["doc_id"]: r["split"]
        for r in S.assign_splits_stable(docs2, state, HALVES).collect()
    }
    assert a2 == {**a1, 5: a1[1]}
    # and once more: the inherited assignment is now persisted too
    a2r = {
        r["doc_id"]: r["split"]
        for r in S.assign_splits_stable(docs2, state, HALVES).collect()
    }
    assert a2r == a2
    state_rows = dict(
        (r["doc_id"], r["split"])
        for r in spark.read.parquet(state).collect()
    )
    assert state_rows == a2


def test_compact_epochs_recovery_is_listing_order_safe(spark, tmp_path):
    """Round-7 review: the 'discarded partial temp + retire dir'
    recovery state was resolved per LISTING ORDER — '.compact-epoch-N'
    sorts before '.retire-epoch-N', so the stale retire entry re-queued
    hi with no temp anywhere and the final swap's delete phase removed
    every lower epoch with no folded copy — permanent data loss in the
    exact state the restore branch exists to repair.  Recovery now runs
    two passes over one snapshot (compact temps first, retire entries
    skipped once resolved); this pins the full state: partial temp
    (no _SUCCESS) + retire dir + target slot empty + lower epochs
    present → lower epochs survive, epoch hi is restored from retire,
    and a subsequent compaction folds everything normally."""
    import os

    from mapreduce_framework_for_mergesort_spark.operators.layout import (
        compact_epochs,
    )

    out = str(tmp_path / "order")
    rows_of = lambda e: [(e * 10 + i, f"doc {e}-{i}") for i in range(3)]
    n_epochs = 4
    for e in range(n_epochs + 1):
        spark.createDataFrame(rows_of(e), ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(f"{out}/epoch={e}")
    want = sorted(r for e in range(n_epochs + 1) for r in rows_of(e))

    hi = n_epochs - 1
    # the crash state: a PARTIAL temp (no _SUCCESS) beside a retire
    # dir holding the original epoch=hi, target slot empty
    (
        spark.read.parquet(out)
        .where(f"epoch <= {hi}")
        .drop("epoch")
        .coalesce(1)
        .write.parquet(f"{out}/.compact-epoch-{hi}")
    )
    os.remove(f"{out}/.compact-epoch-{hi}/_SUCCESS")
    os.rename(f"{out}/epoch={hi}", f"{out}/.retire-epoch-{hi}")

    stats = compact_epochs(spark, out)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    )
    assert got == want, stats  # nothing lost, epoch hi restored
    assert not any(
        d.startswith((".retire-", ".compact-")) for d in os.listdir(out)
    )


def test_compact_epochs_recovery_restore_crash_and_occupied_target(
    spark, tmp_path
):
    """Round-7 review (second pass): recovery itself must be
    crash-safe.  Two follow-on states of the 'partial temp + retire'
    repair are pinned:

    1. the repair crashed AFTER discarding the temp but BEFORE (the
       old ordering) restoring the retire dir — a later run sees ONLY
       the orphan retire dir with the target slot empty.  _swap must
       restore it and must NOT run the delete phase (the target is the
       un-folded original; the _FOLDED gate proves it);
    2. retire dir + OCCUPIED target + no temp — the janitorial-residue
       state.  A later run must leave the lower epochs alone forever
       (no folded copy exists anywhere), not complete a delete phase.
    """
    import os

    from mapreduce_framework_for_mergesort_spark.operators.layout import (
        compact_epochs,
    )

    rows_of = lambda e: [(e * 10 + i, f"doc {e}-{i}") for i in range(3)]
    n_epochs = 4
    hi = n_epochs - 1
    want = sorted(r for e in range(n_epochs + 1) for r in rows_of(e))

    # state 1: orphan retire, target empty, no temp anywhere
    out = str(tmp_path / "orphan")
    for e in range(n_epochs + 1):
        spark.createDataFrame(rows_of(e), ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(f"{out}/epoch={e}")
    os.rename(f"{out}/epoch={hi}", f"{out}/.retire-epoch-{hi}")
    compact_epochs(spark, out)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    )
    assert got == want  # restored, nothing deleted without a fold

    # state 2: retire beside an occupied target, no temp
    out2 = str(tmp_path / "occupied")
    for e in range(n_epochs + 1):
        spark.createDataFrame(rows_of(e), ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(f"{out2}/epoch={e}")
    spark.createDataFrame(
        rows_of(hi), ["doc_id", "text"]
    ).coalesce(1).write.parquet(f"{out2}/.retire-epoch-{hi}")
    compact_epochs(spark, out2)
    got2 = sorted(
        tuple(r)
        for r in spark.read.parquet(out2).select("doc_id", "text").collect()
    )
    assert got2 == want  # lower epochs survive; residue is inert


def test_compact_epochs_recovers_success_but_no_folded_temp(
    spark, tmp_path
):
    """Round-8 review: phase 1 commits the parquet _SUCCESS and only
    THEN creates the _FOLDED proof — a crash in that window leaves a
    committed temp with no marker.  The old recovery swapped the temp
    into epoch=hi but the _FOLDED gate then skipped the delete phase,
    so the lower epochs survived beside the consolidated copy and the
    NEXT compaction read both and permanently baked duplicate rows
    into the fold (reproduced: 24 rows vs 15 expected after one
    recovery+fold cycle).  Recovery now recreates _FOLDED on any
    _SUCCESS-bearing temp — by protocol a committed compact temp IS
    the consolidated copy.  This pins the full cycle: recover, verify
    the lower epochs are actually deleted, then fold AGAIN and verify
    no duplication."""
    import os

    from mapreduce_framework_for_mergesort_spark.operators.layout import (
        compact_epochs,
    )

    out = str(tmp_path / "nofolded")
    rows_of = lambda e: [(e * 10 + i, f"doc {e}-{i}") for i in range(3)]
    n_epochs = 4
    for e in range(n_epochs + 1):
        spark.createDataFrame(rows_of(e), ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(f"{out}/epoch={e}")
    want = sorted(r for e in range(n_epochs + 1) for r in rows_of(e))

    hi = n_epochs - 1
    # the crash state: committed temp (_SUCCESS present), _FOLDED
    # marker NOT yet created, sources untouched
    (
        spark.read.parquet(out)
        .where(f"epoch <= {hi}")
        .drop("epoch")
        .coalesce(1)
        .write.parquet(f"{out}/.compact-epoch-{hi}")
    )
    assert os.path.exists(f"{out}/.compact-epoch-{hi}/_SUCCESS")
    assert not os.path.exists(f"{out}/.compact-epoch-{hi}/_FOLDED")

    stats = compact_epochs(spark, out)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    )
    assert got == want, stats
    # the delete phase MUST have run: lower epochs gone, not stranded
    # beside the fold
    assert sorted(
        d for d in os.listdir(out) if d.startswith("epoch=")
    ) == [f"epoch={hi}", f"epoch={n_epochs}"]
    assert not any(
        d.startswith((".retire-", ".compact-")) for d in os.listdir(out)
    )

    # the duplication trigger: append two more epochs and fold again —
    # with stranded lower epochs this re-read both copies
    for e in (n_epochs + 1, n_epochs + 2):
        spark.createDataFrame(rows_of(e), ["doc_id", "text"]).coalesce(
            1
        ).write.parquet(f"{out}/epoch={e}")
    compact_epochs(spark, out)
    want2 = sorted(
        r for e in range(n_epochs + 3) for r in rows_of(e)
    )
    got2 = sorted(
        tuple(r)
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    )
    assert got2 == want2  # exactly once — no baked-in duplicates


def test_retract_documents_lifecycle(spark, tmp_path):
    """retract_documents (round 8): takedown from the continuously
    ingested corpus, end to end.

    (a) MASKING: read_corpus excludes the retracted doc immediately,
    while the raw epoch partitions still hold it (deletion is
    metadata until the fold);
    (b) FRESH JUDGMENT: a later batch carrying a byte-identical copy
    of the RETRACTED text is accepted (its index rows are excluded
    from the exact and band decisions), while a copy of a
    NON-retracted doc is still rejected;
    (c) exactly-once hygiene: idempotent retry, slug validation, empty
    takedown, crash-leftover temp invisible;
    (d) PHYSICAL FOLD: compact_ingest_state removes the retracted rows
    from every closed epoch of all three surfaces via the transform
    hook, read_corpus is unchanged by the fold, tombstones survive it
    (the live epoch may still carry rows), and the stream keeps
    accepting afterwards."""
    import os

    out = str(tmp_path / "ret_corpus")
    idx = str(tmp_path / "ret_idx")
    batch = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])

    I.accept_batch(batch([(1, BASE), (4, OTHER)]), idx, out, epoch=0)
    I.accept_batch(batch([(5, THIRD)]), idx, out, epoch=1)
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {1, 4, 5}

    # (a) retract doc 1; masked logically, present physically
    assert I.retract_documents(spark, out, [1], "takedown-1") is True
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {4, 5}
    assert spark.read.parquet(out).where("doc_id = 1").count() == 1

    # (c) hygiene
    assert I.retract_documents(spark, out, [1], "takedown-1") is False
    with pytest.raises(ValueError, match="plain slug"):
        I.retract_documents(spark, out, [1], ".bad")
    assert I.retract_documents(spark, out, [], "takedown-empty") is True
    import shutil

    shutil.copytree(
        f"{out}/_tombstones/takedown-1", f"{out}/_tombstones/.tmp-x"
    )
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {4, 5}

    # (b) a new copy of the retracted BASE text is accepted; a copy of
    # the still-shipped OTHER text stays rejected
    I.accept_batch(batch([(11, BASE), (14, OTHER)]), idx, out, epoch=2)
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {4, 5, 11}

    # (d) fold: epochs 0 and 1 are closed (latest is 2) — retracted
    # rows leave every surface physically; answers unchanged
    stats = I.compact_ingest_state(spark, idx, out)
    assert stats["corpus"] is not None
    assert spark.read.parquet(out).where("doc_id = 1").count() == 0
    assert (
        spark.read.parquet(f"{idx}/hashes").where("doc_id = 1").count()
        == 0
    )
    assert (
        spark.read.parquet(f"{idx}/bands").where("doc_id = 1").count()
        == 0
    )
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {4, 5, 11}
    assert os.path.isdir(f"{out}/_tombstones/takedown-1")  # kept

    # the feed keeps flowing on the folded, tombstoned layout — and a
    # NEAR-dup of the retracted text now also gets fresh judgment
    # through the band tier (doc 11 is its new representative, so a
    # near-dup of BASE is rejected against 11, not against history)
    I.accept_batch(batch([(21, NEAR), (24, "fresh content here ok")]),
                   idx, out, epoch=3)
    got = {r["doc_id"] for r in I.read_corpus(spark, out).collect()}
    assert 24 in got and 21 not in got  # NEAR near-dups accepted 11


def test_retract_fold_fires_with_single_closed_epoch(spark, tmp_path):
    """Round-8 review: compact_epochs' <2-closed-epochs economics
    guard silently skipped the retraction fold on an ALREADY-COMPACTED
    surface (epochs {hi, live} — the steady state every compacted feed
    sits in), leaving takedown rows physical indefinitely while the
    stats dict read 'nothing to do'.  With a transform, a single
    closed epoch folds: pin the takedown becoming physical from
    exactly that state."""
    out = str(tmp_path / "one_corpus")
    idx = str(tmp_path / "one_idx")
    batch = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    I.accept_batch(batch([(1, BASE), (4, OTHER)]), idx, out, epoch=0)
    I.accept_batch(batch([(5, THIRD)]), idx, out, epoch=1)
    I.compact_ingest_state(spark, idx, out)  # steady state: {0(hi), 1}
    assert sorted(
        d for d in __import__("os").listdir(out) if d.startswith("epoch=")
    ) == ["epoch=0", "epoch=1"]

    assert I.retract_documents(spark, out, [1], "t1") is True
    stats = I.compact_ingest_state(spark, idx, out)
    assert stats["corpus"] is not None  # the fold FIRED
    assert spark.read.parquet(out).where("doc_id = 1").count() == 0
    assert (
        spark.read.parquet(f"{idx}/hashes").where("doc_id = 1").count()
        == 0
    )
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {4, 5}
    # plain maintenance compaction (no tombstones pending elsewhere)
    # keeps its economics: a tombstone-free surface with one closed
    # epoch still returns None
    out2 = str(tmp_path / "plain")
    idx2 = str(tmp_path / "plain_idx")
    I.accept_batch(batch([(1, BASE)]), idx2, out2, epoch=0)
    I.accept_batch(batch([(5, THIRD)]), idx2, out2, epoch=1)
    # one closed epoch, no tombstones -> the economics guard holds
    assert I.compact_ingest_state(spark, idx2, out2)["corpus"] is None


def test_retracted_doc_id_is_dead_on_reingest(spark, tmp_path):
    """Round-8 review: accept_batch accepted an incoming row that
    REUSED a retracted doc_id — creating rows read_corpus masks
    forever and the next fold physically deletes (silent loss of an
    'accepted' document).  The tombstone keys the identity: the
    incoming row is dropped, and the same content under a NEW doc_id
    is accepted (fresh judgment)."""
    out = str(tmp_path / "dead_corpus")
    idx = str(tmp_path / "dead_idx")
    batch = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    I.accept_batch(batch([(7, BASE), (4, OTHER)]), idx, out, epoch=0)
    assert I.retract_documents(spark, out, [7], "t1") is True

    # re-delivery under the SAME id: dropped, nowhere on any surface
    I.accept_batch(batch([(7, BASE)]), idx, out, epoch=1)
    assert spark.read.parquet(out).where(
        "doc_id = 7 AND epoch = 1"
    ).count() == 0
    assert spark.read.parquet(f"{idx}/hashes").where(
        "doc_id = 7 AND epoch = 1"
    ).count() == 0

    # the same content under a NEW id: accepted (fresh judgment)
    I.accept_batch(batch([(70, BASE)]), idx, out, epoch=2)
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {4, 70}


def test_replay_quiesce_mismatch_fails_loudly(spark, tmp_path):
    """Round 9: the retraction/replay quiesce contract is MECHANICAL.
    Each epoch records the tombstone-batch set it decided against
    (written before any data write); a replay that sees a different
    set raises instead of silently writing a partition that diverges
    from rows downstream consumers already read.  Recovery per the
    error's instruction (delete the epoch's partitions + record,
    re-run) rebuilds the epoch under the new set; a replay with an
    UNCHANGED set stays byte-identical and quiet."""
    import os
    import shutil

    out = str(tmp_path / "q_corpus")
    idx = str(tmp_path / "q_idx")
    batch = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    I.accept_batch(batch([(1, BASE), (4, OTHER)]), idx, out, epoch=0)
    I.accept_batch(batch([(5, THIRD)]), idx, out, epoch=1)

    # a retraction lands inside epoch 1's replay window
    assert I.retract_documents(spark, out, [4], "t1") is True
    with pytest.raises(RuntimeError, match="replay window"):
        I.accept_batch(batch([(5, THIRD)]), idx, out, epoch=1)
    # the loud failure wrote nothing: epoch 1 still holds doc 5
    assert spark.read.parquet(out).where(
        "doc_id = 5 AND epoch = 1"
    ).count() == 1

    # recovery per the error message: drop the epoch's partitions and
    # its decision record, then re-run the epoch
    for d in (
        f"{out}/epoch=1",
        f"{idx}/hashes/epoch=1",
        f"{idx}/bands/epoch=1",
    ):
        shutil.rmtree(d, ignore_errors=True)
    os.remove(f"{idx}/_decisions/epoch-1")
    I.accept_batch(batch([(5, THIRD)]), idx, out, epoch=1)
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {1, 5}

    # replay with the UNCHANGED set: quiet and idempotent
    I.accept_batch(batch([(5, THIRD)]), idx, out, epoch=1)
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {1, 5}

    # records below the latest PERSISTED epoch are garbage-collected,
    # but the persisted epoch's own record survives the next epoch's
    # record write — GC keyed to the in-flight epoch instead opened a
    # crash window (record written, data writes not yet) in which the
    # still-replayable previous epoch had silently lost its quiesce
    # guard (round-9 review).  Ignore the local FS's .crc shadows.
    I.accept_batch(batch([(9, "entirely new content for epoch two")]),
                   idx, out, epoch=2)
    assert sorted(
        n for n in os.listdir(f"{idx}/_decisions") if not n.startswith(".")
    ) == ["epoch-1", "epoch-2"]
    I.accept_batch(batch([(10, "and another for epoch three")]),
                   idx, out, epoch=3)
    assert sorted(
        n for n in os.listdir(f"{idx}/_decisions") if not n.startswith(".")
    ) == ["epoch-2", "epoch-3"]


def test_retraction_fold_retires_and_stops_rewriting(spark, tmp_path):
    """Round-9 advice (medium): the first takedown must not turn every
    later compaction into a full-history rewrite of all three surfaces
    forever.  The fold records per-batch high-water marks: a batch
    RETIRES once a fold covers its publish epoch on all surfaces, and
    an unretired batch triggers a rewrite only when a NEWLY-closed
    epoch exists — a no-progress compaction is transform-free (all
    stats None)."""
    T4 = "fourth piece of writing about catalyst rules and pruning now"
    T5 = "fifth piece regarding shuffle partitions and memory spills ok"
    T6 = "sixth piece on broadcast joins and adaptive execution paths"
    out = str(tmp_path / "hw_corpus")
    idx = str(tmp_path / "hw_idx")
    batch = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    I.accept_batch(batch([(1, BASE), (4, OTHER)]), idx, out, epoch=0)
    I.accept_batch(batch([(5, THIRD)]), idx, out, epoch=1)

    # takedown of doc 1 while epochs {0,1} exist -> publish epoch 2
    assert I.retract_documents(spark, out, [1], "t1") is True
    I.accept_batch(batch([(6, T4)]), idx, out, epoch=2)
    I.accept_batch(batch([(8, T5)]), idx, out, epoch=3)

    # fold 1 covers epochs 0..2 >= t1's publish epoch -> t1 retires
    stats = I.compact_ingest_state(spark, idx, out)
    assert stats["corpus"]["hi"] == 2
    assert spark.read.parquet(out).where("doc_id = 1").count() == 0
    state = I._read_fold_state(spark, f"{out}/_tombstones")
    assert state["retired"] == {"t1": 2}

    # no new tombstones, no new closed epochs: transform-free no-op
    stats = I.compact_ingest_state(spark, idx, out)
    assert stats == {"corpus": None, "hashes": None, "bands": None}

    # a NEW takedown re-activates the transform exactly once per
    # closed-epoch progress: fold fires now (doc 5's rows leave the
    # folded partition), then goes quiet until more epochs close
    assert I.retract_documents(spark, out, [5], "t2") is True
    stats = I.compact_ingest_state(spark, idx, out)
    assert stats["corpus"] is not None
    assert spark.read.parquet(out).where("doc_id = 5").count() == 0
    stats = I.compact_ingest_state(spark, idx, out)  # no progress
    assert stats == {"corpus": None, "hashes": None, "bands": None}
    state = I._read_fold_state(spark, f"{out}/_tombstones")
    assert state["folded_through"] == {"t2": 2}

    # epochs close past t2's publish epoch (4) -> next fold retires it
    I.accept_batch(batch([(9, T6)]), idx, out, epoch=4)
    I.accept_batch(
        batch([(10, "seventh text naming window frames and salting")]),
        idx, out, epoch=5,
    )
    stats = I.compact_ingest_state(spark, idx, out)
    assert stats["corpus"]["hi"] == 4
    state = I._read_fold_state(spark, f"{out}/_tombstones")
    assert state["retired"] == {"t1": 2, "t2": 4}
    assert state["folded_through"] == {}
    stats = I.compact_ingest_state(spark, idx, out)
    assert stats == {"corpus": None, "hashes": None, "bands": None}

    # masking never wavered through any of it
    assert {
        r["doc_id"] for r in I.read_corpus(spark, out).collect()
    } == {4, 6, 8, 9, 10}


def test_marker_namespace_batch_ids_rejected(spark, tmp_path):
    """Round-9 review: a batch_id beginning with '_' lands exactly
    where marker files live under ``_tombstones/`` — a batch named
    ``_RETRACTION_FOLDS`` would make the fold-state publish fail
    against a directory, and a pre-existing marker would make the
    batch publish read as an idempotent retry, silently dropping the
    takedown.  The slug check now reserves the '_' namespace."""
    out = str(tmp_path / "ns_corpus")
    idx = str(tmp_path / "ns_idx")
    I.accept_batch(
        spark.createDataFrame([(1, BASE)], ["doc_id", "text"]),
        idx, out, epoch=0,
    )
    with pytest.raises(ValueError, match="plain slug"):
        I.retract_documents(spark, out, [1], "_RETRACTION_FOLDS")
    with pytest.raises(ValueError, match="plain slug"):
        I.retract_documents(spark, out, [1], "_anything")
