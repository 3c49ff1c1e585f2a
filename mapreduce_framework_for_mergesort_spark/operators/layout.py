"""File-layout operators: Z-order clustering and small-file compaction.

At 100 TB the dominant cost of most queries is the scan, and the scan's
cost is decided *at write time*: parquet readers skip whole files and
row groups whose column min/max statistics exclude the predicate, but
only if the writer physically clustered the data so those ranges are
narrow.  Two standing layout problems:

* **Multi-dimensional clustering.**  Sorting by one column gives
  perfect pruning on that column and none on any other.  Z-ORDER
  interleaves the bits of several columns into one clustering key
  (Morton code), so files cover small hyper-rectangles and range
  predicates on ANY of the participating columns prune — the same
  technique behind Delta Lake's ``OPTIMIZE ZORDER BY`` and ClickHouse/
  Iceberg space-filling-curve layouts, built here from pure codegen
  bit arithmetic (no UDF, no extra shuffle beyond the one write-time
  range partition every sorted write pays).
* **Small files.**  Streaming sinks and fine-grained partition dirs
  produce files far below the ~128 MB HDFS/columnar sweet spot; at
  1000 executors the scheduler drowns in file-open overhead (and the
  NameNode/object-store in metadata calls).  Compaction rewrites a
  directory at a target file size — read once, one narrow
  ``repartition``, write once.

The Z-order key is EXACT integer arithmetic on both engines (the same
cross-engine discipline as ``functions/hashing.py``): clamp each
column into [0, 2^ZORDER_BITS), then interleave bits round-robin.  DuckDB
replicates the expression verbatim, so layouts — not just query
results — are oracle-checkable, and the pruning claim itself is
verified in tests by reading parquet footer statistics (pyarrow) and
counting which files a range predicate can actually skip.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ZORDER_BITS = 16  # per-column resolution: 65536 buckets


def _interleave_terms(cols: list[str], shl, shr) -> str:
    """Shared Morton-code generator: bit b of column j lands at output
    position ``b * n_cols + j`` (LSB-first round-robin), rendered with
    engine-specific shift syntax via ``shl(expr, k)`` / ``shr(expr, k)``."""
    n = len(cols)
    mask = (1 << ZORDER_BITS) - 1
    terms = []
    for j, c in enumerate(cols):
        # The CAST TO BIGINT is load-bearing: on an IntegerType column
        # Spark's shiftleft does 32-BIT arithmetic (shift counts wrap
        # mod 32), which silently scrambles every bit position >= 32 —
        # measured: (65535, 65535) keyed to -1 instead of 2^32-1
        # (round-4+ review).  Clamping first keeps the cast safe for
        # any integral input.
        clamped = (
            f"CAST((CASE WHEN {c} < 0 THEN 0 WHEN {c} > {mask}"
            f" THEN {mask} ELSE {c} END) AS BIGINT)"
        )
        for b in range(ZORDER_BITS):
            terms.append(shl(f"({shr(clamped, b)} & 1)", b * n + j))
    return " + ".join(terms)


def spark_zorder_key(cols: list[str]) -> str:
    """Spark SQL expression for the Morton key of integer columns
    ``cols`` (clamped into [0, 2^ZORDER_BITS)); fits int64 for
    ``len(cols) * ZORDER_BITS <= 63``."""
    _check(cols)
    return "CAST({} AS BIGINT)".format(
        _interleave_terms(
            cols,
            lambda e, k: f"shiftleft({e}, {k})",
            lambda e, k: f"shiftright({e}, {k})",
        )
    )


def duckdb_zorder_key(cols: list[str]) -> str:
    """The identical key in DuckDB SQL (same clamp, same interleave) —
    layouts verify cross-engine like every other operator here."""
    _check(cols)
    return "CAST({} AS BIGINT)".format(
        _interleave_terms(
            cols,
            lambda e, k: f"({e} << {k})",
            lambda e, k: f"({e} >> {k})",
        )
    )


def _check(cols: list[str]) -> None:
    if not cols:
        raise ValueError("zorder needs at least one column")
    if len(cols) * ZORDER_BITS > 63:
        raise ValueError(
            f"{len(cols)} cols x {ZORDER_BITS} bits ="
            f" {len(cols) * ZORDER_BITS} key bits exceeds int64; drop columns"
        )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered by the Z-order of ``cols``:
    range-partition on the key (each file owns a contiguous Morton
    range = a small hyper-rectangle in col-space, so every
    participating column's per-file min/max is narrow), sort within
    partitions (narrow row-group stats too), drop the key, write.
    One shuffle — the same price as any globally sorted write; the
    multi-column pruning is free after that."""
    if num_files is not None and num_files <= 0:
        raise ValueError(f"num_files must be positive, got {num_files}")
    zk = F.expr(spark_zorder_key(cols))
    ranged = df.withColumn("__zkey", zk)
    ranged = (
        ranged.repartitionByRange(num_files, "__zkey")
        if num_files is not None
        else ranged.repartitionByRange("__zkey")
    )
    ranged.sortWithinPartitions("__zkey").drop("__zkey").write.mode(
        "overwrite"
    ).parquet(path)


# --- epoch-partition compaction (round 6) -----------------------------------
# The exactly-once ingest stream (streaming/ingest.py) writes one
# `epoch=N` partition per microbatch forever — correct, but a
# long-running stream inherits the classic small-file explosion: O(one
# directory + several files) per microbatch, and at a 30 s trigger
# that's ~2,900 directories a day per surface.  Compaction folds all
# CLOSED epochs (strictly below the latest persisted epoch) into one
# consolidated `epoch=hi` partition.
#
# Why this preserves every exactly-once property:
# * the row-level `epoch` column is delivery-layout metadata (which
#   partition directory a row committed under), not data — no reader
#   derives values from it; the accept/merge logic only ever EXCLUDES
#   the current epoch (`_exclude_epoch`) and compares the replayed
#   epoch against the MAX persisted epoch (the replay guard);
# * compacted rows keep an epoch (`hi`) strictly BELOW the latest, so
#   a replay of the latest epoch still sees them as prior history —
#   decision unchanged — and never overwrites their partition;
# * epochs < latest are exactly the ones the replay guard already
#   refuses to replay, so no future write can target a folded epoch;
# * new epochs only ever commit ABOVE the latest, so running beside a
#   live stream is safe: the source set (ids <= hi < latest) is frozen
#   at call time.
#
# Crash safety is a two-phase swap keyed on the parquet `_SUCCESS`
# marker: (1) consolidated data is fully written to a dot-prefixed
# temp dir (hidden from partition discovery) BEFORE any source
# directory is touched; (2) the swap retires the original `epoch=hi`
# (atomic rename to a hidden `.retire-epoch-hi`), renames the temp
# into `epoch=hi` (atomic), and only THEN deletes the lower source
# epochs, the retire dir LAST.  A crash anywhere leaves a state a
# RE-RUN repairs: temp without _SUCCESS → rewritten from the intact
# sources; temp with _SUCCESS → rewrite skipped, swap resumed from
# wherever it stopped (every row of every epoch <= hi is in the temp,
# and the retire dir doubles as the journal that the lower-epoch
# deletes may still be pending).  The function is idempotent.
#
# Concurrent-READER contract (round 7 — previously the swap deleted
# every source dir before the rename, so a reader in that window saw
# epoch hi's history MISSING and a dedup semi-join against it could
# silently re-accept already-shipped rows):
# * history is never under-reported except during the two back-to-back
#   metadata renames (retire, then temp-into-place) — a window of two
#   atomic namenode ops, no data I/O;
# * during the delete phase readers see transient DUPLICATE history
#   (folded `epoch=hi` plus not-yet-deleted lower epochs) — harmless
#   for the hashes/bands decision surfaces, whose consumers are
#   semi-joins / set-membership;
# * the corpus surface (`out_path`) transiently double-counts rows in
#   that same phase, so jobs that AGGREGATE the corpus should quiesce
#   the surface around compaction (as examples/ingest_and_compact.py
#   does) or read a snapshot listing.


# Marker file phase 1 writes into the consolidated temp (and which the
# rename carries into ``epoch=hi``): the proof that the dir is a FOLDED
# copy of every lower epoch, gating _swap's delete phase (see there).
_FOLDED_MARKER = "_FOLDED"


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _list_epochs(spark: SparkSession, path: str) -> list[int]:
    """Epoch ids with an ``epoch=N`` partition directory under ``path``
    (filesystem listing — no data scan), sorted ascending."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("epoch="):
            try:
                out.append(int(name[len("epoch="):]))
            except ValueError:
                continue
    return sorted(out)


def _count_parquet_files(fs, root) -> int:
    it = fs.listFiles(root, True)  # recursive
    n = 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            n += 1
    return n


def predicted_fold_hi(spark: SparkSession, path: str) -> float | None:
    """The ``hi`` a ``compact_epochs(path)`` call would fold through,
    WITHOUT running it — the probe ``compact_ingest_state`` uses to
    decide whether a retraction transform still has newly-closed
    epochs to work on (round-9 review: the caller previously
    re-derived this arithmetic privately, which could silently desync
    from what the fold actually does).

    Returns ``None`` when a crashed prior run left recovery residue
    (``.compact-epoch-*`` / ``.retire-epoch-*``): recovery can change
    the epoch set before ``hi`` is chosen, so the honest answer is
    "unknown" and callers must be conservative (assume work exists).
    Otherwise: ``+inf`` when the path has no epoch layout at all
    (nothing can ever need folding), ``-1`` when nothing is closed,
    else ``max(closed)`` — the same selection rule as the fold itself
    (keep the two in sync; see the ``closed = [...]`` site in
    ``compact_epochs``)."""
    import math

    fs, root = _hadoop_fs(spark, path)
    if not fs.exists(root):
        return math.inf
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith((".compact-epoch-", ".retire-epoch-")):
            return None
    epochs = _list_epochs(spark, path)
    if not epochs:
        return math.inf
    closed = [e for e in epochs if e < epochs[-1]]
    return float(max(closed)) if closed else -1.0


def compact_epochs(
    spark: SparkSession,
    path: str,
    partition_by: tuple[str, ...] = (),
    transform=None,
) -> dict | None:
    """Fold every CLOSED ``epoch=N`` partition under ``path`` (ids
    strictly below the latest persisted epoch) into one consolidated
    ``epoch=hi`` partition of one file (per value of ``partition_by``,
    for sub-partitioned surfaces like the band index).  The latest epoch —
    the only one the replay guard permits replaying — is never touched.
    Idempotent and crash-recoverable (protocol above); safe beside a
    live stream's WRITES, whose new epochs commit strictly above the
    source set.  Concurrent READERS see at-worst transient duplicate
    history, except a two-metadata-op rename window on epoch ``hi``
    (full contract in the protocol comment above).

    ``transform`` (optional, ``DataFrame -> DataFrame``) filters or
    rewrites rows DURING the phase-1 consolidated rewrite — the
    retraction fold hook (``streaming.ingest.compact_ingest_state``
    passes the tombstone anti-join so takedowns become physical at the
    natural rewrite point instead of needing their own corpus pass).
    With a transform, the ``_FOLDED`` proof reads "carries every lower
    epoch's RETAINED rows" — the delete phase is as safe as before
    because the dropped rows were dropped deliberately, and a crash
    recovery of a committed temp needs no knowledge of the transform
    (the temp already IS the retained copy).  Rows it removes must be
    rows the surface's readers already MASK (tombstoned): until the
    fold runs, epochs above ``hi`` — including the live one — still
    carry them physically.

    Returns ``{epochs_folded, hi, files_before, files_after}``, or
    ``None`` when there is nothing to do (fewer than two closed
    epochs and no pending swap)."""
    fs, root = _hadoop_fs(spark, path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    if not fs.exists(root):
        return None

    def _swap(hi: int, tmp) -> None:
        # Every row of every epoch <= hi is in the temp dir.  Order
        # matters for concurrent readers (module protocol comment):
        # the only under-reporting window is the two renames; the
        # delete phase shows at-worst duplicate history, with the
        # retire dir as the journal that deletes are still pending.
        target = Path(f"{path}/epoch={hi}")
        retire = Path(f"{path}/.retire-epoch-{hi}")
        if fs.exists(target) and fs.exists(tmp):
            fs.rename(target, retire)
        if fs.exists(tmp):
            fs.rename(tmp, target)
        if not fs.exists(target):
            # nothing folded and nothing to fold — restore the retired
            # original rather than proceed to deletes (a queued retire
            # entry whose temp vanished must never cost data)
            if fs.exists(retire):
                fs.rename(retire, target)
            return
        # The delete phase is gated on the _FOLDED marker phase 1
        # writes into the temp (round-7 review): it proves the dir now
        # sitting at epoch=hi is the CONSOLIDATED copy carrying every
        # lower epoch's rows.  Without it (a defensive, protocol-
        # unreachable state where the target is the un-folded
        # original), deleting the lower epochs would lose their rows —
        # leave everything in place instead; the retire dir stays as
        # inert janitorial residue.
        if not fs.exists(Path(f"{path}/epoch={hi}/{_FOLDED_MARKER}")):
            return
        for e in _list_epochs(spark, path):
            if e < hi:
                fs.delete(Path(f"{path}/epoch={e}"), True)
        fs.delete(retire, True)

    # Recovery FIRST — a crashed prior run must be resolved before any
    # new hi is chosen: a completed temp (_SUCCESS) may be the ONLY
    # copy of epochs whose source dirs the crashed swap already
    # deleted, so it is finished; a partial temp (no _SUCCESS) implies
    # untouched sources, so it is discarded.  An orphan retire dir
    # (temp already renamed in) means only the delete phase is
    # pending — _swap's steps are individually idempotent, so re-running
    # it from any crash point converges.
    # Two passes over ONE listing snapshot, compact temps FIRST: the
    # no-_SUCCESS branch below discards the temp and restores the
    # retire dir, which RESOLVES that hi — the retire pass must then
    # skip it.  A single interleaved loop was listing-order dependent:
    # '.compact-epoch-N' sorts before '.retire-epoch-N', so the stale
    # retire entry re-queued hi with no temp and the final _swap's
    # delete phase removed every lower epoch with no folded copy
    # anywhere (found in round-7 review; regression-pinned in
    # tests/test_streaming_ingest.py).
    pending: dict[int, object | None] = {}
    resolved: set[int] = set()
    entries = list(fs.listStatus(root))
    for st in entries:
        name = st.getPath().getName()
        if not name.startswith(".compact-epoch-"):
            continue
        t = st.getPath()
        try:
            pending_hi = int(name[len(".compact-epoch-"):])
        except ValueError:
            continue
        if fs.exists(Path(f"{path}/{name}/_SUCCESS")):
            # A committed compact temp IS the consolidated copy by
            # protocol (phase 1 commits _SUCCESS only once every lower
            # epoch's rows are in the temp), but a crash between the
            # _SUCCESS commit and phase 1's createNewFile leaves the
            # _FOLDED proof missing.  Recreate it here (idempotent) —
            # without it, _swap would rename the temp into epoch=hi
            # and then SKIP the gated delete phase, stranding the
            # lower epochs beside the fold; the next compaction would
            # read both and bake duplicate rows in permanently
            # (round-8 review, regression-pinned).
            fs.createNewFile(Path(f"{path}/{name}/{_FOLDED_MARKER}"))
            pending[pending_hi] = t
        else:
            # unreachable by protocol (retire happens only after
            # _SUCCESS), but if a retire dir exists with the target
            # slot empty, restore it rather than strand epoch hi —
            # and restore BEFORE discarding the temp (round-7 review:
            # the reverse order left a crash window between the two
            # where a re-run saw only the orphan retire dir and its
            # delete phase lost every lower epoch; with the restore
            # first, a crash before the temp delete just re-enters
            # this branch with the target already occupied).  If the
            # target is occupied the retire dir is left in place —
            # janitorial residue the _FOLDED gate in _swap keeps
            # harmless forever.
            r = Path(f"{path}/.retire-epoch-{pending_hi}")
            tgt = Path(f"{path}/epoch={pending_hi}")
            if fs.exists(r) and not fs.exists(tgt):
                fs.rename(r, tgt)
            fs.delete(t, True)
            resolved.add(pending_hi)
    for st in entries:
        name = st.getPath().getName()
        if not name.startswith(".retire-epoch-"):
            continue
        try:
            pending_hi = int(name[len(".retire-epoch-"):])
        except ValueError:
            continue
        if pending_hi not in pending and pending_hi not in resolved:
            pending[pending_hi] = None
    for pending_hi, t in pending.items():
        _swap(pending_hi, t if t is not None else Path(
            f"{path}/.compact-epoch-{pending_hi}"
        ))

    epochs = _list_epochs(spark, path)
    if not epochs:
        return None
    latest = epochs[-1]
    # selection rule mirrored by predicted_fold_hi (post-recovery)
    # — change both together
    closed = [e for e in epochs if e < latest]
    # The <2 guard is small-file ECONOMICS (folding one epoch onto
    # itself saves nothing); with a transform the rewrite IS the point
    # (retraction must become physical even when only one closed epoch
    # exists — round-8 review: the takedown promise silently never
    # fired on an already-compacted surface), so a single closed epoch
    # folds too.  Callers who want to avoid repeated single-epoch
    # rewrites should pass the transform only while it has work to do.
    if not closed or (len(closed) < 2 and transform is None):
        return None
    hi = max(closed)
    tmp = Path(f"{path}/.compact-epoch-{hi}")
    files_before = _count_parquet_files(fs, root)
    # phase 1: full consolidated rewrite into the hidden temp dir
    # (ignored by partition discovery); sources untouched until the
    # write commits its _SUCCESS marker
    df = (
        spark.read.parquet(path)
        .where(F.col("epoch") <= F.lit(hi))
        .drop("epoch")
    )
    if transform is not None:
        df = transform(df)
    shaped = (
        df.repartition(1, *partition_by) if partition_by else df.coalesce(1)
    )
    writer = shaped.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(str(tmp))
    # The consolidation proof: rides the temp through the rename, so
    # _swap's delete phase can verify — in any later recovery run too —
    # that what sits at epoch=hi really carries every lower epoch's
    # rows before it deletes them.  An underscore file, invisible to
    # partition discovery (like _SUCCESS).
    fs.createNewFile(Path(f"{tmp}/{_FOLDED_MARKER}"))
    # phase 2
    _swap(hi, tmp)
    return {
        "epochs_folded": len(closed),
        "hi": hi,
        "files_before": files_before,
        "files_after": _count_parquet_files(fs, root),
    }
