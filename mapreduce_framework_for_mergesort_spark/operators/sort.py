"""Sort family — reference-parity operators (SURVEY.md §2 O5-O8).

The reference's only query is a distributed external merge sort:
local chunk sorts (``NodeHandler.java:77``) write run files, then a
multi-round k-way streaming merge (``NodeHandler.java:204-290``,
``Server.java:290-405``) produces one totally-ordered output.

Spark-first restatement: ``orderBy`` compiles to ``SortExec`` over
``RangePartitioning`` — sampled range boundaries (strictly better than the
reference's fixed byte-chunk grid), per-partition Tungsten external sort
(spill-safe, the reference's run files), and merge of sorted spills on the
reduce side.  That merge is one pass of unbounded fan-in, where the
reference's merge tree bounds each merge to ``mergeJobs`` runs; bounding
it is ROADMAP §1's open item (a forced-spill 100 MB sort OOMs).  Nothing
here re-implements sorting; the value added is (a) a *scalable* global
rank so total order is checkable through an order-insensitive oracle hash
and (b) explicit run/merge demonstrations for parity.

Scale note (100 TB): ``with_global_rank`` never funnels data through one
partition.  A naive ``row_number() OVER (ORDER BY ...)`` repartitions the
world to a single task; instead we range-partition, rank within
partitions, and add broadcast per-partition offsets — the same two-stage
structure Spark's own sort uses, so it scales exactly as far as the sort
itself does.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PID = "__msfs_pid"
_LOCAL_RANK = "__msfs_local_rank"
_OFFSET = "__msfs_offset"
_MID = "__msfs_mid"


def _order_cols(cols, ascending):
    if ascending is None:
        ascending = [True] * len(cols)
    if len(ascending) != len(cols):
        # zip would silently truncate — dropping a trailing tiebreak
        # column breaks the documented total-order precondition with no
        # error, so ranks among equal keys go nondeterministic.
        raise ValueError(
            f"ascending has {len(ascending)} entries for {len(cols)} sort"
            f" columns {cols!r}; lengths must match"
        )
    return [
        F.col(c).asc() if asc else F.col(c).desc()
        for c, asc in zip(cols, ascending)
    ]


def sort_global(df: DataFrame, cols: list[str]) -> DataFrame:
    """Total-order sort (reference O6, ``ServerHandler.java:23-80``).

    Pure ``orderBy``: Catalyst plans sampling → RangePartitioning →
    per-partition sort; output partitions are globally ordered.
    """
    return df.orderBy(*_order_cols(cols, None))


def with_global_rank(df: DataFrame, cols: list[str]) -> DataFrame:
    """Attach a dense 1..N global rank without a single-partition window.

    ``cols`` (ascending) must form a total order (include a
    unique tiebreak key) for the rank to be deterministic.

    Two-stage scalable construction:
      1. ``repartitionByRange`` on the sort key (sampled boundaries, same
         mechanism as ``SortExec``) + ``sortWithinPartitions`` → globally
         ordered partitions.  ``monotonically_increasing_id`` — evaluated
         on the sorted stream — encodes (partition id, ordinal) as
        ``pid << 33 | ordinal``, so partition id and local rank decode
         with two bit-ops: a *narrow projection*, where a
         ``Window.partitionBy(pid)`` would force a full extra
         hash-repartition of every data row (Spark can't see that pid
         partitioning already satisfies the window's distribution).
      2. Per-partition row counts reduce map-side to one row per
         partition (tiny), are cumulated by a window over #partitions
         rows, and broadcast-joined back as offsets.  Under AQE the
         range exchange is computed once and reused by both branches.

    No stage moves all rows to one task, so this survives a 100× scale-up
    as well as ``orderBy`` itself does.
    """
    order = _order_cols(cols, None)
    ranked = (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn(_MID, F.monotonically_increasing_id())
        .withColumn(_PID, F.shiftrightunsigned(F.col(_MID), 33).cast("int"))
        .withColumn(
            _LOCAL_RANK, (F.col(_MID).bitwiseAND((1 << 33) - 1) + 1)
        )
        .drop(_MID)
    )

    # Tiny aggregate: map-side combine leaves one row per partition.  The
    # running-total window runs over #partitions rows, not data rows.
    counts = ranked.groupBy(_PID).agg(F.count(F.lit(1)).alias("__n"))
    offset_w = (
        Window.orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        _OFFSET, F.coalesce(F.sum("__n").over(offset_w), F.lit(0))
    ).select(_PID, _OFFSET)

    out = (
        ranked.join(F.broadcast(offsets), _PID)
        .withColumn("rank", (F.col(_OFFSET) + F.col(_LOCAL_RANK)).cast("long"))
        .drop(_PID, _LOCAL_RANK, _OFFSET)
    )
    return out


def sort_within_partitions(
    df: DataFrame, cols: list[str], num_partitions: int | None = None
) -> DataFrame:
    """Run generation (reference O5 ``NodeHandler.java:77,88-104``):
    range-partition then sort each partition locally — exactly the map-side
    half of the reference pipeline (sorted run files == sorted partitions).
    """
    order = _order_cols(cols, None)
    if num_partitions:
        ranged = df.repartitionByRange(num_partitions, *order)
    else:
        ranged = df.repartitionByRange(*order)
    return ranged.sortWithinPartitions(*order)


def merge_sorted_runs(runs: list[DataFrame], cols: list[str]) -> DataFrame:
    """K-way merge of pre-sorted runs (reference O7/O8,
    ``NodeHandler.java:204-290`` + merge tree ``Server.java:290-405``).

    Spark subsumes the multi-round merge tree: ``unionByName`` is a
    zero-shuffle logical union; the final ``orderBy`` merges everything in
    one shuffle whose reduce side streams over sorted spills — the same
    external k-way merge the reference implements by hand with one
    ``Scanner`` per run file, minus its O(k) linear min-scan per element
    and its 999999 end-of-stream sentinel bug (SURVEY.md §1.2).
    """
    if not runs:
        raise ValueError("merge_sorted_runs requires at least one run")
    unioned = reduce(DataFrame.unionByName, runs)
    return sort_global(unioned, cols)


def topk(
    df: DataFrame, cols: list[str], k: int, ascending: list[bool] | None = None
) -> DataFrame:
    """Top-k: ``orderBy().limit(k)`` compiles to ``TakeOrderedAndProject``
    — per-partition partial top-k then a driver-side merge of k·P rows;
    no global shuffle at all.  (Natural extension; reference has none.)
    """
    return df.orderBy(*_order_cols(cols, ascending)).limit(k)
