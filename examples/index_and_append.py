"""Worked example: the ANN index lifecycle, end to end.

A retrieval corpus is a FEED too: the index is built once, then new
vectors keep arriving.  This example runs the persisted-IVFADC
lifecycle over the embeddings fixture:

1. BUILD ``pq.write_ivfadc_index`` on the first 80% of the corpus —
   trains the IVF centroids + PQ codebooks and writes the compressed
   codes partitioned by cell (a probe prunes to its nprobe cell
   directories and reads only ~2%-of-raw bytes inside them);
2. APPEND the remaining 20% with ``pq.append_ivfadc_index`` — encoded
   against the FROZEN trained metadata and published as a two-phase
   rename-last batch directory sharing the cell partitioning; a retry
   of the same batch id is shown to be a no-op;
3. PROBE before and after the append — the appended vectors become
   retrievable, base-resident results are unchanged (appending is
   score-neutral for vectors already indexed), and the probe's scan
   still carries cell partition filters inside the batch directory;
4. DELETE a vector with ``pq.delete_from_ivfadc_index`` — a takedown
   publishes a two-phase TOMBSTONE batch the probe anti-joins; the
   stored codes are untouched (removal is metadata, like the append
   side), and a retry of the same tombstone id is a no-op;
5. REFRESH with a ``write_ivfadc_index`` rebuild over the retained
   corpus — folds all batches AND tombstones away physically and
   re-trains: the staleness-vs-cost dial every production ANN index
   exposes.

Run:  python examples/index_and_append.py [sf_dir] [work_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.operators import pq as P
from mapreduce_framework_for_mergesort_spark.session import get_spark

DIM = 64


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    work = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="index_append_")
    )
    path = os.path.join(work, "ivfadc")
    shutil.rmtree(path, ignore_errors=True)

    spark = get_spark(app_name="example-index-and-append")
    spark.sparkContext.setLogLevel("ERROR")

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 5 != 0)
    arriving = emb.where(F.col("vec_id") % 5 == 0)

    # 1. build on the base corpus (trains centroids + codebooks)
    print(f"[1] building IVFADC index on {base.count()} vectors ...")
    P.write_ivfadc_index(base, path, DIM, num_centroids=8)

    # a query whose true answer lives in the NOT-yet-indexed slice
    target = arriving.limit(1).collect()[0]
    qe = [float(v) for v in target["embedding"]]
    want_id = int(target["vec_id"])

    def probe_ids() -> list[int]:
        return [
            int(r["vec_id"])
            for r in P.probe_ivfadc_index(
                spark, path, emb, qe, 5, DIM, nprobe=2
            ).collect()
        ]

    before = probe_ids()
    print(f"[2] probe before append: top-5 {before}")
    assert want_id not in before, "target must not be indexed yet"

    # 2. append the arriving batch against the frozen metadata
    print(f"[3] appending {arriving.count()} vectors as batch 'day-001' ...")
    assert P.append_ivfadc_index(arriving, path, "day-001") is True
    assert P.append_ivfadc_index(arriving, path, "day-001") is False
    print("    retry of the published batch id: no-op (exactly-once)")

    after = probe_ids()
    print(f"[4] probe after append : top-5 {after}")
    assert after[0] == want_id, "the appended vector must now lead"

    # base-resident results survive unchanged behind the new leader
    surviving = [v for v in before if v in after]
    print(
        f"    {len(surviving)}/{len(before)} base results still present — "
        "appending is score-neutral for already-indexed vectors"
    )

    # 3. the batch directory prunes like the base directory
    batch_scan = (
        spark.read.parquet(f"{path}/batches/day-001")
        .where(F.col("cell").isin([0, 1]))
        .select("vec_id")
    )
    plan = batch_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    print("[5] batch scan carries cell PartitionFilters (directory pruning)")

    # 4. takedown: tombstone the current leader — removal is metadata
    # (a published tombstone batch the probe anti-joins), never a
    # corpus re-encode
    print(f"[6] deleting vec_id {want_id} as tombstone batch 'takedown-001' ...")
    assert P.delete_from_ivfadc_index(
        spark, [want_id], path, "takedown-001"
    ) is True
    assert P.delete_from_ivfadc_index(
        spark, [want_id], path, "takedown-001"
    ) is False
    print("    retry of the published tombstone id: no-op (exactly-once)")
    after_del = probe_ids()
    print(f"[7] probe after delete : top-5 {after_del}")
    assert want_id not in after_del, "tombstoned vector must not surface"

    # 5. refresh: a rebuild over the RETAINED corpus folds the batch
    # and tombstone dirs away physically and re-trains the metadata
    retained = emb.where(F.col("vec_id") != want_id)
    print(f"[8] rebuilding over the {retained.count()} retained vectors ...")
    P.write_ivfadc_index(retained, path, DIM, num_centroids=8)
    assert not os.path.exists(f"{path}/batches")
    assert not os.path.exists(f"{path}/tombstones")
    rebuilt = probe_ids()
    assert want_id not in rebuilt
    print(
        f"[9] probe after rebuild: top-5 {rebuilt} — batches and "
        "tombstones folded away"
    )
    print(f"done — index at {path}")


if __name__ == "__main__":
    main()
