"""Worked example: continuous corpus ingestion, end to end.

The batch pipeline (``examples/curate_and_shard.py``) answers "curate
this corpus once"; a production corpus is a FEED.  This example runs
the streaming composition over the documents fixture:

1. split the corpus into per-microbatch files and DRAIN them through
   ``streaming.ingest.ingest_documents_stream`` — each microbatch
   dedups within itself and against the persisted two-tier index
   (exact content hashes + LSH bands), appends only novel documents,
   and commits everything under its own ``epoch=N`` partition
   (exactly-once under retries);
2. show the small-file growth a long-running stream accrues (one
   directory per microbatch, forever) and fold the CLOSED epochs with
   ``compact_ingest_state`` — the crash-recoverable two-phase swap
   that leaves the latest (replayable) epoch untouched;
3. prove nothing observable changed: identical accepted rows before
   and after, and the next microbatch ingests on top of the compacted
   layout unchanged;
4. TAKEDOWN (round 8): ``retract_documents`` publishes a tombstone
   batch — ``read_corpus`` masks the rows immediately, the accept
   decision stops vetoing future copies, and the next
   ``compact_ingest_state`` fold removes them physically from every
   closed epoch of all three surfaces.

Run:  python examples/ingest_and_compact.py [sf_dir] [work_dir]
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.session import get_spark
from mapreduce_framework_for_mergesort_spark.streaming import ingest as I


def _count_files(root: str) -> int:
    return sum(
        1
        for _dir, _s, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/example_ingest"
    shutil.rmtree(work, ignore_errors=True)
    feed = f"{work}/feed"
    out = f"{work}/corpus"
    idx = f"{work}/index"

    spark = get_spark(app_name="example-ingest-and-compact")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. stage the fixture as a feed of small files — one per
    # microbatch (maxFilesPerTrigger=1 in the reader below)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(6).write.mode("overwrite").parquet(feed)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    I.ingest_documents_stream(
        stream, idx, out, checkpoint=f"{work}/ckpt"
    ).awaitTermination()

    accepted = spark.read.parquet(out)
    before = sorted(
        tuple(r) for r in accepted.select("doc_id", "text").collect()
    )
    epochs_before = sorted(
        d for d in os.listdir(out) if d.startswith("epoch=")
    )
    print(
        f"drained: {len(before)} accepted docs across "
        f"{len(epochs_before)} epochs, "
        f"{_count_files(work)} parquet files under {work}"
    )

    # 2. fold the closed epochs (everything below the latest)
    stats = I.compact_ingest_state(spark, idx, out)
    print("compaction:", {k: v and {kk: v[kk] for kk in ("epochs_folded", "files_before", "files_after")} for k, v in stats.items()})

    # 3. nothing observable changed
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    )
    assert after == before, "compaction changed the corpus!"
    epochs_after = sorted(
        d for d in os.listdir(out) if d.startswith("epoch=")
    )
    print(
        f"corpus identical; epoch dirs {len(epochs_before)} -> "
        f"{len(epochs_after)} ({epochs_after}), "
        f"{_count_files(work)} parquet files"
    )

    # ... and the stream keeps going: drop one more (duplicate-heavy)
    # batch on the feed and drain again — the compacted index still
    # rejects everything it already shipped
    docs.limit(50).coalesce(1).write.mode("append").parquet(feed)
    I.ingest_documents_stream(
        stream, idx, out, checkpoint=f"{work}/ckpt"
    ).awaitTermination()
    final = spark.read.parquet(out).count()
    assert final == len(before), (final, len(before))
    print("post-compaction batch of 50 known docs: all rejected, "
          f"corpus still {final} rows")

    # 4. TAKEDOWN (round 8): documents leave corpora too.  Retract one
    # shipped doc — read_corpus masks it immediately; its index rows
    # stop vetoing future copies (fresh judgment); and the NEXT fold
    # makes the removal physical on every closed epoch.
    victim = int(
        spark.read.parquet(out).select("doc_id").orderBy("doc_id")
        .first()["doc_id"]
    )
    assert I.retract_documents(spark, out, [victim], "takedown-001")
    assert I.retract_documents(spark, out, [victim], "takedown-001") is False
    masked = I.read_corpus(spark, out).count()
    assert masked == final - 1
    print(f"retracted doc {victim}: read_corpus {final} -> {masked} rows "
          "(retry was a no-op)")
    I.compact_ingest_state(spark, idx, out)
    physically = spark.read.parquet(out).where(
        f"doc_id = {victim}"
    ).count()
    assert I.read_corpus(spark, out).count() == masked
    print(f"after the fold: {physically} physical rows of doc {victim} "
          "in closed epochs (0 unless it rode the live epoch); "
          "read_corpus unchanged")


if __name__ == "__main__":
    main()
