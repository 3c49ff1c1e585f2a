"""Worked example: raw corpus → curated, deduplicated, packed training
shards — the engine's end-to-end path, runnable as-is against the
bundled test data.

    python examples/curate_and_shard.py [sf_dir] [out_dir]

What it exercises (each stage is the 100 TB-shaped operator documented
in its module):

0. the corpus FEED as input (round 9): the landing table is backfilled
   through ``streaming.ingest.accept_batch`` and read back through
   ``read_corpus`` — the retraction-masked read — so the documented
   default path is the one that stays correct after a takedown;
1. a declarative data-quality gate on the landing zone
   (``operators/quality.py`` — one conditional-aggregate scan);
2. the curation pipeline (``pipelines.curate_documents``): PII
   redaction → one-scan quality/language features → filters →
   MinHash/LSH near-dedup with connected-components clustering →
   content-hash train/val/test split;
3. per-split sequence packing and range-partitioned shard writes with
   a token-conserving manifest (``pipelines.prepare_training_shards``);
4. corpus analytics on the result: BM25 retrieval over the curated
   set, a Count-Min frequency sketch with its ≥-true guarantee,
   sliding-window chunking (whitespace AND tokenizer-true BPE
   budgets), a per-benchmark-item contamination report, and
   sort-free quantiles from the dyadic Count-Min sketch;
5. INCREMENTAL curation (round 8): ``split_mode='stable'`` persists
   first-assignment-wins split routing across growing batches, and
   ``quarantine_straddlers=True`` drops structural straddles from the
   eval splits, recorded in the manifest.

Everything here is deterministic: rerunning produces the same rows,
splits, packs, and estimates (hash-keyed decisions, no RNG state).
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from mapreduce_framework_for_mergesort_spark import pipelines
from mapreduce_framework_for_mergesort_spark.io import load_table
from mapreduce_framework_for_mergesort_spark.operators import (
    bpe,
    dedup,
    similarity,
    sketches,
)
from mapreduce_framework_for_mergesort_spark.operators.text import (
    bm25_topk,
    chunk_documents,
)
from mapreduce_framework_for_mergesort_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/example_shards"
    spark = get_spark(app_name="example-curate-and-shard")
    spark.sparkContext.setLogLevel("ERROR")

    # 0. route the input through the corpus FEED surface
    # (streaming/ingest.py) instead of reading the landing parquet
    # directly: a production corpus is continuously ingested AND
    # supports takedown, and plain spark.read.parquet(feed)
    # UNDER-MASKS once any retraction has been published (tombstones
    # are metadata until the next compaction fold makes the removal
    # physical) — read_corpus is the read that stays correct.  The
    # backfill is one epoch-keyed accept_batch; a real deployment
    # would have ingest_documents_stream maintaining the feed.
    from mapreduce_framework_for_mergesort_spark.streaming import ingest

    feed = os.path.join(out_dir, "feed")
    ingest.accept_batch(
        load_table(spark, sf_dir, "documents"),
        os.path.join(out_dir, "feed_idx"),
        feed,
        epoch=0,
    )
    docs = ingest.read_corpus(spark, feed).drop("epoch")

    # 1+2+3 in one call: the input gate runs first (a corrupt landing
    # zone fails loudly here, before any curation cost), then
    # curation, then per-split packing + shard writes.
    manifest = pipelines.prepare_training_shards(
        docs,
        out_dir,
        budget=256,  # tokens per packed training sequence
        shards_per_split=2,
        input_checks=[
            ("unique", "doc_id"),
            ("not_null", "text", 0.0),
        ],
        min_quality=0.3,
        langs=("en",),
        # round 6: route the train/val/test split by near-dup CLUSTER
        # content key (reusing the dedup stage's own cluster labels),
        # so near-duplicates can never straddle an eval boundary even
        # when the dedup threshold is loose
        split_mode="leakage_safe",
    )
    print("manifest:", json.dumps(manifest, indent=2, default=str))

    # 4a. BM25 retrieval over the curated training split — read the
    # TEXT from the shards themselves (it is the redacted/curated form
    # that actually ships to training; joining back to the raw corpus
    # would resurrect pre-redaction text), and cache it since three
    # analytics steps below consume it
    train = spark.read.parquet(f"{out_dir}/train")
    curated = train.select("doc_id", "text").distinct().cache()
    n_curated = curated.count()
    print("\nBM25 top-5 for query 'merge sort spark':")
    bm25_topk(curated, ("merge", "sort", "spark"), top_k=5).show()

    # 4b. Count-Min frequency sketch of the language column, with the
    # overestimate guarantee checked against exact truth
    sk = sketches.cms_sketch(docs, "lang")
    truth = docs.groupBy(F.col("lang").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    est = sketches.cms_point_estimates(sk, truth, "k", carry=("c",))
    print("language frequencies, sketch vs truth (est >= true always):")
    est.orderBy(F.desc("c")).show()

    # 4c. context-window chunking of the curated docs — whitespace
    # windows, then the tokenizer-TRUE variant under a corpus-trained
    # BPE vocabulary (round 5): windows budgeted in learned subwords,
    # word boundaries kept, maximal whole-word overlap
    chunks = chunk_documents(curated, chunk_tokens=64, overlap_tokens=16)
    print("chunks:", chunks.count(), "from", n_curated, "docs")
    merges = bpe.train_bpe(curated, num_merges=100, top_words=4000)
    bchunks = bpe.chunk_documents_bpe(
        curated, merges, chunk_tokens=64, overlap_tokens=16
    )
    print(
        "BPE-budgeted chunks:",
        bchunks.count(),
        f"(vocabulary: {len(merges)} merges)",
    )

    # 4d. eval-set leakage report (round 5): treat a fixed slice of
    # the corpus as the "benchmark" and report, per benchmark item,
    # how many curated documents share a long n-gram with it — the
    # audit an eval owner reads before trusting a score
    bench = docs.where(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    report = dedup.contamination_report(curated, bench)
    print("contamination report (top leaking benchmark items):")
    report.orderBy(F.desc("n_docs_hit"), "bench_id").show(5)

    # 4e. streaming-grade quantiles without a sort (round 5): the
    # dyadic Count-Min sketch answers rank/quantile queries from
    # bounded mergeable state; quartiles of per-doc token counts
    counts = bchunks.groupBy("doc_id").agg(
        F.sum("n_chunk_tokens").alias("v")
    )
    dsk = sketches.dyadic_cms_sketch(counts, "v", levels=16)
    qs = sketches.dyadic_quantiles(
        dsk.collect(), [0.25, 0.5, 0.75], levels=16
    )
    print("token-count quartiles from the dyadic sketch:", qs)

    # 4f. model-free vector retrieval over the chunks (round 5):
    # feature-hash embeddings are a pure deterministic function of the
    # text, so the whole ANN stack runs with no external model — here
    # a brute-force cosine top-3 of chunks for a text query embedded
    # through the same operator
    chunk_ids = bchunks.select(
        (F.col("doc_id") * 10000 + F.col("chunk_idx")).alias("vec_id"),
        F.col("chunk_text").alias("text"),
    )
    qdf = spark.createDataFrame(
        [(-1, "merge sort spark shuffle")], ["vec_id", "text"]
    )
    pool = similarity.feature_hash_embed(
        chunk_ids.unionByName(qdf), dim=64
    ).select("vec_id", "embedding")
    hits = similarity.brute_force_topk(pool, -1, 4).where(
        F.col("vec_id") != -1
    )
    print("feature-hash chunk retrieval for 'merge sort spark shuffle':")
    hits.show(3)

    # 5. INCREMENTAL curation (round 8): corpora are feeds, not
    # snapshots.  split_mode='stable' persists split assignments at a
    # state path with first-assignment-wins — a document shipped to a
    # split in batch 1 NEVER moves when batch 2's near-dup bridges
    # merge clusters — and quarantine_straddlers=True drops the
    # val/test members of any cluster whose persisted assignments
    # straddle splits (train members kept: a leaked eval example
    # corrupts measurement, a dropped one doesn't), recording the drop
    # in the manifest.
    state = os.path.join(out_dir, "_split_state")
    # fresh state per example run, so the two-batch story below always
    # shows a real increment (in production the state persists — that
    # is its whole point; replays append nothing either way)
    import shutil

    shutil.rmtree(state, ignore_errors=True)
    batch1 = docs.where(F.col("doc_id") % 5 != 0)
    man1 = pipelines.prepare_training_shards(
        batch1, os.path.join(out_dir, "inc1"),
        budget=256, shards_per_split=2, min_quality=0.3, langs=("en",),
        split_mode="stable", split_state_path=state,
        quarantine_straddlers=True,
    )
    a1 = {
        r["doc_id"]: r["split"]
        for r in spark.read.parquet(state).collect()
    }
    man2 = pipelines.prepare_training_shards(
        docs, os.path.join(out_dir, "inc2"),  # the grown corpus
        budget=256, shards_per_split=2, min_quality=0.3, langs=("en",),
        split_mode="stable", split_state_path=state,
        quarantine_straddlers=True,
    )
    a2 = {
        r["doc_id"]: r["split"]
        for r in spark.read.parquet(state).collect()
    }
    # stability check on the SHARD OUTPUTS (what a training job
    # reads), not just the append-only state file: every doc shipped
    # to a split by batch 1 sits in the SAME split of batch 2's shards
    def shard_splits(root):
        out = {}
        for split in ("train", "val", "test"):
            for r in (
                spark.read.parquet(os.path.join(root, split))
                .select("doc_id").collect()
            ):
                out[r["doc_id"]] = split
        return out

    s1 = shard_splits(os.path.join(out_dir, "inc1"))
    s2 = shard_splits(os.path.join(out_dir, "inc2"))
    moved = {d for d in s1 if d in s2 and s2[d] != s1[d]}
    assert not moved, f"shipped assignments must never move: {moved}"
    print(
        "\nincremental split: batch-1 assignments preserved "
        f"({len(a1)} docs), batch 2 added {len(a2) - len(a1)}; "
        f"quarantine: {man1['quarantine']} -> {man2['quarantine']}"
    )


if __name__ == "__main__":
    main()
