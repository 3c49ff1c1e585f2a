"""Input sizing: the one byte measurement and every input-size cutoff.

The reference sizes its whole job from one byte count, the user-picked
``chunkSize`` (``README.md:57``).  The engine sizes from the input
instead: each adaptive gate measures the data files its scan reads with
``input_bytes`` and compares the count against a cutoff defined here,
next to the measurement that chose it.

Callers read the cutoffs as ``sizing.NAME`` at call time, so patching
one here reaches every gate that uses it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Materialize the shared content-hash projection of the minhash and
#: n-gram dedup keys (``materialize.materialize_if_large``).  The fixed
#: unmaterialized choice was a measured trade that flips with volume:
#: ~4 cheap codegen re-scans beat a checkpoint write+read at sf0.1
#: (2.56 -> 2.10 s warm) and x10 (flat), but pay ~2 s of md5 re-scans
#: at x100 (7.1 -> 9.1 s), where the corpus parquet is ~56 MB.  16 MB
#: sits between the measured win (<= 5.6 MB at x10) and the measured
#: loss (56 MB at x100); at 100 TB the branch always materializes,
#: which is the posture a corpus-sized input wants.
HASH_MAT_THRESHOLD_BYTES = 16 << 20

#: Rebuild ``dedup.strip_dup_spans``' output through the Arrow kernel
#: (``_strip_rebuild_arrow``) instead of the interpreted HOF slice
#: battery.  Measured on the full q_dedup_ngram_jaccard key: x1 (0.6 MB
#: docs) codegen 4.06 s vs arrow 4.55 s (the kernel contends for Python
#: workers inside the two-chain overlap), x10 (5.8 MB) codegen 7.79 s
#: vs arrow 7.38 s (isolated strip pass 1.78 -> 1.24 s: one Python
#: crossing replaces three HOF expressions).  4 MB sits between the
#: measured loss and the measured win; at corpus scale the gate always
#: takes the kernel.
STRIP_ARROW_THRESHOLD_BYTES = 4 << 20

#: Run ``text.bm25_topk``'s per-document battery once per distinct
#: content.  Below it the md5 + distinct + fan-out overhead beats the
#: saving (measured 0.70 -> 1.02 s at x1, 0.6 MB docs); above it the
#: per-doc tokenize battery dominates (4.05 -> 1.23 s at x10, 5.8 MB).
#: At corpus scale always collapsed.
BM25_COLLAPSE_THRESHOLD_BYTES = 4 << 20

#: Input bytes per state partition of a bounded streaming drain
#: (``streaming.sources.stream_state_partitions``).  A stateful drain
#: holds ~15-20x the parquet bytes as in-memory state rows (11.7 MB
#: input -> ~200 MB state at x10), so ~2 MiB of input per partition is
#: ~32 MiB of state per store: the size where a store does real work
#: instead of paying fixed load/commit cost on near-empty maps.  That
#: fixed cost was measured when local checkpoints forked a ``readlink``
#: per file (Spark's FileContext manager); drains now use the
#: FileSystem manager, where 4 partitions still beat 1 and 2 on the
#: benchmark's stream input.
STREAM_STATE_BYTES_PER_PARTITION = 2 << 20

#: Edge-count ceiling for ``dedup.cluster_pairs``' driver union-find:
#: 200 K symmetric edges collect to a few MB and label <= 400 K nodes,
#: the same order as a broadcast side and far under driver limits.  A
#: candidate graph above it takes the distributed rounds.
DRIVER_UF_MAX_EDGES = 200_000


def input_bytes(
    source: DataFrame | str, spark: SparkSession | None = None
) -> int | None:
    """Hadoop FS length of the data files a scan reads.

    ``source`` is a DataFrame (the files its scans list, from
    ``inputFiles()``) or a path (every file under it; ``spark`` supplies
    the Hadoop configuration).  File names starting with ``_`` or ``.``
    (``_SUCCESS``, checksums, markers) are not data and are left out.
    Driver-side metadata only: nothing is read and nothing executes.
    These are scan-file bytes, not the volume left after a filter above
    the scan.

    None when nothing is measurable: a frame with no file scan (an
    in-memory frame), a missing path, or a listing error (an object
    store with no filesystem configured).  Callers treat None as
    unknown, never as zero."""
    if isinstance(source, str):
        roots = [source]
    else:
        spark = source.sparkSession
        try:
            roots = source.inputFiles()
        except Exception:
            return None
    if not roots:
        return None
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    try:
        for root in roots:
            p = jvm.org.apache.hadoop.fs.Path(root)
            files = p.getFileSystem(conf).listFiles(p, True)
            while files.hasNext():
                f = files.next()
                if not f.getPath().getName().startswith(("_", ".")):
                    total += f.getLen()
    except Exception:
        return None
    return total


def reaches(df: DataFrame, threshold: int) -> bool:
    """Whether ``df``'s scan input is at least ``threshold`` bytes; an
    unmeasurable input counts as below."""
    b = input_bytes(df)
    return b is not None and b >= threshold
