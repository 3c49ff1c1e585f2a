"""Materialization policy for intermediate index builds.

Several operators build an index DataFrame that is consumed by more than
one downstream plan branch (the LSH band index in
``dedup.lsh_candidate_pairs``, the quantized k-means training sample in
``similarity._trained_cents``).  Without materialization each consumer
re-executes the full build (measured 2× cost on the band index; the
round-2 bench regression on ``q_embed_ivf_topk`` was exactly this on the
then-DataFrame cell index).

Two mechanisms, chosen by session state:

* ``df.checkpoint(eager)`` — RELIABLE: blocks written to the configured
  checkpoint dir (HDFS/object store on a real cluster), survive executor
  loss and dynamic-allocation decommission.  Used whenever the session
  has ``sparkContext.setCheckpointDir(...)`` configured — which a 1000-
  executor deployment must (see README "scale posture"); the round-2
  advisory is right that unreplicated local blocks are a fault-tolerance
  regression at that scale.
* ``df.localCheckpoint(eager)`` — FAST: blocks on executor-local disk,
  reclaimed with the DataFrame by the ContextCleaner (no caller-side
  unpersist protocol, unlike ``persist()`` whose round-1 use leaked
  storage memory for the session lifetime).  Lost blocks fail the job
  instead of recomputing — acceptable on local[32] and for short-lived
  index builds, and the default when no checkpoint dir is set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mapreduce_framework_for_mergesort_spark import sizing


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut lineage and cache ``df``'s result for multi-consumer reuse.

    Reliable checkpoint when the session has a checkpoint dir configured,
    executor-local checkpoint otherwise (see module docstring for the
    fault-tolerance tradeoff).
    """
    sc = df.sparkSession.sparkContext
    try:
        ckdir = sc.getCheckpointDir()
    except Exception:
        ckdir = None
    if ckdir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def materialize_if_large(
    df: DataFrame, source: DataFrame, threshold_bytes: int
) -> DataFrame:
    """Materialize ``df`` only when ``source``'s scan input reaches
    ``threshold_bytes`` (``sizing.reaches``: unknown sizes stay
    unmaterialized — the cheap default).  The scale-adaptive spelling
    of a measured trade that flips with volume: re-running a cheap
    codegen projection per
    consumer beats a checkpoint write+read while the corpus is small,
    and loses once the re-scans dominate (the round-6 minhash key paid
    +2 s at x100 for a fixed unmaterialized choice that bought 0.5 s
    at x1)."""
    if sizing.reaches(source, threshold_bytes):
        return materialize(df)
    return df
