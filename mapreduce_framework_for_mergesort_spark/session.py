"""SparkSession factory with scale-conscious defaults.

The reference hand-rolls its cluster runtime: Thrift membership
(``ServerHandler.java:83-94``), heartbeats (``Server.java:588-650``),
speculative execution (``Server.java:194-224``), retry
(``Server.java:183-188``).  All of that is Spark configuration here —
see ``tests/test_fault_tolerance.py`` for the parity assertions.

Local test posture is ``local[N]``; the conf block is written so the same
settings scale to a 1000-executor cluster reading ~100 TB:

* AQE on → runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switches replace any hand-tuned chunk grid
  (the reference's ``chunkSize`` knob, ``README.md:57``).
* ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; at
  cluster scale set it to 2-3× total cores and let AQE coalesce.
* Arrow on → pandas UDFs (similarity / multimodal operators) move data in
  columnar batches, not pickled rows.
* Session timezone pinned to UTC so timestamp semantics are stable across
  engines (the DuckDB oracle runs timezone-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding the package, for the Python workers' import path.
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Defaults chosen for the test harness (local[32], 128 GiB box).  Every
# value is overridable via extra_conf; none is load-bearing for semantics.
_BASE_CONF: dict[str, str] = {
    # --- planning / AQE ---------------------------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- shuffle sizing (local; at cluster scale: ~2-3x total cores) ------
    "spark.sql.shuffle.partitions": "32",
    # --- codegen ----------------------------------------------------------
    # Spark caches 100 generated classes by default.  One pass of the 5
    # q_stream_* keys generates ~97, so each warm pass recompiled 28-47
    # of them (LRU thrash); at 2048 a warm pass compiles 1.  Over all 50
    # keys at sf0.001 a first round compiles ~990 classes, and a second
    # round recompiles 1,169 at 100 against 41 at 2048.  A static conf:
    # it takes effect only when the first session of the JVM starts.
    "spark.sql.codegen.cache.maxEntries": "2048",
    # --- python <-> jvm ---------------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # --- determinism / oracle parity --------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # The driver's events.parquet has shipped as TIMESTAMP(NANOS), which
    # Spark's parquet reader rejects outright without this conf; read as
    # raw ns longs and let io.normalize_events_ts rebuild a microsecond
    # timestamp (ts div 1000 — exact integer math; DuckDB truncates the
    # same way).  Harmless when the data is already TIMESTAMP(MICROS).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Progress bars interleave with test/bench output.
    "spark.ui.showConsoleProgress": "false",
    # --- catalog (bucketed tables) ----------------------------------------
    # Keep the warehouse and the embedded-Derby metastore out of the repo;
    # bucketed-table DDL (operators/bucketing.py) needs a real catalog.
    "spark.sql.warehouse.dir": "/tmp/msfs_warehouse",
    "spark.driver.extraJavaOptions": "-Dderby.system.home=/tmp/msfs_derby",
    # --- fault tolerance (reference parity, see SURVEY.md O11-O18) --------
    # Speculative execution = reference's proactive redundant tasks
    # (Server.java:194-224) minus the 3x duplicate work: clones launch only
    # for stragglers past the quantile, first finisher wins.
    "spark.speculation": "false",  # enabled in dedicated FT tests
    # Reactive retry (Server.java:183-188) under a cluster master or the
    # ``local[N, F]`` form only: the default ``local[N]`` master fixes
    # task failures at 1 whatever this says, so a failed task there
    # aborts its job (tests/test_fault_tolerance.py boots local[N, F]).
    "spark.task.maxFailures": "4",
}


def get_spark(
    app_name: str = "mergesort-spark-engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the driver's bench and the pytest suite share one code path.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    # Plenty of headroom on the 128 GiB test box; harmless if JVM already up.
    conf.setdefault("spark.driver.memory", "8g")
    if extra_conf:
        conf.update(extra_conf)
    # Python workers (pandas UDFs, mapInPandas) import this package too,
    # whatever the driver's working directory or sys.path.
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        filter(None, [_PKG_PARENT, conf.get("spark.executorEnv.PYTHONPATH")])
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
