"""The workloads and the metric names the benchmark reports.

A workload generates its inputs from the seed, names the operations of
one pass (each a call into the package's public API that forces its
complete result), checks their outputs against an oracle, and, in the
traced run, probes the layers its pass runs through.
"""

from __future__ import annotations

import os
import sys

import gate
import gen

PACKAGE = "mapreduce_framework_for_mergesort_spark"

STREAM_KEYS = (
    "q_stream_windowed_agg",
    "q_stream_sessionize",
    "q_stream_dedup",
    "q_stream_static_join",
    "q_stream_interval_join",
)

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cold_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "mb_per_s": ("MB/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

_LAYER_UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.sched_delay_s": "s",
    "spark.slot_busy_frac": "frac", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.peak_exec_mem_mb": "MB",
    "spark.task_skew": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "spill.mem_mb": "MB", "spill.disk_mb": "MB",
    "io.scan_s": "s", "io.input_mb": "MB", "io.input_rows": "count",
    "io.output_mb": "MB", "io.output_rows": "count",
    "ingest.parse_s": "s", "sort.sort_s": "s", "ingest.write_s": "s",
    "ingest.values": "count",
    "proc.jvm_cpu_s": "s", "proc.worker_cpu_s": "s", "proc.driver_cpu_s": "s",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.trigger_s": "s", "stream.add_batch_s": "s", "stream.commit_s": "s",
    "stream.state_rows_total": "count", "stream.state_rows_updated": "count",
    "stream.state_rows_removed": "count", "stream.state_mem_mb": "MB",
    "stream.state_commit_s": "s", "stream.state_stores": "count",
    "stream.late_rows_dropped": "count",
    "host.steal_s": "s", "trace.wall_s": "s",
}
_HIGHER = {"spark.slot_busy_frac"}


def per_layer_units() -> dict[str, str]:
    out = dict(_LAYER_UNITS)
    for op in ("sort_file", *STREAM_KEYS):
        out[f"key.{op}.wall_s"] = "s"
        out[f"key.{op}.jobs"] = "count"
    return out


def per_layer_better(name: str) -> str:
    return "higher" if name in _HIGHER else "lower"


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class IntSort:
    name = "intsort"
    pass_s = 2.5  # nominal warm pass on 4 cores, once warmed up
    warmup_passes = 2
    why = (
        "the reference's own job: MergeSortEngine.sort_file on a ~10 MB one-line "
        "int32 text file (it published 2 and 20 MB); no parquet, no state store"
    )

    def prepare(self, root: str, seed: int) -> str:
        self.dir = gen.ensure_intsort(root, seed)
        self.path = os.path.join(self.dir, "ints.txt")
        self.out = os.path.join(os.path.dirname(root), "out", "intsort_sorted")
        return self.dir

    def input_bytes(self) -> int:
        return os.path.getsize(self.path)

    def ops(self, spark):
        from mapreduce_framework_for_mergesort_spark.engine import MergeSortEngine

        engine = MergeSortEngine(spark)
        return [("sort_file", lambda: engine.sort_file(self.path, output_path=self.out))]

    def check(self, spark, outputs: dict) -> dict[str, str | None]:
        got = gate.read_sorted_output(outputs["sort_file"])
        return {"sort_file": gate.check_sorted(got, gate.read_ints(self.path))}

    def probe(self, spark, tracer, metrics: dict) -> None:
        """Force each layer of the engine's pipeline in turn, each on
        the cached result of the one before, so each span's self time
        is that layer's own work."""
        from mapreduce_framework_for_mergesort_spark.operators import ingest, sort

        with tracer.span("ingest.parse") as parse:
            vals = ingest.drop_invalid(ingest.read_ints_text(spark, self.path)).persist()
            metrics["ingest.values"] = vals.count()
        with tracer.span("sort.sort_global") as srt:
            ordered = sort.sort_global(vals, ["value"]).persist()
            force(ordered)
        with tracer.span("ingest.write_ints_text") as write:
            ingest.write_ints_text(ordered, self.out + "_probe")
        ordered.unpersist()
        vals.unpersist()
        metrics["ingest.parse_s"] = tracer.self_time(parse)
        metrics["sort.sort_s"] = tracer.self_time(srt)
        metrics["ingest.write_s"] = tracer.self_time(write)


class Stream:
    name = "stream"
    pass_s = 8.5
    warmup_passes = 1
    why = (
        "the 5 q_stream_* keys on 50,000 events (5,000 x10, half the replicas "
        "folded onto 50 hot users): state store, micro-batch commits, hot stores"
    )

    def prepare(self, root: str, seed: int) -> str:
        self.dir = gen.ensure_stream(root, seed)
        return self.dir

    def input_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.dir, f))
            for f in ("events.parquet", "customer.parquet")
        )

    def ops(self, spark):
        from mapreduce_framework_for_mergesort_spark.queries import QUERIES

        def run(key):
            df = QUERIES[key](spark, self.dir)
            force(df)
            return df

        return [(k, lambda k=k: run(k)) for k in STREAM_KEYS]

    def check(self, spark, outputs: dict) -> dict[str, str | None]:
        from mapreduce_framework_for_mergesort_spark.queries import ORACLE

        return {
            k: gate.check_query(outputs[k], ORACLE[k], self.dir) for k in STREAM_KEYS
        }

    def probe(self, spark, tracer, metrics: dict) -> None:
        pass


WORKLOADS = {w.name: w for w in (IntSort, Stream)}


class LoadTableRecorder:
    """Wraps ``io.load_table`` wherever the package bound it, recording
    each table read, so the traced run can time a forced scan of every
    table a pass reads."""

    def __init__(self):
        self.reads: list[tuple[str, str]] = []
        self._patched: list = []

    def install(self) -> None:
        from mapreduce_framework_for_mergesort_spark import io

        orig = io.load_table

        def load_table(spark, sf_dir, name):
            self.reads.append((sf_dir, name))
            return orig(spark, sf_dir, name)

        self._orig = orig
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(PACKAGE)
                    and getattr(mod, "load_table", None) is orig):
                setattr(mod, "load_table", load_table)
                self._patched.append(mod)

    def uninstall(self) -> None:
        for mod in self._patched:
            mod.load_table = self._orig
        self._patched = []

    def scan_seconds(self, spark, tracer, reads_per_pass: dict) -> float:
        """Forced scan time of each table read, weighted by its reads
        per pass."""
        total = 0.0
        for (sf_dir, name), n in sorted(reads_per_pass.items()):
            with tracer.span("io.load_table", table=name) as s:
                force(self._orig(spark, sf_dir, name))
            total += n * s.duration
        return total
