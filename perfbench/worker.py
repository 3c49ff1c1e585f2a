"""One benchmark run of one workload, in a fresh process.

    python3 perfbench/worker.py --workload NAME --seed N --seconds S \
        --trace 0|1 --work DIR --result FILE

Order of a run: generate (or reuse) the seeded inputs; set up Spark
(JVM, ``session.get_spark``, a warm query that also starts the Python
worker pool); one cold pass; the workload's untimed warm-up passes;
warm passes; the correctness gate; in the traced run, the layer
probes; shut down.  The warm passes number ``--seconds`` divided by the
workload's nominal pass time ``pass_s``, at least three.  The result
goes to ``--result`` as JSON.  ``run.py`` is the entry point.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write under
    ``work``; pin the clock zone the oracle comparison assumes."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path[:0] = [ROOT, HERE]


HEAP = "1g"


def _conf(work: str, cpus: int, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": HEAP,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -Xms: the heap starts at its full size.  Otherwise G1 grows it
        # over the first ten or so intsort passes, each pass runs faster
        # than the one before as it grows (4.2 s down to 2.5 s), and the
        # pace of that growth follows the host's load.
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Dderby.system.home={work}/derby "
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        ),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _warm(spark, cpus: int) -> None:
    from pyspark.sql.functions import col, pandas_udf

    from workloads import force

    force(spark.range(10_000).selectExpr("id % 97 AS k").groupBy("k").count())

    @pandas_udf("long")
    def ident(v):
        return v

    force(spark.range(1_000).repartition(cpus).select(ident(col("id"))))


class Run:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.outputs: dict = {}
        self.passes: list[dict] = []

    def one_pass(self, tracer, tree, ops, kind: str) -> dict:
        c0 = tree.cpu()
        t0 = time.perf_counter()
        op_wall = {}
        with tracer.span("pass", kind=kind) as ps:
            for name, fn in ops:
                self.attempted += 1
                with tracer.span(name) as s:
                    try:
                        self.outputs[name] = fn()
                    except Exception:
                        self.failed += 1
                        self.outputs.pop(name, None)
                        self.errors.append(f"{kind} {name}: {traceback.format_exc(limit=3)}")
                op_wall[name] = s.duration
        wall = time.perf_counter() - t0
        c1 = tree.cpu()
        p = {
            "kind": kind, "wall": wall, "span": ps, "op_wall": op_wall,
            "cpu": {k: c1[k] - c0[k] for k in c0},
        }
        self.passes.append(p)
        return p


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    work = os.path.abspath(args.work)
    _environment(work)

    import gen
    import tracing
    import workloads

    marks = {"start": time.perf_counter()}
    wl = workloads.WORKLOADS[args.workload]()
    data_dir = wl.prepare(os.path.join(work, "inputs", wl.name), args.seed)
    props = gen.properties(data_dir)
    marks["inputs"] = time.perf_counter()
    cpus = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    traced = bool(args.trace)
    event_dir = os.path.join(work, "eventlog", f"{wl.name}-{args.seed}") if traced else None
    if event_dir and os.path.isdir(event_dir):
        import shutil

        shutil.rmtree(event_dir)

    from pyspark import SparkContext

    from mapreduce_framework_for_mergesort_spark.session import get_spark

    run = Run()
    tree = tracing.ProcTree()
    tree.start_sampler()
    steal0 = tracing.host_steal_s()

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{wl.name}", master=f"local[{cpus}]",
        extra_conf=_conf(work, cpus, event_dir),
    )
    start_s = time.perf_counter() - t0
    tree.jvm_pid = SparkContext._gateway.proc.pid
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _warm(spark, cpus)
    warm_s = time.perf_counter() - t1

    tracer = tracing.Tracer(spark if traced else None)
    listener = recorder = None
    if traced:
        listener = tracing.stream_listener(tracer)
        spark.streams.addListener(listener)
        recorder = workloads.LoadTableRecorder()
        recorder.install()

    ops = wl.ops(spark)
    tracer.new_trace()
    cold = run.one_pass(tracer, tree, ops, "cold")
    # The JVM is still compiling hot paths in the first passes after the
    # cold one (stream's first warm pass burns a fifth more CPU than the
    # later ones), and how fast it gets there depends on the host's load.
    # So the workload's warm-up passes run untimed, and the measured
    # passes are a fixed count, not a deadline, for the same reason.
    for _ in range(wl.warmup_passes):
        tracer.new_trace()
        run.one_pass(tracer, tree, ops, "warmup")
    reads_before = len(recorder.reads) if recorder else 0
    warm = []
    for _ in range(max(3, round(args.seconds / wl.pass_s))):
        tracer.new_trace()
        warm.append(run.one_pass(tracer, tree, ops, "warm"))
    steal_s = tracing.host_steal_s() - steal0
    tree.stop_sampler()
    marks["passes"] = time.perf_counter()

    checks = {}
    if run.failed == 0:
        try:
            checks = wl.check(spark, run.outputs)
        except Exception:
            checks = {"gate": traceback.format_exc(limit=3)}
    for name, err in checks.items():
        if err is not None:
            run.failed += 1
            run.errors.append(f"gate {name}: {err}")
    marks["gate"] = time.perf_counter()

    layers = {}
    if traced:
        reads = recorder.reads[reads_before:]
        recorder.uninstall()
        listener.drain()
        per_pass = {}
        for r in reads:
            per_pass[r] = per_pass.get(r, 0) + 1 / len(warm)
        probes = {}
        with tracer.span("probes"):
            probes["io.scan_s"] = recorder.scan_seconds(spark, tracer, per_pass)
            wl.probe(spark, tracer, probes)
        listener.drain()

    spark.stop()
    gw = SparkContext._gateway
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    marks["stop"] = time.perf_counter()

    setup_s = start_s + warm_s
    wall_s = statistics.median(p["wall"] for p in warm)
    metrics = {
        "setup_s": setup_s,
        "cold_s": cold["wall"],
        "wall_s": wall_s,
        "mb_per_s": wl.input_bytes() / 2**20 / wall_s,
        "peak_rss_mb": tree.peak_pss / 2**20,
    }
    samples = {
        "setup_s": 1, "cold_s": 1, "wall_s": len(warm), "mb_per_s": len(warm),
        "peak_rss_mb": 1,
    }
    if traced:
        layers = _layers(tracer, listener, event_dir, warm, cpus)
        layers.update(probes)
        layers.update({
            "session.start_s": start_s, "session.warm_s": warm_s,
            "host.steal_s": steal_s,
        })
        tracer.dump(os.path.join(work, f"spans-{wl.name}-{args.seed}.jsonl"))
        units = workloads.per_layer_units()
        layers = {k: float(layers.get(k, 0.0)) for k in units}
        once = set(probes) | {"session.start_s", "session.warm_s", "host.steal_s"}
        samples = {k: 1 if k in once else len(warm) for k in units}

    result = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors,
        "metrics": metrics, "samples": samples, "layers": layers,
        "passes": [
            {"kind": p["kind"], "wall": p["wall"], "cpu": p["cpu"], "op_wall": p["op_wall"]}
            for p in run.passes
        ],
        "host_steal_s": steal_s, "inputs": props,
        "input_fingerprint": _fingerprint(data_dir),
    }
    # seconds spent in each phase of the run, ending at the named mark
    names = list(marks)
    result["phase_s"] = {b: marks[b] - marks[a] for a, b in zip(names, names[1:])}
    with open(args.result, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    return 0


def _fingerprint(data_dir: str) -> dict:
    """``bench.fixture_fingerprint`` of the generated parquet sources."""
    if not any(n.endswith(".parquet") for n in os.listdir(data_dir)):
        return {}
    import bench

    return bench.fixture_fingerprint(data_dir)


def _layers(tracer, listener, event_dir, warm, cpus) -> dict:
    """Per-layer metrics of the traced warm passes (median over passes)."""
    import tracing

    log = tracing.read_event_log(event_dir)
    span_of_run = dict(listener.run_span)
    per_pass = []
    for p in warm:
        tree = tracer.subtree(p["span"])
        ids = {s.span_id for s in tree}
        groups = {s.group for s in tree}
        runs = {r for r, sid in span_of_run.items() if sid in ids}
        m = tracing.spark_metrics(log, groups | runs, p["wall"], cpus)
        m.update(tracing.stream_metrics(
            [q for q in listener.progress if q.get("runId") in runs]
        ))
        m["proc.jvm_cpu_s"] = p["cpu"]["jvm"]
        m["proc.worker_cpu_s"] = p["cpu"]["worker"]
        m["proc.driver_cpu_s"] = p["cpu"]["driver"]
        m["trace.wall_s"] = p["wall"]
        for s in tree:
            if s.parent == p["span"].span_id:
                own = {x.span_id for x in tracer.subtree(s)}
                own_groups = {x.group for x in tracer.subtree(s)} | {
                    r for r, sid in span_of_run.items() if sid in own
                }
                m[f"key.{s.name}.wall_s"] = s.duration
                m[f"key.{s.name}.jobs"] = sum(
                    1 for g in log.jobs.values() if g in own_groups
                )
        per_pass.append(m)
    return {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}


if __name__ == "__main__":
    sys.exit(main())
