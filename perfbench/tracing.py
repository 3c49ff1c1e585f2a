"""Measurement plumbing: spans, process-tree CPU/RSS, Spark's event log
and streaming progress.

Everything here observes the engine from outside the package: spans
wrap the benchmark's own calls into the package's public functions,
Spark jobs are tied to spans through a job group per span, task metrics
come from Spark's event log, and streaming progress from a
``StreamingQueryListener``.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
import uuid
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    trace_id: str
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    @property
    def group(self) -> str:
        """The Spark job group of the jobs this span causes."""
        return f"perfbench-{self.trace_id}-{self.span_id}"


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Tracer:
    """In-memory spans.  ``spark`` (optional) receives a job group per
    span, so every Spark job a span causes carries that span's id."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.trace_id = ""

    def new_trace(self) -> str:
        self.trace_id = uuid.uuid4().hex[:12]
        return self.trace_id

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def _enter(self, name: str, attrs: dict) -> Span:
        parent = self.current
        s = Span(next(self._ids), self.trace_id, name,
                 parent.span_id if parent else None, time.perf_counter(),
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        self._set_group(self.current)

    def _set_group(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setJobGroup(None, None)
        else:
            sc.setJobGroup(s.group, s.name, interruptOnCancel=False)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.span_id]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.children(s) if c.end is not None]
        return s.duration - covered(kids, s.start, s.end)

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "trace_id": s.trace_id, "span_id": s.span_id,
                    "parent": s.parent, "name": s.name, "start": s.start,
                    "end": s.end, "self_s": self.self_time(s), **s.attrs,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        self.s = self.tracer._enter(self.name, self.attrs)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._exit(self.s)


# --------------------------------------------------------------------------
# process tree: CPU, memory, steal
# --------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, float] | None:
    """``(ppid, cpu seconds incl. reaped children)``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15]) / _TICK


def _all_stats() -> dict[int, tuple[int, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


class ProcTree:
    """The benchmark process and its descendants: the JVM and, below
    it, the Python worker daemon and workers."""

    def __init__(self):
        self.root = os.getpid()
        self.jvm_pid: int | None = None
        self.peak_pss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def members(self) -> dict[int, tuple[int, float]]:
        stats = _all_stats()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(kids.get(pid, ()))
        return out

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far, split into driver, jvm, workers, total."""
        m = self.members()
        under_jvm = set()
        if self.jvm_pid in m:
            todo = [self.jvm_pid]
            while todo:
                pid = todo.pop()
                kids = [p for p, st in m.items() if st[0] == pid]
                under_jvm.update(kids)
                todo.extend(kids)
        out = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
        for pid, (_, cpu) in m.items():
            if pid == self.jvm_pid:
                out["jvm"] += cpu
            elif pid in under_jvm:
                out["worker"] += cpu
            else:
                out["driver"] += cpu
        out["total"] = out["driver"] + out["jvm"] + out["worker"]
        return out

    def pss(self) -> int:
        """Resident bytes of the tree, as proportional set size: pages
        the forked Python workers share count once, not once each."""
        total = 0
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def start_sampler(self) -> None:
        """Sample the tree's memory every 0.2 s, keeping the peak."""
        def loop():
            while not self._stop.wait(0.2):
                self.peak_pss = max(self.peak_pss, self.pss())

        self.peak_pss = self.pss()
        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop_sampler(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def host_steal_s() -> float:
    """Steal seconds summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    failed: bool
    run_s: float
    cpu_s: float
    gc_s: float
    sched_delay_s: float
    peak_mem: int
    spill_mem: int
    spill_disk: int
    shuffle_write: int
    shuffle_read: int
    fetch_wait_s: float
    input_bytes: int
    input_rows: int
    output_bytes: int
    output_rows: int

    @property
    def duration(self) -> float:
        return self.finish - self.launch


@dataclass
class EventLog:
    """Jobs and tasks of one application, keyed by job group."""

    jobs: dict[int, str] = field(default_factory=dict)  # job id -> group
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    stage_group: dict[int, str] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)


def read_event_log(directory: str) -> EventLog:
    """Parse every uncompressed event-log file under ``directory``."""
    log = EventLog()
    for dirpath, _, files in os.walk(directory):
        for name in sorted(files):
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    _event(log, json.loads(line))
    return log


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or ""


def _event(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        jid = ev["Job ID"]
        log.jobs[jid] = _group(ev.get("Properties"))
        log.job_stages[jid] = list(ev.get("Stage IDs", []))
    elif kind == "SparkListenerStageSubmitted":
        sid = ev["Stage Info"]["Stage ID"]
        log.stage_group.setdefault(sid, _group(ev.get("Properties")))
    elif kind == "SparkListenerTaskEnd":
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        inp = m.get("Input Metrics") or {}
        out = m.get("Output Metrics") or {}
        launch, finish = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
        run_s = m.get("Executor Run Time", 0) / 1e3
        overhead = (
            m.get("Executor Deserialize Time", 0)
            + m.get("Result Serialization Time", 0)
            + info.get("Getting Result Time", 0)
        ) / 1e3
        log.tasks.append(Task(
            stage=ev["Stage ID"],
            launch=launch,
            finish=finish,
            failed=bool(info.get("Failed")),
            run_s=run_s,
            cpu_s=m.get("Executor CPU Time", 0) / 1e9,
            gc_s=m.get("JVM GC Time", 0) / 1e3,
            sched_delay_s=max(0.0, finish - launch - run_s - overhead),
            peak_mem=m.get("Peak Execution Memory", 0),
            spill_mem=m.get("Memory Bytes Spilled", 0),
            spill_disk=m.get("Disk Bytes Spilled", 0),
            shuffle_write=sw.get("Shuffle Bytes Written", 0),
            shuffle_read=sr.get("Remote Bytes Read", 0)
            + sr.get("Local Bytes Read", 0),
            fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1e3,
            input_bytes=inp.get("Bytes Read", 0),
            input_rows=inp.get("Records Read", 0),
            output_bytes=out.get("Bytes Written", 0),
            output_rows=out.get("Records Written", 0),
        ))


def spark_metrics(log: EventLog, groups: set[str], wall_s: float,
                  slots: int) -> dict[str, float]:
    """Task and job metrics of the jobs whose group is in ``groups``."""
    jobs = [j for j, g in log.jobs.items() if g in groups]
    stages = {s for s, g in log.stage_group.items() if g in groups}
    tasks = [t for t in log.tasks if t.stage in stages]
    by_stage: dict[int, list[Task]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t)
    skew = 1.0
    if by_stage:
        costly = max(by_stage.values(), key=lambda ts: sum(t.duration for t in ts))
        med = statistics.median(t.duration for t in costly)
        skew = max(t.duration for t in costly) / med if med > 0 else 1.0
    mb = 1 / 2**20
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.tasks_failed": sum(t.failed for t in tasks),
        "spark.sched_delay_s": sum(t.sched_delay_s for t in tasks),
        "spark.slot_busy_frac": (
            sum(t.duration for t in tasks) / (wall_s * slots) if wall_s > 0 else 0.0
        ),
        "spark.task_run_s": sum(t.run_s for t in tasks),
        "spark.task_cpu_s": sum(t.cpu_s for t in tasks),
        "spark.gc_s": sum(t.gc_s for t in tasks),
        "spark.peak_exec_mem_mb": max((t.peak_mem for t in tasks), default=0) * mb,
        "spark.task_skew": skew,
        "shuffle.write_mb": sum(t.shuffle_write for t in tasks) * mb,
        "shuffle.read_mb": sum(t.shuffle_read for t in tasks) * mb,
        "shuffle.fetch_wait_s": sum(t.fetch_wait_s for t in tasks),
        "spill.mem_mb": sum(t.spill_mem for t in tasks) * mb,
        "spill.disk_mb": sum(t.spill_disk for t in tasks) * mb,
        "io.input_mb": sum(t.input_bytes for t in tasks) * mb,
        "io.input_rows": sum(t.input_rows for t in tasks),
        "io.output_mb": sum(t.output_bytes for t in tasks) * mb,
        "io.output_rows": sum(t.output_rows for t in tasks),
    }


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------


def stream_listener(tracer: Tracer):
    """A ``StreamingQueryListener`` that maps each query run to the span
    open when it started (micro-batch jobs run under the query's own
    ``runId`` job group, not the caller's) and keeps every progress
    report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.run_span: dict[str, int] = {}
            self.progress: list[dict] = []
            self.last_event = time.perf_counter()
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            cur = tracer.current
            with self._lock:
                if cur is not None:
                    self.run_span[str(event.runId)] = cur.span_id
                self.last_event = time.perf_counter()

        def onQueryProgress(self, event):
            with self._lock:
                self.progress.append(json.loads(event.progress.json))
                self.last_event = time.perf_counter()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.last_event = time.perf_counter()

        def drain(self, quiet: float = 0.5, limit: float = 5.0) -> None:
            """Wait until no event arrived for ``quiet`` seconds."""
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < limit:
                if time.perf_counter() - self.last_event >= quiet:
                    return
                time.sleep(0.05)

    return Listener()


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """Sums over micro-batches; state sizes are each query run's final
    ones (its last report), summed over runs."""
    last: dict[str, dict] = {}
    for p in progress:
        last[p.get("runId", "")] = p
    ops = [o for p in progress for o in p.get("stateOperators") or []]
    final = [o for p in last.values() for o in p.get("stateOperators") or []]
    dur = [p.get("durationMs") or {} for p in progress]
    s = 1 / 1e3
    return {
        "stream.batches": len(progress),
        "stream.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "stream.trigger_s": sum(d.get("triggerExecution", 0) for d in dur) * s,
        "stream.add_batch_s": sum(d.get("addBatch", 0) for d in dur) * s,
        "stream.commit_s": sum(
            d.get("commitOffsets", 0) + d.get("walCommit", 0) for d in dur
        ) * s,
        "stream.state_rows_total": sum(o.get("numRowsTotal", 0) for o in final),
        "stream.state_rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
        "stream.state_rows_removed": sum(o.get("numRowsRemoved", 0) for o in ops),
        "stream.state_mem_mb": sum(
            o.get("memoryUsedBytes", 0) for o in final
        ) / 2**20,
        "stream.state_commit_s": sum(o.get("commitTimeMs", 0) for o in ops) * s,
        "stream.state_stores": sum(
            o.get("numStateStoreInstances", o.get("numShufflePartitions", 0))
            for o in final
        ),
        "stream.late_rows_dropped": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops
        ),
    }
