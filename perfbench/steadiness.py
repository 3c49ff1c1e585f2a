"""Steadiness record: run every workload on several seeds and summarise
how much each end-to-end metric spreads.

    python3 perfbench/steadiness.py --seeds 101-110 --traced 2 \
        --out perfbench/STEADINESS.json

For each workload and end-to-end metric: the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance
between the quartiles as a share of the median.  Also per run: host
steal and the generated inputs' properties; per workload: the input
sizes and fingerprints, the seconds each run took, the tracing overhead (median traced warm pass
minus median untraced warm pass) and the map from each per-layer metric
to the end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

# per-layer metric (prefix) -> (end-to-end metric it should move, where)
LAYER_MAP = {
    "session.": ("setup_s", "all workloads"),
    "spark.jobs": ("wall_s", "scheduling floor; barely moves on intsort"),
    "spark.stages": ("wall_s", "scheduling floor; barely moves on intsort"),
    "spark.tasks": ("wall_s", "scheduling floor; barely moves on intsort"),
    "spark.sched_delay_s": ("wall_s", "scheduling floor; barely moves on intsort"),
    "spark.slot_busy_frac": ("wall_s", "scheduling floor; barely moves on intsort"),
    "spark.task_run_s": ("wall_s", "all workloads"),
    "spark.task_cpu_s": ("wall_s", "all workloads"),
    "spark.gc_s": ("wall_s", "all workloads"),
    "spark.peak_exec_mem_mb": ("wall_s", "all workloads"),
    "spark.task_skew": ("wall_s", "mainly stream"),
    "shuffle.": ("wall_s", "intsort"),
    "spill.": ("wall_s, peak_rss_mb", "intsort"),
    "io.": ("wall_s", "io.load_table scans on stream; output counters on intsort"),
    "ingest.": ("wall_s, mb_per_s", "intsort only"),
    "sort.": ("wall_s, mb_per_s", "intsort only"),
    "proc.worker_cpu_s": ("wall_s", "stream (applyInPandasWithState) and intsort (packer)"),
    "proc.": ("wall_s", "all workloads"),
    "stream.": ("wall_s", "stream only"),
    "key.sort_file.": ("wall_s", "intsort"),
    "key.": ("wall_s", "stream"),
    "host.steal_s": ("none", "context, never a gate"),
    "trace.wall_s": ("wall_s", "traced minus untraced is the tracing overhead"),
}


def layer_map() -> dict[str, list[str]]:
    out = {}
    for name in workloads.per_layer_units():
        prefix = max((p for p in LAYER_MAP if name.startswith(p)), key=len)
        out[name] = list(LAYER_MAP[prefix])
    return out


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=200)
    run_s = time.perf_counter() - t0
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    line = json.loads(out.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench_work", f"result-{workload}-{seed}-t{trace}.json")
    with open(path) as f:
        detail = json.load(f)
    return {"line": line, "detail": detail, "run_s": run_s}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": statistics.median(values), "q1": q1, "q3": q3,
        "spread": (q3 - q1) / statistics.median(values),
        "n": len(values), "values": values,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--traced", type=int, default=2,
                    help="traced runs per workload, on the first seeds")
    ap.add_argument("--workloads", default=",".join(workloads.WORKLOADS))
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    record = {"workloads": {}}
    if os.path.exists(args.out):  # keep the record of workloads not rerun
        with open(args.out) as f:
            record = json.load(f)
    record.update({"run_seconds": seconds, "seeds": args.seeds})
    for name in args.workloads.split(","):
        wl = workloads.WORKLOADS[name]
        runs = []
        for s in seeds(args.seeds):
            r = run_once(name, s, seconds, 0)
            runs.append(r)
            print(name, s, json.dumps({k: round(v["value"], 3)
                                       for k, v in r["line"]["metrics"].items()}),
                  flush=True)
        traced = [run_once(name, s, seconds, 1) for s in seeds(args.seeds)[:args.traced]]
        metrics = {}
        for m in workloads.END_TO_END:
            st = summary([r["line"]["metrics"][m]["value"] for r in runs])
            st["bound"] = bounds[m]
            st["within_third_of_bound"] = st["spread"] < bounds[m] / 3
            metrics[m] = st
        untraced_wall = metrics["wall_s"]["median"]
        traced_wall = statistics.median(
            r["line"]["metrics"]["trace.wall_s"]["value"] for r in traced
        ) if traced else None
        record["workloads"][name] = {
            "why": wl.why,
            "metrics": metrics,
            "correct": all(r["line"]["correct"] for r in runs + traced),
            "runs": [
                {"seed": r["detail"]["seed"],
                 "host_steal_s": r["detail"]["host_steal_s"],
                 "run_s": r["run_s"],
                 "phase_s": r["detail"]["phase_s"],
                 "warmup_passes": sum(p["kind"] == "warmup" for p in r["detail"]["passes"]),
                 "warm_passes": sum(p["kind"] == "warm" for p in r["detail"]["passes"]),
                 "inputs": r["detail"]["inputs"]}
                for r in runs
            ],
            "input_fingerprint_first_seed": runs[0]["detail"]["input_fingerprint"],
            "tracing_overhead_s": (
                traced_wall - untraced_wall if traced_wall is not None else None
            ),
            "traced_layers_first_seed": traced[0]["line"]["metrics"] if traced else None,
        }
    record["layer_map"] = layer_map()
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
