"""Benchmark entry point.

    python3 perfbench/run.py --workload intsort|stream|all --seed N \
        --seconds S --trace 0|1

Run from the repository root.  Each run is one fresh worker process
(``worker.py``) that generates the seeded inputs, sets Spark up on
``local[<cpus>]``, times a cold pass and then warm passes for about
``--seconds``, and checks every output against an oracle.  Generated
inputs, Spark's scratch files and the logs stay under
``.perfbench_work/`` in the repository root.

Standard output: one line per metric (name, value, unit, samples), then
a JSON object as the last line::

    {"correct": true, "attempted": 12, "failed": 0,
     "metrics": {"wall_s": {"value": 7.91, "unit": "s"}, ...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones from a traced run.  ``--workload all`` runs every
workload in turn and nests the last line's metrics by workload.  The
exit code is 1 when an output fails the correctness gate, and 2 when a
run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreduce_framework_for_mergesort_spark"
TIMEOUT_S = 170


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(pgid: int) -> None:
    """Stop every process left in the worker's process group and wait
    until all have ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def run_workload(name: str, args, work: str) -> dict | None:
    """One worker process; its result, or None when it did not finish."""
    tag = f"{name}-{args.seed}-t{args.trace}"
    result_path = os.path.join(work, f"result-{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", name, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ]
    with open(os.path.join(work, f"log-{tag}.txt"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        _stop_group(proc.pid)
        proc.wait()
    if code != 0 or not os.path.exists(result_path):
        print(f"perfbench: {name} worker failed (exit {code}); see {log.name}",
              file=sys.stderr)
        return None
    with open(result_path) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name, or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {ROOT} holds no {PACKAGE}/ to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    if not set(names) <= set(workloads.WORKLOADS):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.trace:
        units = workloads.per_layer_units()
    else:
        units = {k: u for k, (u, _) in workloads.END_TO_END.items()}

    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    attempted = failed = 0
    metrics = {}
    for name in names:
        res = run_workload(name, args, work)
        if res is None:
            return 2
        values = res["layers"] if args.trace else res["metrics"]
        for k, u in units.items():
            print(f"{name:8s} {k:32s} {values[k]:14.4f} {u:6s} n={res['samples'][k]}")
        for e in res["errors"]:
            print(f"perfbench: {name}: {e}", file=sys.stderr)
        attempted += res["attempted"]
        failed += res["failed"]
        metrics[name] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # one workload: its metrics by name; all: by workload, then name
        "metrics": metrics[names[0]] if len(names) == 1 else metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
