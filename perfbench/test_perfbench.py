"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gate  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# -- generators -------------------------------------------------------------


def test_intsort_values_deterministic_per_seed():
    a, b = gen.intsort_values(5, 50_000), gen.intsort_values(5, 50_000)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, gen.intsort_values(6, 50_000))


def test_intsort_values_cover_the_edges():
    v = gen.intsort_values(3, 50_000)
    assert v.dtype == np.int32
    for edge in gen.INTSORT_EDGES:
        assert (v == edge).sum() >= 1
    assert (v < 0).any() and gen.repeated_share(v) > 0.05


def test_stream_events_deterministic_and_folded():
    a, b = gen.stream_events(9, base=2_000), gen.stream_events(9, base=2_000)
    for k in a:
        assert np.array_equal(a[k], b[k])
    c = gen.stream_events(10, base=2_000)
    assert not np.array_equal(a["user_id"], c["user_id"])
    assert a["event_id"].size == 2_000 * gen.STREAM_REPLICAS
    assert len(np.unique(a["event_id"])) == a["event_id"].size
    # half the replicas carry only hot users, the other half the base mix
    share = gen.hot_user_share(a["user_id"], a["hot_users"])
    assert 0.5 <= share < 0.6


def test_ensure_intsort_reuses_only_a_matching_marker(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "INTSORT_VALUES", 1_000)
    root = str(tmp_path / "intsort")
    gen.ensure_intsort(root, 1)
    path = os.path.join(root, "ints.txt")
    first = open(path).read()
    gen.ensure_intsort(root, 1)
    assert open(path).read() == first
    # a truncated directory without its marker is rebuilt
    os.remove(os.path.join(root, "_COMPLETE"))
    open(path, "w").write("1 2")
    gen.ensure_intsort(root, 1)
    assert open(path).read() == first
    # another seed replaces the input
    gen.ensure_intsort(root, 2)
    assert open(path).read() != first
    assert gen.properties(root)["values"] == 1_000


def test_ensure_stream_deterministic(tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    monkeypatch.setattr(gen, "STREAM_BASE_EVENTS", 500)
    monkeypatch.setattr(gen, "STREAM_CUSTOMERS", 300)
    a = gen.ensure_stream(str(tmp_path / "a"), 4)
    b = gen.ensure_stream(str(tmp_path / "b"), 4)
    for t in ("events", "customer"):
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        tb = pq.read_table(os.path.join(b, f"{t}.parquet"))
        assert ta.equals(tb)
    assert gen.properties(a) == gen.properties(b)


# -- metric names -----------------------------------------------------------


def test_metric_names_and_counts():
    e2e = workloads.END_TO_END
    layers = workloads.per_layer_units()
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    assert not set(e2e) & set(layers)
    for name, unit in [(k, u) for k, (u, _) in e2e.items()] + list(layers.items()):
        assert NAME.match(name), name
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", unit), unit


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == (
        workloads.END_TO_END
    )
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: (u, workloads.per_layer_better(k))
        for k, u in workloads.per_layer_units().items()
    }
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- correctness gate -------------------------------------------------------


def _write_parts(d, values, per_file):
    os.makedirs(d)
    for i in range(0, len(values), per_file):
        with open(os.path.join(d, f"part-{i // per_file:05d}.txt"), "w") as f:
            f.write(" ".join(map(str, values[i:i + per_file])))


def test_gate_accepts_sorted_parts(tmp_path):
    vals = gen.intsort_values(1, 3_000)
    _write_parts(str(tmp_path / "out"), np.sort(vals).tolist(), 700)
    assert gate.check_sorted(gate.read_sorted_output(str(tmp_path / "out")), vals) is None


def test_gate_rejects_one_swapped_pair(tmp_path):
    vals = gen.intsort_values(1, 3_000)
    out = np.sort(vals).tolist()
    i = next(j for j in range(len(out) - 1) if out[j] != out[j + 1])
    out[i], out[i + 1] = out[i + 1], out[i]
    _write_parts(str(tmp_path / "out"), out, 700)
    err = gate.check_sorted(gate.read_sorted_output(str(tmp_path / "out")), vals)
    assert err is not None and str(i) in err


def test_gate_rejects_parts_out_of_filename_order(tmp_path):
    vals = gen.intsort_values(1, 3_000)
    out = np.sort(vals).tolist()
    _write_parts(str(tmp_path / "out"), out[1_500:] + out[:1_500], 1_500)
    assert gate.check_sorted(gate.read_sorted_output(str(tmp_path / "out")), vals)


def test_gate_compare_is_order_insensitive_and_catches_one_altered_row():
    import datetime

    cols = ["user_id", "n", "total", "at"]
    rows = [
        (1, 3, 10.5, datetime.datetime(2024, 1, 1, 5)),
        (2, 1, 0.25, datetime.datetime(2024, 1, 2, 6)),
        (3, 7, 99.0, datetime.datetime(2024, 1, 3, 7)),
    ]
    # the oracle names columns in another order and returns rows in
    # another order; integral floats equal ints
    ocols = ["at", "n", "total", "user_id"]
    orows = [(r[3], r[1], float(r[2]), r[0]) for r in reversed(rows)]
    assert gate.compare(cols, rows, ocols, orows) is None
    bad = list(orows)
    bad[1] = (bad[1][0], bad[1][1] + 1, bad[1][2], bad[1][3])
    assert "value hash" in gate.compare(cols, rows, ocols, bad)
    assert "rows" in gate.compare(cols, rows, ocols, orows[:2])
    assert "columns" in gate.compare(["x", *cols[1:]], rows, ocols, orows)


def test_gate_hash_is_multiplicity_sensitive():
    cols = ["k"]
    assert gate.compare(cols, [(1,), (1,), (2,), (2,)], cols, [(1,), (2,), (1,), (2,)]) is None
    assert gate.compare(cols, [(1,), (1,), (2,), (2,)], cols, [(1,), (1,), (1,), (2,)])


# -- spans ------------------------------------------------------------------


def _span(tr, name, parent, start, end):
    s = tracing.Span(len(tr.spans) + 1, "t", name, parent, start, end)
    tr.spans.append(s)
    return s


def test_self_time_is_duration_minus_child_coverage():
    tr = tracing.Tracer()
    root = _span(tr, "pass", None, 0.0, 10.0)
    _span(tr, "a", root.span_id, 1.0, 3.0)
    _span(tr, "b", root.span_id, 2.0, 5.0)  # overlaps a: union is [1, 5]
    _span(tr, "c", root.span_id, 7.0, 8.0)
    assert tr.self_time(root) == pytest.approx(10.0 - 4.0 - 1.0)
    leaf = tr.spans[1]
    assert tr.self_time(leaf) == pytest.approx(2.0)


def test_spans_nest_and_carry_the_trace_id():
    tr = tracing.Tracer()
    tid = tr.new_trace()
    with tr.span("pass") as p:
        with tr.span("op") as o:
            pass
    assert o.parent == p.span_id and p.parent is None
    assert {s.trace_id for s in tr.spans} == {tid}
    assert tr.self_time(p) == pytest.approx(p.duration - o.duration)
    assert {s.span_id for s in tr.subtree(p)} == {p.span_id, o.span_id}


# -- event log and streaming attribution ------------------------------------


def _task(stage, launch, finish, run_ms, **extra):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": False},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                         **extra},
    }


def test_event_log_attributes_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "run-abc"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "run-abc"}},
        _task(0, 1000, 2000, 900),
        _task(1, 1000, 1500, 400),
        _task(1, 1000, 4000, 2900,
              **{"Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}),
    ]
    d = tmp_path / "log"
    d.mkdir()
    (d / "app").write_text("\n".join(json.dumps(e) for e in events))
    log = tracing.read_event_log(str(d))
    one = tracing.spark_metrics(log, {"span-1"}, 1.0, 4)
    assert (one["spark.jobs"], one["spark.tasks"]) == (1, 1)
    both = tracing.spark_metrics(log, {"span-1", "run-abc"}, 2.0, 4)
    assert (both["spark.jobs"], both["spark.stages"], both["spark.tasks"]) == (2, 2, 3)
    assert both["shuffle.write_mb"] == pytest.approx(1.0)
    assert both["spark.task_skew"] == pytest.approx(3.0 / 1.75)


def test_stream_metrics_take_final_state_per_run():
    prog = [
        {"runId": "r1", "numInputRows": 10, "durationMs": {"triggerExecution": 100},
         "stateOperators": [{"numRowsTotal": 5, "numRowsUpdated": 5}]},
        {"runId": "r1", "numInputRows": 0, "durationMs": {"triggerExecution": 50},
         "stateOperators": [{"numRowsTotal": 7, "numRowsUpdated": 2}]},
        {"runId": "r2", "numInputRows": 4, "durationMs": {},
         "stateOperators": [{"numRowsTotal": 1, "numRowsUpdated": 1}]},
    ]
    m = tracing.stream_metrics(prog)
    assert m["stream.batches"] == 3 and m["stream.input_rows"] == 14
    assert m["stream.state_rows_total"] == 8
    assert m["stream.state_rows_updated"] == 8
    assert m["stream.trigger_s"] == pytest.approx(0.15)
