"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The arithmetic tests are instant.  The smoke test runs one timed pass of
every workload at sf0.001 in its own process (under a minute each) and
asserts every output matches its oracle; skip it with ``-m "not smoke"``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import run  # noqa: E402
import tracing as tr  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------ percentile selection --


def test_tail_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 100 samples
    label, value = tr.tail(xs)
    assert label == "p90"  # 10 beyond p90; only 5 beyond p95
    assert value == pytest.approx(tr.percentile(xs, 90))


def test_tail_boundaries():
    assert tr.tail([1.0] * 1000)[0] == "p99"  # 10 beyond p99 exactly
    assert tr.tail([1.0] * 999)[0] == "p95"
    assert tr.tail([1.0] * 40)[0] == "p75"
    assert tr.tail([1.0] * 20)[0] == "p50"


def test_tail_falls_back_to_max():
    label, value = tr.tail([3.0, 1.0, 2.0])
    assert (label, value) == ("max", 3.0)


def test_percentile_interpolates():
    assert tr.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert tr.percentile([5.0], 99) == 5.0


# ------------------------------------------------------ span self time --


def _span(i, start, end, parent=None):
    return tr.Span(i, f"s{i}", start, end, parent, 0)


def test_self_time_subtracts_children():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, 1), _span(3, 5.0, 9.0, 1),
             _span(4, 6.0, 7.0, 3)]
    st = tr.self_times(spans)
    assert st[1] == pytest.approx(4.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_overlapping_and_overhanging_children():
    # children that overlap each other count once; a child running past
    # its parent's end is clipped to the parent
    spans = [_span(1, 0.0, 10.0), _span(2, 2.0, 6.0, 1), _span(3, 4.0, 8.0, 1),
             _span(4, 9.0, 12.0, 1)]
    assert tr.self_times(spans)[1] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_records_nesting_and_py4j_counts():
    counter = tr.Py4jCounter()
    t = tr.Tracer(counter)
    t.op_id = 7
    with t.span("construct"):
        counter.calls += 3
        with t.span("inner"):
            counter.calls += 2
    outer = next(s for s in t.spans if s.name == "construct")
    inner = next(s for s in t.spans if s.name == "inner")
    assert inner.parent == outer.id and outer.parent is None
    assert (outer.py4j_calls, inner.py4j_calls) == (5, 2)
    assert outer.op == inner.op == 7


# --------------------------------------------- time-window attribution --


def test_attribute_to_op_windows():
    windows = [(0.0, 1.0), (1.0, 2.5), (4.0, 5.0)]
    times = [-0.5, 0.2, 1.0, 2.4, 3.0, 4.0, 5.0, 5.1]
    assert tr.attribute(times, windows) == [None, 0, 1, 1, None, 2, 2, None]


def test_attribute_no_windows():
    assert tr.attribute([1.0], []) == [None]


# ------------------------------------------------- per-layer metrics --


def _layer_ctx():
    """Two traced ops of one pass, with one task, one streaming progress
    and one REST request inside op 0 and one task outside both."""
    t = tr.Tracer(tr.Py4jCounter())
    t.spans = [
        tr.Span(1, "construct", 100.0, 101.0, None, 0, 40, 0.2),
        tr.Span(2, "action", 101.0, 101.9, None, 0, 10, 0.1),
        tr.Span(3, "construct", 102.0, 104.0, None, 1, 5, 0.0),
    ]
    base = {"gc_s": 0.1, "gc_n": 1, "threads": 4, "fds": 50}
    ops = [
        dict(base, op="put_ftp_roundtrip", op_id=0, start=100.0, end=102.0,
             lat=2.0, py4j_calls=50, py4j_s=0.3),
        dict(base, op="stream_tumbling_window", op_id=1, start=102.0,
             end=104.0, lat=2.0, py4j_calls=5, py4j_s=0.0),
    ]
    task = {"run_s": 1.0, "deser_s": 0.1, "sched_delay_s": 0.05,
            "input_b": 2**20, "shuffle_read_b": 0, "shuffle_write_b": 0,
            "spill_b": 0}
    return {
        "traced_ops": ops,
        "traced_passes": 1,
        "tracer": t,
        "session_start_s": 5.0,
        "progress": [{
            "runId": "r1", "timestamp": "1970-01-01T00:01:43.000Z",
            "numInputRows": 7, "durationMs": {"triggerExecution": 1500},
            "stateOperators": [{"numRowsTotal": 3, "commitTimeMs": 20,
                                "memoryUsedBytes": 2**20}],
        }],
        "compiles": [],
        "rest": [(100.5, "POST", "/nifi-api/process-groups/g/processors", 0.044, True)],
        "cpus": 4,
        "tmp_left": (0, 0.0),
        "overhead_s": 0.1,
        "peak_rss_mb": 900.0,
        "events": {
            "jobs": [{"t": 100.2}], "stages": [{"t": 100.2}],
            "tasks": [dict(task, t=100.3), dict(task, t=110.0)],
        },
    }


def test_layer_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ctx = _layer_ctx()
    m = run.layer_metrics(ctx)
    assert set(m) == {x["name"] for x in spec["per_layer"]}
    assert {u for _, u in m.values()} >= {"s", "count/pass"}
    units = {x["name"]: x["unit"] for x in spec["per_layer"]}
    assert all(m[k][1] == units[k] for k in m)


def test_layer_metrics_attribute_by_window():
    m = run.layer_metrics(_layer_ctx())
    assert m["exec.tasks"][0] == 1  # the task at t=110 is outside every op
    assert m["exec.input_mb"][0] == pytest.approx(1.0)
    assert m["exec.busy_ratio"][0] == pytest.approx(1.0 / (4.0 * 4))
    assert m["stream.batches"][0] == 1 and m["stream.input_rows"][0] == 7
    # op 1 (102..104 s) held the trigger: 2.0 s wall - 1.5 s trigger
    assert m["stream.start_stop_s"][0] == pytest.approx(0.5)
    assert m["rest.requests"][0] == 1
    assert m["rest.create_processor_ms"][0] == pytest.approx(44.0)
    assert m["wire.put_ftp_roundtrip_s"][0] == 2.0
    assert m["py4j.calls"][0] == 55
    assert m["trace.span_coverage"][0] == pytest.approx(0.95)


# ------------------------------------------------------------ datagen --


def test_datagen_is_deterministic_per_seed():
    a = datagen.tables(3, 0.001)
    b = datagen.tables(3, 0.001)
    c = datagen.tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["orders"].num_rows == 1500


# -------------------------------------------------------------- smoke --


@pytest.mark.smoke
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_one_pass_smoke(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", "0", "--sf", "0.001",
         "--warm-passes", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    summary = json.loads(lines[-2])["perfbench"]
    result = json.loads(lines[-1])
    assert summary["results_correct_ratio"] == 1, summary["wrong_results"]
    assert summary["ops_failed_ratio"] == 0, summary["failures"]
    assert result["correct"] is True and result["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(result["metrics"]) == {x["name"] for x in spec["end_to_end"]}
