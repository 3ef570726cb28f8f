"""Tests of the benchmark itself: span arithmetic, the event-log fold, metric
names, and a tiny-input smoke run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, intersect, measure, self_time, subtract, union  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def span(name, start, end, parent=None):
    return Span(sid=name, name=name, parent=parent, run="r", start=start, end=end)


def test_self_time_subtracts_the_union_of_children():
    root = span("root", 0.0, 10.0)
    kids = [span("a", 1.0, 3.0), span("b", 2.0, 5.0), span("c", 9.0, 12.0)]
    # covered: [1, 5] and [9, 10] -> 5 s of 10
    assert self_time(root, kids) == pytest.approx(5.0)
    assert self_time(root, []) == pytest.approx(10.0)
    assert self_time(kids[0], []) == pytest.approx(2.0)


def test_interval_algebra():
    assert union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert measure([(0, 1), (0.5, 2), (5, 5)]) == pytest.approx(2.0)
    assert subtract([(0, 10)], [(1, 2), (4, 6)]) == [(0, 1), (2, 4), (6, 10)]
    assert subtract([(0, 3)], [(-1, 5)]) == []
    assert intersect([(0, 4), (6, 8)], [(3, 7)]) == [(3, 4), (6, 7)]


def test_tracer_nesting_and_reentry():
    tr = Tracer("t")
    with tr.span("op") as root:
        with tr.span("experts.reduce") as outer:
            with tr.span("experts.reduce") as inner:  # re-entered boundary
                assert inner is outer
        with tr.span("lbfgsb"):
            tr.count("lbfgsb.points_requested", 3)
            with tr.span("experts.reduce"):
                pass
    names = [(s.name, s.parent) for s in tr.spans]
    assert names == [
        ("op", None),
        ("experts.reduce", root.sid),
        ("lbfgsb", root.sid),
        ("experts.reduce", tr.spans[2].sid),
    ]
    assert tr.counts[(root.sid, "lbfgsb.points_requested")] == 3
    assert all(s.end >= s.start for s in tr.spans)


def test_boundaries_are_restored():
    pytest.importorskip("pyspark")
    sys.path.insert(0, str(ROOT))
    from spark_gp_spark import GaussianProcessRegression, estimator_base
    from spark_gp_spark.experts import DistributedExperts, LocalExperts

    from spans import install_boundaries

    before = (
        estimator_base.build_experts, estimator_base.minimize_lbfgsb,
        DistributedExperts.sum_over_experts_stateful, LocalExperts.update_states,
    )
    restore = install_boundaries(Tracer("t"), layers=True)
    assert "fit" in vars(GaussianProcessRegression)
    assert estimator_base.build_experts is not before[0]
    restore()
    assert "fit" not in vars(GaussianProcessRegression)
    after = (
        estimator_base.build_experts, estimator_base.minimize_lbfgsb,
        DistributedExperts.sum_over_experts_stateful, LocalExperts.update_states,
    )
    assert after == before


def test_eventlog_fold(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 2e9,
                          "JVM GC Time": 100, "Input Metrics": {"Bytes Read": 64}},
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "100"},
             {"Name": "time to run Python workers", "Update": "3000"},
             {"Name": "time to start Python workers", "Update": "1000"},
             {"Name": "time to initialize Python workers", "Update": "500"},
             {"Name": "scan time", "Update": "250"},
         ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5500},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = eventlog.fold(str(path))
    g1 = log.stats(["g1"])
    assert (g1.jobs, g1.stages, g1.tasks) == (1, 1, 1)
    assert g1.executor_run_s == pytest.approx(1.5)
    assert g1.executor_cpu_s == pytest.approx(2.0)
    assert g1.gc_s == pytest.approx(0.1)
    assert g1.py_bytes_sent == 100
    assert g1.py_run_s == pytest.approx(3.0)
    assert g1.py_start_s == pytest.approx(1.5)
    assert g1.scan_s == pytest.approx(0.25)
    assert g1.scan_bytes_read == 64
    none = log.stats([None])
    assert (none.jobs, none.tasks, none.shuffle_write_bytes) == (1, 1, 7)
    assert log.jobs == [("g1", 1.0, 4.0), (None, 5.0, 5.5)]


def test_summarize_tail_needs_ten_samples_beyond_it():
    assert run.summarize([3.0, 1.0, 2.0])["tail"] is None
    s = run.summarize([float(v) for v in range(1, 21)])
    assert s["median"] == 10.5 and s["n"] == 20
    # ten samples (11..20) lie above the 50th percentile value 10
    assert s["tail"] == {"pct": 50.0, "value": 10.0}
    hi = run.summarize([float(v) for v in range(1, 21)], better="higher")
    assert hi["tail"]["value"] == 11.0


def test_peak_memory_counts_the_live_heap_not_the_committed_one():
    rss = {"driver_python": 150.0, "jvm": 1500.0, "python_workers": 700.0}
    assert run.peak_memory_mb(rss, {"committed": 1024.0, "live": 100.0}) == pytest.approx(1426.0)
    # a JVM-side cache grows the live heap, not the pre-touched resident size
    assert run.peak_memory_mb(rss, {"committed": 1024.0, "live": 300.0}) == pytest.approx(1626.0)


def test_metric_names_and_units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert e2e == [n for n, _, _ in run.END_TO_END]
    assert layer == run.PER_LAYER
    names = e2e + layer + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])
    assert {w["name"] for w in spec["workloads"]} == set(__import__("workloads").WORKLOADS)


def _result(stdout: str) -> tuple[dict, dict]:
    lines = stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["gpc_laplace_2k", "corpus_prep_gpc"])
def test_smoke_tiny(workload):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    payload, result = _result(proc.stdout)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, payload["errors"]
    assert list(result["metrics"]) == run.PER_LAYER
    for name, unit, _ in run.END_TO_END:
        assert payload["end_to_end"][name]["median"] > 0, name
        assert payload["end_to_end"][name]["unit"] == unit
    assert 0 < payload["jvm_heap_mb"]["live"] < payload["jvm_heap_mb"]["committed"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["trace.wall_s"] > 0
    assert m["trace.layers_self_s"] + m["trace.unexplained_s"] == pytest.approx(m["trace.wall_s"])
    if workload == "corpus_prep_gpc":
        assert m["experts.reduce.calls"] == 0 and m["experts.state.calls"] == 0
        assert m["experts.local.calls"] > 0 and m["gp_math.laplace.calls"] > 0
    else:
        assert m["experts.reduce.calls"] > 0 and m["experts.reduce.jobs"] > 0
        assert m["predict.jobs"] > 0 and m["predict.py_run_s"] > 0
        assert m["experts.state.calls"] > 0


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "gpc_laplace_2k", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
