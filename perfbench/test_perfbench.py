"""Tests of the engine benchmark itself: ``python -m pytest perfbench``.

The smoke tests start Spark (about half a minute each); the rest are pure
Python."""

from __future__ import annotations

import fnmatch
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import metrics  # noqa: E402
from perfbench.tracing import summarize_event_log  # noqa: E402
from perfbench.workloads import same_topk  # noqa: E402


def test_benchmark_json_matches_definitions():
    assert json.loads((ROOT / "BENCHMARK.json").read_text()) == metrics.benchmark_json()


def test_layer_map_names_real_metrics():
    layer_map = json.loads((ROOT / "perfbench" / "layers.json").read_text())
    per_layer = [n for n, _u, _b in metrics.PER_LAYER]
    figures = layer_map["figures"]
    for entry in layer_map["layers"]:
        for pattern in entry["layers"]:
            assert fnmatch.filter(per_layer, pattern), pattern
        assert set(entry["moves"]) <= set(figures)
    e2e = {n for n, *_ in metrics.E2E}
    workloads = {n for n, _w in metrics.WORKLOADS}
    for fig in figures.values():
        assert fig["metric"] in e2e | {None}
        assert fig["workload"] in workloads


def test_same_topk_tolerates_ties_only():
    a = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert same_topk(a, [(1, 3.0), (3, 2.0), (2, 2.0), (4, 1.0)])
    assert same_topk(a, [(1, 3.0), (2, 2.0 + 1e-12), (3, 2.0), (4, 1.0)])
    assert not same_topk(a, [(1, 3.0), (2, 2.0), (5, 2.0), (4, 1.0)])
    assert not same_topk(a, [(1, 3.0), (2, 2.0), (3, 1.9), (4, 1.0)])
    assert not same_topk(a, a[:3])
    # members of the tie run that reaches the k-th place may differ
    assert same_topk([(1, 3.0), (2, 1.0)], [(1, 3.0), (7, 1.0)])


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields}, separators=(",", ":"))


def test_event_log_summary(tmp_path):
    task = {"Executor Run Time": 500, "Executor CPU Time": 250_000_000,
            "Input Metrics": {"Bytes Read": 2_000_000},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1_000_000},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 3_000_000,
                                     "Fetch Wait Time": 100},
            "Disk Bytes Spilled": 0, "Output Metrics": {"Bytes Written": 500_000}}
    lines = [
        # job 0: tagged with the call's group; two stages, one skipped
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 10_000,
               "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "build#1"}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": task}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": task}),
        _event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1,
               "Stage Name": "parquet at /x/ciff_spark/build.py:462"}}),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 11_000}),
        # job 1: untagged (helper thread), inside the call's window
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 11_500,
               "Stage IDs": [2], "Properties": {}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": task}),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 12_000}),
        # job 2: outside every call
        _event("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 50_000,
               "Stage IDs": [3], "Properties": {}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 3, "Task Metrics": task}),
        '{"Event":"SparkListenerEnvironmentUpdate"}',
    ]
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    (log_dir / "app").write_text("\n".join(lines) + "\n")
    calls = [("build", "build#1", 9.5, 13.0)]
    m, sites = summarize_event_log(str(log_dir), calls, rank_spans=[(9.6, 10.5)])
    assert m["build.jobs"] == 2
    assert m["build.stages"] == 2
    assert m["build.tasks"] == 3
    assert m["build.call_s"] == pytest.approx(3.5)
    assert m["build.driver_s"] == pytest.approx(3.5 - 1.5)
    assert m["build.exec_run_s"] == pytest.approx(1.5)
    assert m["build.exec_cpu_s"] == pytest.approx(0.75)
    assert m["build.scan_mb"] == pytest.approx(6.0)
    assert m["build.shuffle_read_mb"] == pytest.approx(9.0)
    assert m["build.shuffle_fetch_wait_s"] == pytest.approx(0.3)
    assert m["build.output_mb"] == pytest.approx(1.5)
    assert m["rank.jobs"] == 1
    assert m["append.jobs"] == 0
    assert sites["build"] == {"parquet at build.py:462": 1, "?": 1}


def test_event_log_summary_keeps_applications_apart(tmp_path):
    """A run that restarts Spark logs two applications whose job and stage
    ids both start at 0."""
    task = {"Executor Run Time": 1000}
    for app, (group, t) in enumerate([("build#1", 10_000), ("append#1", 20_000)]):
        lines = [
            _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": t,
                   "Stage IDs": [0], "Properties": {"spark.jobGroup.id": group}}),
            _event("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": task}),
            _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": t + 500}),
        ]
        (tmp_path / f"local-{app}").write_text("\n".join(lines) + "\n")
    calls = [("build", "build#1", 9.0, 11.0), ("append", "append#1", 19.0, 21.0)]
    m, _sites = summarize_event_log(str(tmp_path), calls, rank_spans=[])
    assert m["build.jobs"] == m["append.jobs"] == 1
    assert m["build.exec_run_s"] == m["append.exec_run_s"] == pytest.approx(1.0)


def _run(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=170)


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_workload(tmp_path, trace):
    """Every workload and every correctness check on a tiny corpus, launched
    from outside the repository without PYTHONPATH (Spark's Python workers
    must still import the engine)."""
    p = _run([str(ROOT / "perfbench" / "run.py"), "--smoke", "--trace", str(trace)], tmp_path)
    assert p.returncode == 0, p.stderr[-4000:]
    results = [json.loads(line) for line in p.stdout.splitlines() if line.startswith("{")]
    assert [r["workload"] for r in results] == ["build_batch", "serve_hot", "fresh_ingest"]
    expected = (
        [n for n, *_ in metrics.E2E] if trace == 0 else [n for n, *_ in metrics.PER_LAYER]
    )
    for r in results:
        assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0, r
        assert list(r["metrics"]) == expected
    if trace:
        layers = {r["workload"]: r["metrics"] for r in results}
        assert layers["build_batch"]["build.jobs"]["value"] > 0
        assert layers["build_batch"]["topk_exact.stages"]["value"] > 0
        assert layers["fresh_ingest"]["compact.tasks"]["value"] > 0
        assert layers["fresh_ingest"]["store.write_amp"]["value"] > 0
        assert layers["fresh_ingest"]["wand.seg_blocks"]["value"] > 0
        assert layers["fresh_ingest"]["wand.base_blocks_total"]["value"] > 0
        assert layers["serve_hot"]["wand.calls"]["value"] > 0
        assert layers["serve_hot"]["append.jobs"]["value"] == 0
        # the correctness checks' searches stay out of the serving spans
        assert layers["build_batch"]["serve.searches"]["value"] == 0
    else:
        for r in results:
            assert all(v["value"] > 0 for v in r["metrics"].values()), r


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails fast
    and prints no result."""
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = _run(["perfbench/run.py", "--workload", "serve_hot", "--seed", "1",
              "--seconds", "1", "--trace", "0"], tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
