"""tools/profiler.py end to end: it drives perfbench's Bench and layer
metrics, so a change to either that the profiler no longer fits fails
here."""

import json
import os
import subprocess
import sys

import pytest

SF = "/root/testdata/sf0.001"
ROOT = os.path.join(os.path.dirname(__file__), "..")
PROFILE = os.path.join(ROOT, "tools", "profiler.py")


def _profile(tmp_path, *names):
    out = subprocess.run(
        [sys.executable, PROFILE, SF, *names],
        cwd=tmp_path, capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    return [json.loads(line) for line in out.splitlines() if line.startswith("{")]


def _line_keys():
    from perfbench import layers
    from tools.profiler import metric_keys

    return {"query", "sf_dir", "reps", *metric_keys(layers)}


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_profile_prints_one_line_of_layer_metrics_per_query(tmp_path):
    lines = _profile(tmp_path, "q_knn", "q_semdedup")
    assert [r["query"] for r in lines] == ["q_knn", "q_semdedup"]
    last = lines[-1]
    assert last["reps"] == 3
    for key in ("latency_s", "plans.build_s", "plans.s", "catalyst.s", "exec.s",
                "operators.s", "functions.s", "exec.jobs", "exec.stages",
                "exec.tasks", "exec.task_s", "exec.shuffle_read_mb",
                "exec.shuffle_write_mb", "exchanges", "reused_exchanges",
                "jvm.child_cpu_s"):
        assert isinstance(last[key], (int, float)), key
    assert all(set(line) == _line_keys() for line in lines)
    assert last["exec.jobs"] >= 1 and last["exec.tasks"] >= last["exec.stages"] >= 1
    # q_semdedup's pair-join sides share one cluster-partitioned shuffle
    assert last["exchanges"] > last["reused_exchanges"] >= 1
    assert os.listdir(tmp_path) == []


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_one_query_profile_carries_the_fixed_key_set(tmp_path):
    """The keys do not depend on which queries a run has: a query that runs
    no job while it is built still prints ``plans.jobs: 0``."""
    (line,) = _profile(tmp_path, "q_scan_filter")
    assert set(line) == _line_keys()
    assert line["plans.jobs"] == 0 and line["jvm.child_cpu_s"] >= 0


def test_child_cpu_counts_reaped_subprocess_time():
    from tools.profiler import child_cpu_s

    before = child_cpu_s(os.getpid())
    subprocess.run(
        [sys.executable, "-c",
         "import time\nt = time.process_time() + 0.3\nwhile time.process_time() < t: pass"],
        check=True,
    )
    assert child_cpu_s(os.getpid()) - before >= 0.2
