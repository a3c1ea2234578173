"""tools/profiler.py end to end: it drives perfbench's Bench and layer
metrics, so a change to either that the profiler no longer fits fails
here."""

import json
import os
import subprocess
import sys

import pytest

SF = "/root/testdata/sf0.001"
PROFILE = os.path.join(os.path.dirname(__file__), "..", "tools", "profiler.py")


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_profile_prints_one_line_of_layer_metrics_per_query(tmp_path):
    out = subprocess.run(
        [sys.executable, PROFILE, SF, "q_knn", "q_semdedup"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    lines = [json.loads(line) for line in out.splitlines() if line.startswith("{")]
    assert [r["query"] for r in lines] == ["q_knn", "q_semdedup"]
    last = lines[-1]
    assert last["reps"] == 3
    for key in ("latency_s", "plans.build_s", "plans.s", "catalyst.s", "exec.s",
                "operators.s", "functions.s", "exec.jobs", "exec.stages",
                "exec.tasks", "exec.task_s", "exec.shuffle_read_mb",
                "exec.shuffle_write_mb", "exchanges", "reused_exchanges"):
        assert isinstance(last[key], (int, float)), key
    assert last["exec.jobs"] >= 1 and last["exec.tasks"] >= last["exec.stages"] >= 1
    # q_semdedup's pair-join sides share one cluster-partitioned shuffle
    assert last["exchanges"] > last["reused_exchanges"] >= 1
    assert os.listdir(tmp_path) == []
