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


def test_peak_memory_is_charged_to_its_execution(tmp_path):
    """Stages submitted under an execution's job group, and stream
    micro-batch stages (their own group) submitted inside its time window,
    count toward its peak memory; others do not."""
    from tools.profiler import peak_memory, task_peak_memory

    def stage(sid, group, t0_ms):
        return {"Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": sid, "Submission Time": t0_ms},
                "Properties": {"spark.jobGroup.id": group} if group else {}}

    def task(sid, peak):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                "Task Metrics": {"Peak Execution Memory": peak}}

    mb = 10**6
    events = [
        stage(0, "", 500), task(0, 64 * mb),  # warm-up, before the window
        stage(1, "pb2", 1500), task(1, 3 * mb), task(1, 1 * mb),
        stage(2, "stream-run", 2500), task(2, 2 * mb),  # micro-batch
        stage(3, "pb3", 2600), task(3, 8 * mb),  # another execution
        stage(4, "stream-run", 9000), task(4, 5 * mb),  # after the window
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    spans = [[0, None, "plans", "build", "q", 2, 1.0, 2.0],
             [1, 0, "streaming", "ingest_stream", "run", 2, 1.1, 1.9],
             [2, None, "exec", "count", "q", 2, 2.1, 3.0]]
    assert peak_memory(spans, 2, task_peak_memory(str(log))) == {
        "exec.peak_mem_mb": 6.0, "exec.peak_task_mem_mb": 3.0}
