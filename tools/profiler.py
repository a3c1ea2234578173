"""Per-query, per-layer profile of registered queries.

    python tools/profiler.py [sf_dir] q_a q_b ...

Each named query is profiled in its own worker process (this script with
``--one``), so no query inherits the JVM heap, GC state or JIT of the
queries before it. A worker drives the benchmark's own machinery
(``perfbench/worker.py``'s ``Bench`` and ``perfbench/layers.py``): one
traced session with a Spark event log, one untimed warm-up execution of
its query, then ``REPS`` executions, cold (cached tables and the PageRank
edge cache dropped before every execution). Each execution is split into
build (``plans``), Catalyst (``catalyst``) and run (``exec``) root spans,
with every engine-layer call, Spark job, stage and task charged to the
span that caused it.

Prints one JSON line per query: the median over the repetitions of its
latency, the per-layer self times and job counts, stages, tasks, task
seconds and shuffle MB (named as in ``layers.PER_LAYER``), the total and
``ReusedExchange`` exchange counts of the final adaptive plan, and
``jvm.child_cpu_s``, the CPU time of the JVM's children reaped during the
execution (commands Hadoop forks, such as ``chmod``, and any Python worker
that exits). ``exec.peak_mem_mb`` and ``exec.peak_task_mem_mb`` are the
sum and the maximum of the tasks' ``Peak Execution Memory`` (the Tungsten
pages and other execution memory a task held at its peak) over every
stage of the execution, build-time and stream micro-batch jobs included.
Every line carries the same keys (``metric_keys``), 0 where its query has
none. The session is the benchmark's (``Bench.start_session``:
``get_spark`` with twice ``SPARK_GRAFT_CPUS`` shuffle partitions, which
defaults here to the usable cores).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPS = 3
DEFAULT_SF_DIR = "/root/testdata/sf0.1"  # bench.py's default


# entries of ``layers.PER_LAYER`` that belong to a whole run, not to one
# execution
RUN_LEVEL = ("session.start_s", "jvm.gc_s", "trace.overhead", "trace.coverage_min")


def metric_keys(layers) -> list[str]:
    """The keys of every line's metrics, whichever queries the run has."""
    keys = {k for k in layers.PER_LAYER if k not in RUN_LEVEL}
    keys |= {f"{layer}.{m}.{x}" for layer, mods in layers.LAYER_MODULES
             if layer in ("functions", "operators") for m in mods for x in ("calls", "s")}
    return sorted(keys | {"streaming.s", "io.write_s", "exec.gc_s", "latency_s", "rows",
                          "exchanges", "reused_exchanges", "jvm.child_cpu_s",
                          "exec.peak_mem_mb", "exec.peak_task_mem_mb"})


def child_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid``'s reaped children so far: fields 16-17
    (``cutime`` + ``cstime``) of ``/proc/<pid>/stat``."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    fields = stat[stat.rfind(")") + 2:].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def task_peak_memory(path: str) -> list[dict]:
    """Per stage of a Spark JSON event log: the job group it was submitted
    under, its submission time, and the sum and maximum of its tasks'
    ``Peak Execution Memory`` in bytes."""
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                    "t0": (info.get("Submission Time") or 0) / 1000.0,
                    "sum": 0, "max": 0,
                }
            elif ev["Event"] == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                peak = (ev.get("Task Metrics") or {}).get("Peak Execution Memory", 0)
                st = stages[ev["Stage ID"]]
                st["sum"] += peak
                st["max"] = max(st["max"], peak)
    return list(stages.values())


def peak_memory(spans: list, exec_id: int, stages: list[dict]) -> dict[str, float]:
    """``exec.peak_mem_mb`` and ``exec.peak_task_mem_mb`` of one execution:
    the stages submitted under its job group ``pb<exec_id>``, and those of
    threads that set their own group (stream micro-batches) submitted
    between its first span's start and its last span's end."""
    roots = [s for s in spans if s[5] == exec_id and s[1] is None]
    t0, t1 = min(s[6] for s in roots), max(s[7] for s in roots)
    mine = [st for st in stages
            if st["group"] == f"pb{exec_id}"
            or (not st["group"].startswith("pb") and t0 <= st["t0"] <= t1)]
    return {"exec.peak_mem_mb": sum(st["sum"] for st in mine) / 1e6,
            "exec.peak_task_mem_mb": max((st["max"] for st in mine), default=0) / 1e6}


def profile(sf_dir: str, name: str) -> dict[str, float]:
    """Median metrics of ``name`` over ``REPS`` traced executions, in this
    process."""
    os.environ["PERFBENCH_ROOT"] = ROOT
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Python workers import the engine from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    import layers
    from worker import Bench
    from workloads import Workload

    try:
        bench = Bench(Workload("profile", 0.0, (name,), ""), seed=0,
                      seconds=0.0, trace=True)
    except KeyError as e:
        raise SystemExit(f"unknown query: {e.args[0]}") from None
    bench.setup(sf_dir, collect=False)
    runs = []
    for _ in range(REPS):
        bench.reset()
        bench.tracer.enabled = True
        child0 = child_cpu_s(bench.jvm_pid)
        latency, _cpu, rows, qe = bench.execute(name, sf_dir)
        child = child_cpu_s(bench.jvm_pid) - child0
        bench.tracer.enabled = False
        exchanges = layers.count_exchanges(qe.executedPlan().toString())
        runs.append((bench.tracer.exec_id, rows, exchanges, latency, child))
    app_id = bench.spark.sparkContext.applicationId
    bench.spark.stop()
    # the event log is complete once the session has stopped
    path = os.path.join(bench.event_dir, app_id)
    log, stages = layers.read_event_log(path), task_peak_memory(path)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    samples = []
    for exec_id, rows, exchanges, latency, child in runs:
        spans = [s for s in bench.tracer.spans if s[5] == exec_id]
        metrics, _ = layers.layer_metrics(spans, log, 1, cores, rows, exchanges)
        samples.append({"latency_s": latency, "rows": rows, **metrics,
                        **peak_memory(spans, exec_id, stages),
                        "exchanges": exchanges[0],
                        "reused_exchanges": exchanges[1],
                        "jvm.child_cpu_s": child})
    keys = metric_keys(layers)
    unlisted = {k for s in samples for k in s} - set(keys)
    if unlisted:
        raise RuntimeError(f"metrics missing from metric_keys: {sorted(unlisted)}")
    return {k: statistics.median(s.get(k, 0.0) for s in samples) for k in keys}


def main(args: list[str]) -> None:
    if args[:1] == ["--one"]:
        _, sf_dir, name = args
        # the event log, spark-warehouse and any other files the session
        # writes to its working directory go to a directory removed afterwards
        with tempfile.TemporaryDirectory(prefix="profile_") as work:
            os.chdir(work)
            m = profile(sf_dir, name)
        print(json.dumps({"query": name, "sf_dir": sf_dir, "reps": REPS,
                          **{k: round(v, 4) for k, v in m.items()}}))
        return
    sf_dir = DEFAULT_SF_DIR
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    if not args:
        raise SystemExit(__doc__)
    sf_dir = os.path.abspath(sf_dir)
    for name in args:
        run = subprocess.run([sys.executable, os.path.abspath(__file__), "--one", sf_dir, name],
                             stdout=subprocess.PIPE, text=True)
        if run.returncode:
            raise SystemExit(run.returncode)
        print(run.stdout.splitlines()[-1], flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
