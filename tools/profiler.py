"""Per-query, per-layer profile of registered queries.

    python tools/profiler.py [sf_dir] q_a q_b ...

Drives the benchmark's own machinery (``perfbench/worker.py``'s ``Bench``
and ``perfbench/layers.py``): one traced session with a Spark event log,
one untimed warm-up pass over the queries, then each query executed
``REPS`` times, cold (cached tables and the PageRank edge cache dropped
before every execution). Each execution is split into build (``plans``),
Catalyst (``catalyst``) and run (``exec``) root spans, with every
engine-layer call, Spark job, stage and task charged to the span that
caused it.

Prints one JSON line per query: the median over the repetitions of its
latency, the per-layer self times and job counts, stages, tasks, task
seconds and shuffle MB (named as in ``layers.PER_LAYER``), the total and
``ReusedExchange`` exchange counts of the final adaptive plan, and
``jvm.child_cpu_s``, the CPU time of the JVM's children reaped during the
execution (commands Hadoop forks, such as ``chmod``, and any Python worker
that exits). Every line carries the same keys (``metric_keys``), 0 where
its query has none. The session is the benchmark's
(``Bench.start_session``: ``get_spark`` with twice ``SPARK_GRAFT_CPUS``
shuffle partitions, which defaults here to the usable cores).
"""

from __future__ import annotations

import json
import os
import statistics
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
                          "exchanges", "reused_exchanges", "jvm.child_cpu_s"})


def child_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid``'s reaped children so far: fields 16-17
    (``cutime`` + ``cstime``) of ``/proc/<pid>/stat``."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    fields = stat[stat.rfind(")") + 2:].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def profile(sf_dir: str, names: list[str]) -> dict[str, dict[str, float]]:
    """Median metrics per query over ``REPS`` traced executions."""
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
        bench = Bench(Workload("profile", 0.0, tuple(names), ""), seed=0,
                      seconds=0.0, trace=True)
    except KeyError as e:
        raise SystemExit(f"unknown query: {e.args[0]}") from None
    bench.setup(sf_dir, collect=False)
    runs = []
    for name in names:
        for _ in range(REPS):
            bench.reset()
            bench.tracer.enabled = True
            child0 = child_cpu_s(bench.jvm_pid)
            latency, _cpu, rows, qe = bench.execute(name, sf_dir)
            child = child_cpu_s(bench.jvm_pid) - child0
            bench.tracer.enabled = False
            exchanges = layers.count_exchanges(qe.executedPlan().toString())
            runs.append((name, bench.tracer.exec_id, rows, exchanges, latency, child))
    app_id = bench.spark.sparkContext.applicationId
    bench.spark.stop()
    # the event log is complete once the session has stopped
    log = layers.read_event_log(os.path.join(bench.event_dir, app_id))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    samples: dict[str, list[dict[str, float]]] = {n: [] for n in names}
    for name, exec_id, rows, exchanges, latency, child in runs:
        spans = [s for s in bench.tracer.spans if s[5] == exec_id]
        metrics, _ = layers.layer_metrics(spans, log, 1, cores, rows, exchanges)
        samples[name].append({"latency_s": latency, "rows": rows, **metrics,
                              "exchanges": exchanges[0],
                              "reused_exchanges": exchanges[1],
                              "jvm.child_cpu_s": child})
    keys = metric_keys(layers)
    unlisted = {k for reps in samples.values() for s in reps for k in s} - set(keys)
    if unlisted:
        raise RuntimeError(f"metrics missing from metric_keys: {sorted(unlisted)}")
    return {name: {k: statistics.median(s.get(k, 0.0) for s in reps) for k in keys}
            for name, reps in samples.items()}


def main(args: list[str]) -> None:
    sf_dir = DEFAULT_SF_DIR
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    if not args:
        raise SystemExit(__doc__)
    sf_dir = os.path.abspath(sf_dir)
    # the event log, spark-warehouse and any other files the session writes
    # to its working directory go to a directory removed afterwards
    with tempfile.TemporaryDirectory(prefix="profile_") as work:
        os.chdir(work)
        result = profile(sf_dir, args)
    for name, m in result.items():
        print(json.dumps({"query": name, "sf_dir": sf_dir, "reps": REPS,
                          **{k: round(v, 4) for k, v in m.items()}}))


if __name__ == "__main__":
    main(sys.argv[1:])
