"""One benchmark run of one workload; started by ``run.py`` in a fresh
process whose working directory, ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` are a
per-run directory.

The run, in order:

1. generate (or reuse) the workload's inputs from the seed;
2. set up three times: start a fresh SparkSession and run every query
   once (the warm-up). ``setup_s`` is the median; the first set-up also
   pays the JVM launch and the cold JIT, and brings every result to pandas
   for step 4; the other two run the queries as the timed passes will;
3. timed passes, one query after another (a closed loop with one client),
   until ``--seconds`` have passed; after the first pass, the query under
   way runs to its end and no other starts. Python and the JVM collect
   their heaps before each pass.
   Every execution builds the query's DataFrame, forces Catalyst to the
   executed plan and runs that plan to a row count. Cached tables and the
   PageRank edge cache are dropped before every execution, so no execution
   reuses what an earlier one cached. Each execution records its latency
   and the CPU time that the run's processes (this one, the Spark JVM and
   its Python workers) spent during it, less that of the JVM's JIT
   compiler threads: background compilation tails off over many passes,
   so counting it would tie the figure to how many passes a run makes.
   The host is shared. Time the hypervisor gives to other guests (steal)
   is not CPU time, but other guests' use of the caches and memory slows
   the JVM's work, and its CPU time with it, by a quarter or more when the
   host is busy. So after every execution a fixed probe runs twice: a
   random gather over a 32 MB array, timed by this thread's CPU clock,
   which slows with the same contention. ``cpu_s`` is the sum over queries
   of each query's median CPU time, scaled by ``PROBE_REF_S`` over the
   probe's median: the compute one pass costs, at the memory speed of an
   unloaded host. ``wall_s`` (the sum of per-query median latencies),
   ``latency_p50_s`` (the median of every execution), the unscaled CPU
   time and the probe's median are printed in the info line and recorded,
   not scored;
4. outside the timed region, the results of the first set-up are
   compared with each query's DuckDB oracle on the same parquet (row count
   and order-insensitive exact values; a query without an oracle must
   return rows), and every timed execution's row count must equal the
   oracle's.

With ``--trace 1`` the layer wrappers of ``layers.py`` are installed, Spark
writes an event log, and the timed passes alternate untraced and traced:
the per-layer metrics come from the traced passes, and the ratio of each
traced pass's time to that of the untraced passes beside it is the
tracing overhead. The last stdout line is the result JSON; a fuller
record goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import gc
import io
import json
import os
import platform
import resource
import statistics
import sys
import time

ROOT = os.environ["PERFBENCH_ROOT"]
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUPS = 3
# the probe's median CPU time, alone on an idle 4-vCPU Xeon VM
PROBE_REF_S = 0.036
STATE_DIR = os.path.join(ROOT, ".perfbench")
END_TO_END_UNITS = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
CLK_TCK = os.sysconf("SC_CLK_TCK")


def dataset(sf: float, seed: int) -> tuple[str, dict]:
    """The generated tables for (sf, seed), cached under .perfbench/data,
    with per-table row and byte counts."""
    import pyarrow.parquet as pq

    from tools.gen_sf import generate

    # the directory name ends up in table identifiers (q_bucketed_join), so
    # it holds only letters, digits, '_' and the scale factor's '.'
    path = os.path.join(STATE_DIR, "data", f"sf{sf}_seed{seed}")
    if not os.path.exists(os.path.join(path, "MANIFEST.json")):
        tmp = f"{path}.tmp{os.getpid()}"
        with contextlib.redirect_stdout(io.StringIO()):
            generate(sf, tmp, seed)
        os.replace(tmp, path)
    stats = {}
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            p = os.path.join(path, f)
            stats[f[:-8]] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                             "bytes": os.path.getsize(p)}
    return path, stats


def shuffle_partitions() -> int:
    return 2 * int(os.environ["SPARK_GRAFT_CPUS"])


def host_info() -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "mem_gb": round(mem_kb / 2**20, 1),
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "shuffle_partitions": shuffle_partitions(),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("VmHWM:")) / 1024.0


def session_cpu_s() -> float:
    """CPU seconds used so far by every process of this run's session (this
    process, the Spark JVM, its Python workers), reaped children included."""
    sid, ticks = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # the process has ended
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used so far (their
    number is fixed by -XX:-UseDynamicNumberOfCompilerThreads, so none
    exits and takes its time with it)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread has ended
            continue
        if "CompilerThre" in stat[stat.find("("):stat.rfind(")")]:
            fields = stat[stat.rfind(")") + 2:].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / CLK_TCK


class Probe:
    """A fixed memory-bound task: gather 2M random elements of a 32 MB
    array. Its CPU time tracks how much the host's other tenants slow
    memory access."""

    def __init__(self) -> None:
        import numpy as np

        self.array = np.arange(2**22, dtype=np.int64)
        self.index = np.random.default_rng(0).integers(0, 2**22, size=2**21).astype(np.int32)

    def __call__(self) -> float:
        t0 = time.thread_time()
        self.array[self.index].sum()
        return time.thread_time() - t0


def tail_latency(lat: list[float]) -> tuple[float, float] | None:
    """(percentile, latency) at the highest percentile, in steps of 5,
    that leaves at least ten executions above it; None when that is not
    above the median."""
    s, pct = sorted(lat), 0.95
    while pct > 0.5:
        rank = round(pct * len(s))
        if len(s) - rank >= 10:
            return pct, s[rank - 1]
        pct = round(pct - 0.05, 2)
    return None


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool):
        self.w, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.tracer = layers.Tracer()
        self.wrapped = layers.install(self.tracer) if trace else 0
        from create_proposals_using_vector_db_public_spark.plans import (
            QUERIES,
            graph_queries,
        )

        self.queries = {n: QUERIES[n] for n in workload.queries}
        self.graph_queries = graph_queries
        self.spark = None
        self.probe = Probe()
        self.event_dir = os.path.join(os.getcwd(), "eventlog")

    def start_session(self):
        from create_proposals_using_vector_db_public_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", shuffle_partitions=shuffle_partitions(),
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def reset(self):
        """Drop what an earlier execution cached, so none is reused."""
        self.spark.catalog.clearCache()
        self.graph_queries._PR_CACHE.clear()

    def setup(self, sf_dir: str, collect: bool) -> tuple[float, float, dict]:
        """(set-up seconds, session-start seconds, results): a fresh session
        and one untimed pass. With ``collect`` the pass brings every query's
        result to pandas (or keeps the exception it raised) for the oracle
        check; otherwise it runs the queries as the timed passes do. A query
        that fails here fails again when timed."""
        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0
        results = {}
        for name in self.w.queries:
            self.reset()
            if collect:
                try:
                    results[name] = self.queries[name](self.spark, sf_dir).toPandas()
                except Exception as e:  # reported by the oracle check
                    results[name] = e
            else:
                with contextlib.suppress(Exception):
                    self.execute(name, sf_dir)
        return time.perf_counter() - t0, session_s, results

    def execute(self, name: str, sf_dir: str):
        """Build, plan and run one query; returns (latency_s, cpu_s, rows, qe)."""
        t = self.tracer
        t.exec_id += 1
        cpu0 = session_cpu_s() - jit_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        with t.span("plans", "build", name):
            df = self.queries[name](self.spark, sf_dir)
        qe = df._jdf.queryExecution()
        with t.span("catalyst", "plan", name):
            qe.executedPlan()
        with t.span("exec", "count", name):
            rows = qe.toRdd().count()
        latency = time.perf_counter() - t0
        return latency, session_cpu_s() - jit_cpu_s(self.jvm_pid) - cpu0, rows, qe

    def jvm_gc_s(self) -> float:
        """Seconds the driver JVM has spent in garbage collection."""
        mx = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans()) / 1000.0

    def timed(self, sf_dir: str) -> list[dict]:
        """Passes until the time is up. An untraced run makes at least one
        whole pass and then stops at the first query due after the
        deadline; a traced run makes whole passes, alternating untraced and
        traced, starting untraced."""
        passes = []
        deadline = time.perf_counter() + self.seconds
        while time.perf_counter() < deadline or len(passes) < (2 if self.trace else 1):
            traced = self.trace and len(passes) % 2 == 1
            p = {"traced": traced, "execs": []}
            # start every pass on a collected heap, so no pass pays for the
            # old-generation garbage of those before it
            gc.collect()
            self.spark._jvm.System.gc()
            gc0 = self.jvm_gc_s()
            self.tracer.enabled = traced
            for name in self.w.queries:
                if passes and not self.trace and time.perf_counter() >= deadline:
                    break
                self.reset()
                rec = {"query": name, "exec_id": self.tracer.exec_id + 1}
                try:
                    rec["latency_s"], rec["cpu_s"], rec["rows"], qe = self.execute(name, sf_dir)
                    if traced:
                        rec["exchanges"] = layers.count_exchanges(
                            qe.executedPlan().toString())
                except Exception as e:  # a failed execution is counted, not fatal
                    rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                rec["probe_s"] = [self.probe(), self.probe()]
                p["execs"].append(rec)
            self.tracer.enabled = False
            p["jvm_gc_s"] = self.jvm_gc_s() - gc0
            if p["execs"]:
                passes.append(p)
        return passes


def check(results: dict, sf_dir: str) -> dict[str, dict]:
    """Compare each query's result with its DuckDB oracle."""
    import duckdb

    from create_proposals_using_vector_db_public_spark.plans import ORACLES
    from create_proposals_using_vector_db_public_spark.sources import TABLES
    from tools.parity import compare

    con = duckdb.connect()
    con.sql(f"SET temp_directory='{os.path.join(os.getcwd(), 'duckdb')}'")
    con.sql("SET memory_limit='1GB'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name, pdf in results.items():
        if isinstance(pdf, Exception):
            out[name] = {"rows": None, "problems": [f"{type(pdf).__name__}: {str(pdf)[:300]}"]}
        elif name in ORACLES:
            out[name] = {"rows": len(pdf),
                         "problems": compare(name, pdf, con.sql(ORACLES[name]).df(), exact=True)}
        else:
            out[name] = {"rows": len(pdf), "problems": [] if len(pdf) else ["no oracle, 0 rows"]}
    con.close()
    return out


def main() -> int:
    args = dict(zip(sys.argv[1::2], sys.argv[2::2]))
    w = WORKLOADS[args["--workload"]]
    if "--sf" in args:
        w = dataclasses.replace(w, sf=float(args["--sf"]))
    seed, seconds, trace = int(args["--seed"]), float(args["--seconds"]), args["--trace"] == "1"

    t_data = time.perf_counter()
    sf_dir, table_stats = dataset(w.sf, seed)
    data_s = time.perf_counter() - t_data

    bench = Bench(w, seed, seconds, trace)
    # the first, cold set-up collects the results; the later ones warm up
    # the path the timed passes take
    setups = [bench.setup(sf_dir, collect=i == 0) for i in range(SETUPS)]
    passes = bench.timed(sf_dir)
    rss_mb = {"jvm": vm_hwm_mb(bench.jvm_pid),
              "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}
    app_id = bench.spark.sparkContext.applicationId
    bench.spark.stop()
    checks = check(setups[0][2], sf_dir)

    execs = [e for p in passes for e in p["execs"]]
    bad_queries = {n for n, c in checks.items() if c["problems"]}
    failed = sum(
        1 for e in execs
        if "error" in e or e["query"] in bad_queries or e["rows"] != checks[e["query"]]["rows"]
    )
    by_query: dict[str, list[dict]] = {}
    for p in passes:
        if not p["traced"]:
            for e in p["execs"]:
                if "latency_s" in e:
                    by_query.setdefault(e["query"], []).append(e)
    lat = [e["latency_s"] for es in by_query.values() for e in es]
    unscored = {
        "wall_s": sum(statistics.median(e["latency_s"] for e in es) for es in by_query.values()),
        "latency_p50_s": statistics.median(lat),
        "cpu_unscaled_s": sum(statistics.median(e["cpu_s"] for e in es)
                              for es in by_query.values()),
        "probe_s": statistics.median(x for es in by_query.values() for e in es
                                     for x in e["probe_s"]),
    }
    e2e = {
        "setup_s": statistics.median(s[0] for s in setups),
        "cpu_s": unscored["cpu_unscaled_s"] * PROBE_REF_S / unscored["probe_s"],
        "peak_rss_mb": rss_mb["jvm"] + rss_mb["python"],
    }
    tail = tail_latency(lat)
    record = {
        "workload": w.name, "seed": seed, "seconds": seconds, "trace": trace,
        "host": host_info(), "sf": w.sf, "tables": table_stats, "data_s": data_s,
        "setups_s": [s[0] for s in setups], "session_start_s": [s[1] for s in setups],
        "peak_rss_mb": rss_mb, "passes": passes, "checks": checks, "end_to_end": e2e,
        "unscored": unscored,
        "latency_tail": {"samples": len(lat), "pct": tail[0] if tail else None,
                         "s": tail[1] if tail else None},
        "attempted": len(execs), "failed": failed,
    }
    if trace:
        metrics = traced_metrics(bench, passes, setups, app_id, record)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    os.makedirs(os.path.join(STATE_DIR, "results"), exist_ok=True)
    out = os.path.join(STATE_DIR, "results", f"{w.name}-seed{seed}-trace{int(trace)}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"info": {
        "workload": w.name, "sf": w.sf, "host": record["host"], "tables": table_stats,
        **unscored, "latency_tail": record["latency_tail"],
        "failed_queries": sorted(bad_queries),
        "coverage_ok": record.get("coverage_ok"), "record": os.path.relpath(out, ROOT),
    }}))
    print(json.dumps({
        "correct": not bad_queries and failed == 0,
        "attempted": len(execs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def traced_metrics(bench, passes, setups, app_id, record) -> dict:
    """Per-layer metrics of the traced passes, the tracing overhead and the
    per-query coverage check; the spans go to .perfbench/traces/."""
    traced = [p for p in passes if p["traced"]]
    traced_execs = [e for p in traced for e in p["execs"] if "latency_s" in e]
    ids = {e["exec_id"] for e in traced_execs}
    spans = [s for s in bench.tracer.spans if s[5] in ids and s[7] is not None]
    log = layers.read_event_log(os.path.join(bench.event_dir, app_id))
    exch = [e["exchanges"] for e in traced_execs]
    per_layer, table = layers.layer_metrics(
        spans, log, len(traced), int(os.environ["SPARK_GRAFT_CPUS"]),
        sum(e["rows"] for e in traced_execs),
        (sum(a for a, _ in exch), sum(b for _, b in exch)),
    )
    # coverage: the three root spans of each execution against its latency
    roots: dict[int, float] = {}
    for s in spans:
        if s[1] is None:
            roots[s[5]] = roots.get(s[5], 0.0) + (s[7] - s[6])
    coverage = [roots.get(e["exec_id"], 0.0) / e["latency_s"] for e in traced_execs]

    # overhead: each traced pass against the mean of the untraced passes
    # either side of it, so the warm-up trend across passes cancels
    walls = [sum(e.get("latency_s", 0.0) for e in p["execs"]) for p in passes]
    ratios = [walls[i] / statistics.mean(walls[j] for j in (i - 1, i + 1) if j < len(passes))
              for i, p in enumerate(passes) if p["traced"]]

    per_layer["session.start_s"] = statistics.median(s[1] for s in setups)
    per_layer["jvm.gc_s"] = statistics.mean(p["jvm_gc_s"] for p in traced)
    per_layer["trace.coverage_min"] = min(coverage)
    per_layer["trace.overhead"] = statistics.median(ratios) - 1.0
    record.update(wrapped_functions=bench.wrapped, per_layer=per_layer,
                  per_query_layers=table,
                  coverage_ok=per_layer["trace.coverage_min"] >= 0.95)
    os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
    with open(os.path.join(STATE_DIR, "traces", f"{bench.w.name}-seed{bench.seed}.json"), "w") as f:
        json.dump({"spans": spans, "per_query_layers": table}, f)
    return {k: {"value": per_layer.get(k, 0.0), "unit": u} for k, u in layers.PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
