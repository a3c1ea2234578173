#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run gets a fresh worker process
(``worker.py``) whose working directory, ``TMPDIR`` and ``SPARK_LOCAL_DIRS``
are a per-run directory under ``.perfbench/runs/``; the directory is removed
afterwards, and every process the worker started (the Spark JVM included)
is stopped before this script exits. The session is sized to the host:
``SPARK_GRAFT_CPUS`` is the number of usable cores and ``SPARK_DRIVER_MEM``
a quarter of physical memory, between 1 and 4 GB. The JVM runs the serial
collector: it grows the heap by occupancy alone, where G1 also weighs GC
pause times, so peak memory repeats from run to run on a busy host.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. Workloads are defined in ``workloads.py``. ``--sf X``
overrides the workload's scale factor (the self-test uses it).
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170
KEEP_DATASETS = 6


def driver_mem() -> str:
    with open("/proc/meminfo") as f:
        total_mb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:")) // 1024
    return f"{min(4096, max(1024, total_mb // 4))}m"


def prune_datasets() -> None:
    """Keep the generated inputs of the most recent few (sf, seed) pairs."""
    data = os.path.join(ROOT, ".perfbench", "data")
    if not os.path.isdir(data):
        return
    dirs = sorted((os.path.join(data, d) for d in os.listdir(data)), key=os.path.getmtime)
    for d in dirs[:-KEEP_DATASETS]:
        shutil.rmtree(d, ignore_errors=True)


def stop_group(pgid: int) -> None:
    """Terminate every process left in the worker's process group and wait
    until none runs."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main(argv: list[str]) -> int:
    args = dict(zip(argv[::2], argv[1::2]))
    required = ("--workload", "--seed", "--seconds", "--trace")
    if len(argv) % 2 or set(args) - set(required) - {"--sf"} or not set(required) <= set(args):
        print(__doc__, file=sys.stderr)
        return 2
    if not (os.path.isdir(os.path.join(ROOT, "create_proposals_using_vector_db_public_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools", "gen_sf.py"))):
        print(f"perfbench: the engine is not in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args["--workload"] not in WORKLOADS:
        print(f"perfbench: unknown workload; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    prune_datasets()
    run_dir = os.path.join(ROOT, ".perfbench", "runs",
                           f"{args['--workload']}-{args['--seed']}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PERFBENCH_ROOT": ROOT,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": driver_mem(),
        # two glibc malloc arenas instead of up to eight per core: freed
        # native memory of the JVM's many threads (JIT compiler arenas
        # among them) is reused, so peak memory repeats from run to run
        "MALLOC_ARENA_MAX": "2",
        # JVM temp files (Spark's own temp dirs, native libraries) and no
        # hsperfdata under /tmp; the serial collector, see above; JIT
        # thresholds at a tenth, so compilation settles within the set-up
        # passes instead of lowering the CPU time of each later pass; a
        # fixed set of JIT compiler threads, whose CPU time worker.py
        # leaves out
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                             "-XX:-UsePerfData -XX:+UseSerialGC "
                             "-XX:CompileThresholdScaling=0.1 "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
    })
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *argv],
        cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_group(proc.pid)
        proc.communicate()
        print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
        return 1
    finally:
        stop_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(out)
    last = out.strip().splitlines()[-1:] if out.strip() else []
    if proc.returncode == 0 and not (last and last[0].startswith('{"correct"')):
        print("perfbench: the worker printed no result", file=sys.stderr)
        return 1
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
