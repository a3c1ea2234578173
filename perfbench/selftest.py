#!/usr/bin/env python3
"""Self-test of the benchmark on sf0.001 inputs.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it makes one untraced and one traced
run and checks that every declared metric is printed with its declared
unit, that no execution failed or mismatched its oracle, and that in the
traced run the plans, catalyst and exec spans cover each query's latency
to within 5%. Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, want: dict[str, str]) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "3", "--trace", str(trace), "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"exit code {proc.returncode}: {proc.stderr[-2000:]}"]
    res = json.loads(lines[-1])
    problems = []
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        units = {k: (got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k]}
        problems.append(f"metrics differ from BENCHMARK.json: "
                        f"missing {sorted(set(want) - set(got))}, extra "
                        f"{sorted(set(got) - set(want))}, units {units}")
    if not res["correct"] or res["failed"]:
        info = lines[-2] if len(lines) > 1 else ""
        problems.append(f"failed_frac {res['failed']}/{res['attempted']}: {info}")
    if trace:
        cov = res["metrics"]["trace.coverage_min"]["value"]
        if cov < 0.95:
            problems.append(f"trace covers only {cov:.3f} of some query's latency")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    groups = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failed = False
    for w in spec["workloads"]:
        for trace, want in groups.items():
            problems = check_run(w["name"], trace, want)
            failed |= bool(problems)
            print(f"{'FAIL' if problems else 'ok  '} {w['name']} trace={trace}"
                  + "".join(f"\n     {p}" for p in problems), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
