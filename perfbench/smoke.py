"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

From the root of a checkout. It checks that

* every workload runs once with ``--trace 0`` and ``--trace 1``, prints
  correct results, and prints exactly the metric names and units that
  BENCHMARK.json declares;
* outside a checkout (BENCHMARK.json and perfbench/ only) the benchmark
  exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int, tiny: bool = True):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)] + (["--tiny"] if tiny else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_runs(bench: dict) -> list[str]:
    problems = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in bench[key]}
        for w in (w["name"] for w in bench["workloads"]):
            p = _run(ROOT, w, trace)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            r = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: result keys {sorted(r)}")
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                problems.append(f"{w} trace={trace}: {r}\n{p.stderr[-3000:]}")
            if got != want:
                problems.append(f"{w} trace={trace}: metrics {got} != {want}")
            print(f"ok {w} trace={trace}", flush=True)
    return problems


def check_bare_dir() -> list[str]:
    bare = os.path.join(ROOT, ".perfbench-work", f"bare-{os.getpid()}")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run(bare, "sweep_rd_grid", 0, tiny=False)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = check_bare_dir() + check_runs(bench)
    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
