#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload the benchmark knows (the ones ``BENCHMARK.json``
lists, plus ``encode_short_zipf``) once untraced and once traced at ~1k
documents or points (``--tiny --seconds 1``).  Checks the result line:
exactly the keys ``correct``, ``attempted``, ``failed`` and ``metrics``, a
passing correctness gate, and every metric that ``BENCHMARK.json`` names
for that mode, with its unit and a finite value.  It also checks that the benchmark
exits non-zero, printing no result, in a directory that holds only
``BENCHMARK.json`` and the benchmark's own files.  Exits 0 when all pass.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 300


def _result(stdout: str) -> dict | None:
    lines = stdout.strip().splitlines()
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=TIMEOUT_S)
    where = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}: {p.stderr[-1500:]}"]
    res = _result(p.stdout)
    if res is None:
        return [f"{where}: last stdout line is not JSON"]
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errors.append(f"{where}: correctness gate {res.get('correct')},"
                      f" {res.get('failed')}/{res.get('attempted')} failed")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = res.get("metrics", {})
    if set(got) != set(want):
        errors.append(f"{where}: metric names differ: missing {sorted(set(want) - set(got))},"
                      f" extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        m = got.get(name, {})
        v = m.get("value")
        if m.get("unit") != unit or not isinstance(v, (int, float)) or not math.isfinite(v):
            errors.append(f"{where}: {name} = {m}")
    return errors


def check_bare_directory() -> list[str]:
    """Without the package next to it the benchmark must fail, not report."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "encode_mixed", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=TIMEOUT_S,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or _result(p.stdout) is not None:
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = check_bare_directory()
    for name in WORKLOADS:
        for trace in (0, 1):
            errs = check_run(spec, name, trace)
            print(f"{name} trace={trace}: {'ok' if not errs else 'FAIL'}", flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    print("selftest:", "FAIL" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
