#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001-sized inputs.

    python3 perfbench/selftest.py

For every workload it runs ``run.py`` untraced and traced and asserts
that every metric ``BENCHMARK.json`` declares is printed with its unit,
and that every check passed.  It then runs each workload once more with
``--corrupt``, which makes every check compare a copy of the output with
one deliberate error in it (a flipped ``keep`` for filter, a missing
split row for build), and asserts that the runs are counted as failed
and the process exits non-zero, so the checks cannot pass vacuously.

Takes about four minutes on 4 cores, with seed 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--small", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{cmd} printed nothing:\n{p.stderr[-4000:]}")
    return p.returncode, json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            code, res = run(w, trace)
            printed = {k: v["unit"] for k, v in res["metrics"].items()}
            assert printed == declared[trace], (w, trace, set(printed) ^ set(declared[trace]))
            assert code == 0 and res["correct"] and res["failed"] == 0 < res["attempted"], (w, trace, res)
            print(f"ok  {w} trace={trace}: {len(printed)} metrics, {res['attempted']} runs checked")
        code, res = run(w, 0, "--corrupt")
        assert code != 0 and not res["correct"], (w, res)
        assert 0 < res["failed"] <= res["attempted"], (w, res)
        print(f"ok  {w} corrupted copy: {res['failed']}/{res['attempted']} runs counted as failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
