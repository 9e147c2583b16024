#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on a tiny corpus at one core.

    python3 perfbench/selftest.py

For every workload, an untraced and a traced run must print exactly the
metrics BENCHMARK.json names for that mode, each with its unit, and
finish correct. A run with a deliberately corrupted exact-search result
must count that operation as failed. Takes about five minutes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# At one core the distributed λ-Laplacian tier collects at most two F×F
# partials, which fit under build_small_driver's result cap from ~700
# rows up.
SMOKE = ["--n", "800", "--cores", "1", "--seconds", "1", "--seed", "7"]


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--trace", str(trace), *SMOKE, *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, expected: list, label: str) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{label}: result keys {sorted(result)}")
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in expected}
    if set(got) != set(want):
        raise AssertionError(f"{label}: missing {sorted(set(want) - set(got))}, "
                             f"unexpected {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if m["unit"] != want[name] or not math.isfinite(m["value"]):
            raise AssertionError(f"{label}: {name} = {m}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, expected in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{wl} trace={trace}"
            res = run(wl, trace)
            check_metrics(res, expected, label)
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] > 0):
                raise AssertionError(f"{label}: {res['failed']} of {res['attempted']} failed")
            print(f"ok   {label}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} operations checked", flush=True)
    res = run(spec["workloads"][0]["name"], 0, "--corrupt")
    if res["correct"] or res["failed"] != 1:
        raise AssertionError(f"corrupted run: correct={res['correct']} failed={res['failed']}")
    print("ok   corrupted exact-search result counted as 1 failed operation")
    return 0


if __name__ == "__main__":
    sys.exit(main())
