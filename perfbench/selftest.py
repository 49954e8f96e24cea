#!/usr/bin/env python3
"""Self-test of the benchmark at smoke size (a few minutes on 4 cores):

    python3 perfbench/selftest.py

For every workload it checks that an untraced run prints every end-to-end
metric of BENCHMARK.json with its unit and no failure, that a traced run
prints every per-layer metric with its unit, and that a decoded row
altered on the benchmark side (--tamper) is counted as a failed operation.
It also checks that the benchmark exits non-zero, printing no result, in a
directory that holds only BENCHMARK.json and the benchmark's own files.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE = ["--seed", "1", "--seconds", "1", "--n-convs", "300"]
TIMEOUT_S = 300


def _run(cwd: str, args: list[str]) -> tuple[int, dict | None]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, result


def _check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def _check_metrics(result: dict, declared: list[dict], what: str) -> None:
    _check(set(result) == {"correct", "attempted", "failed", "metrics"},
           f"{what}: result keys")
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    _check(set(got) == set(want), f"{what}: metric names match BENCHMARK.json")
    _check(all(got[k]["unit"] == u for k, u in want.items()),
           f"{what}: metric units match BENCHMARK.json")
    _check(all(isinstance(got[k]["value"], (int, float)) for k in got),
           f"{what}: every value is a number")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (x["name"] for x in bench["workloads"]):
        rc, res = _run(ROOT, ["--workload", w, "--trace", "0", *SMOKE])
        _check(rc == 0 and res is not None, f"{w}: untraced run exits 0")
        _check_metrics(res, bench["end_to_end"], f"{w} --trace 0")
        _check(res["correct"] and res["failed"] == 0
               and res["attempted"] >= 1, f"{w}: every operation correct")
        _check(all(res["metrics"][m["name"]]["value"] > 0
                   for m in bench["end_to_end"]),
               f"{w}: no end-to-end metric reads 0")

        rc, res = _run(ROOT, ["--workload", w, "--trace", "1", *SMOKE])
        _check(rc == 0 and res is not None, f"{w}: traced run exits 0")
        _check_metrics(res, bench["per_layer"], f"{w} --trace 1")

        rc, res = _run(ROOT, ["--workload", w, "--trace", "0", "--tamper",
                              *SMOKE])
        _check(rc == 0 and res is not None and res["failed"] >= 1
               and not res["correct"],
               f"{w}: an altered decoded row counts as a failed operation")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = _run(bare, ["--workload", bench["workloads"][0]["name"],
                              "--trace", "0", *SMOKE])
        _check(rc != 0 and res is None,
               "without the engine's sources: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
