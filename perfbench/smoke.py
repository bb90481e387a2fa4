"""Smoke test of the benchmark itself (not of the engine).

    python3 perfbench/smoke.py

Runs every workload at tiny sizes with one timed op per op kind, twice:
untraced with the real oracle, then traced with a planted wrong oracle
value. Asserts that every metric of BENCHMARK.json prints by name with its
unit, that the clean run is correct, that the planted fault drives the
error rate above 0, and that a directory holding only BENCHMARK.json and
the benchmark's files makes the benchmark fail without printing a result.
Takes two to three minutes on a 4-vCPU box.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.run import E2E, PER_LAYER  # noqa: E402


def bench(cwd: Path, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def check_result(lines: list[str], units: dict[str, str]) -> dict:
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(result)}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != units:
        raise AssertionError(f"metric names/units differ: {got} != {units}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise AssertionError(f"{k} value {v['value']!r} is not a number")
    if result["attempted"] < 1:
        raise AssertionError("no op attempted")
    return result


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if e2e != E2E or layer != PER_LAYER:
        raise AssertionError("BENCHMARK.json metrics differ from perfbench/run.py")
    for w in spec["workloads"]:
        name = w["name"]
        common = ("--workload", name, "--seed", "7", "--seconds", "1", "--size", "tiny")
        code, lines = bench(ROOT, *common, "--trace", "0")
        res = check_result(lines, E2E)
        if code != 0 or not res["correct"] or res["failed"]:
            raise AssertionError(f"{name}: clean run not correct: {lines[-1]}")
        code, lines = bench(ROOT, *common, "--trace", "1", "--plant-fault")
        res = check_result(lines, PER_LAYER)
        if code != 0 or res["correct"] or res["failed"] / res["attempted"] <= 0:
            raise AssertionError(f"{name}: planted fault not detected: {lines[-1]}")
        print(f"ok {name}")

    bare = ROOT / ".perfbench_run" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        name = spec["workloads"][0]["name"]
        code, lines = bench(bare, "--workload", name, "--seed", "1", "--seconds", "1")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or any(line.startswith("{") for line in lines):
        raise AssertionError(f"bare directory: exit {code}, stdout {lines}")
    print("ok bare directory fails cleanly")
    return 0


if __name__ == "__main__":
    sys.exit(main())
