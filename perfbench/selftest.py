"""Self-test for the benchmark, in tiny mode (about a minute per workload).

Run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs one tiny untraced and one
tiny traced run with the same seed and checks that

- the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``;
- the run is correct and every ``end_to_end`` (untraced) or
  ``per_layer`` (traced) metric is printed, with its declared unit and
  a finite value;
- the correctness gate ran, and reported the same final table (lineitem
  value hash; admitted document-id digest) on both runs of the seed.

It also checks that the benchmark refuses to run, without printing a
result, in a directory holding only BENCHMARK.json and the benchmark.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SEED = 7


def run(args: "list[str]", cwd: str = ROOT) -> "tuple[int, list[str]]":
    proc = subprocess.run(args, cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True,
                          timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def check_run(spec: dict, workload: str, trace: int) -> str:
    code, lines = run(spec["command"] + [
        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
        "--trace", str(trace), "--tiny"])
    where = f"{workload} trace={trace}"
    if code != 0 or not lines:
        raise AssertionError(f"{where}: exit {code}, output {lines[-3:]}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{where}: result keys {sorted(result)}")
    if result["correct"] is not True or result["attempted"] < 1:
        raise AssertionError(f"{where}: {result}")
    declared = {m["name"]: m["unit"]
                for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(declared):
        raise AssertionError(
            f"{where}: missing {sorted(set(declared) - set(got))}, "
            f"unexpected {sorted(set(got) - set(declared))}")
    for name, unit in declared.items():
        v = got[name]
        if v["unit"] != unit or not isinstance(v["value"], (int, float)) \
                or not math.isfinite(v["value"]):
            raise AssertionError(f"{where}: {name} = {v}, unit {unit}")
    gates = [ln for ln in lines if ln.startswith(f"gate {workload}: ")]
    if len(gates) != 1 or "FAILED" in gates[0]:
        raise AssertionError(f"{where}: gate line {gates}")
    print(f"ok  {where}: {len(got)} metrics, {gates[0]}", flush=True)
    return gates[0]


def check_bare_directory(spec: dict) -> None:
    """Only BENCHMARK.json and the benchmark's paths: must fail."""
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run(spec["command"] + [
            "--workload", spec["workloads"][0]["name"], "--seed", "1",
            "--seconds", "1", "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or any(ln.startswith("{") for ln in lines):
        raise AssertionError(f"bare directory: exit {code}, {lines[-3:]}")
    print(f"ok  bare directory refused (exit {code})", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_bare_directory(spec)
    for w in spec["workloads"]:
        untraced = check_run(spec, w["name"], 0)
        traced = check_run(spec, w["name"], 1)
        if untraced != traced:
            raise AssertionError(f"{w['name']}: seed {SEED} gave two "
                                 f"final states:\n{untraced}\n{traced}")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
