"""Tiny-scale smoke check of the benchmark command.

    python3 sfbench/smoke.py

Run from the repository root. For every workload it runs ``run.py`` at
the tiny scale, untraced and traced, and asserts that the result line
has exactly the contract's keys, that its metric names and units are the
``end_to_end`` (untraced) or ``per_layer`` (traced) lists of
BENCHMARK.json, that every value is a finite number, and that every
operation passed its output check. It then copies only BENCHMARK.json
and the benchmark's files into an otherwise empty directory and asserts
that the command exits non-zero there without printing a result line.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def run(cwd: str, workload: str, trace: int, scale: str = "tiny") -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join("sfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", scale]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def is_result(line: str) -> bool:
    try:
        obj = json.loads(line)
    except ValueError:
        return False
    return isinstance(obj, dict) and "metrics" in obj


def check_result(proc, wanted: list[dict], label: str) -> None:
    assert proc.returncode == 0, f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, f"{label}: keys {sorted(res)}"
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    want = {m["name"]: m["unit"] for m in wanted}
    assert got == want, f"{label}: metric names/units differ: {set(got.items()) ^ set(want.items())}"
    for k, v in res["metrics"].items():
        assert set(v) == {"value", "unit"}, f"{label}: {k} keys {sorted(v)}"
        assert isinstance(v["value"], float) and math.isfinite(v["value"]), f"{label}: {k}={v['value']}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, f"{label}: attempted"
    detail = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]
    assert res["failed"] == 0 and res["correct"] is True, f"{label}: failures {detail['failures']}"
    print(f"ok  {label}: {res['attempted']} checks passed, {len(got)} metrics", flush=True)


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        check_result(run(root, w, 0), bench["end_to_end"], f"{w} untraced")
        check_result(run(root, w, 1), bench["per_layer"], f"{w} traced")

    bare = os.path.join(root, ".sfbench_runs", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(root, p), os.path.join(bare, p))
        proc = run(bare, bench["workloads"][0]["name"], 0, scale="bench")
        assert proc.returncode != 0, "bare directory: exit 0"
        assert not any(is_result(line) for line in proc.stdout.splitlines()), "bare directory: result printed"
        print(f"ok  bare directory: exit {proc.returncode}, no result line", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
