"""Steadiness evidence: run every workload in two separate sets of runs
of the same code, and compare the sets metric by metric.

    python3 sfbench/steadiness.py

Run from the repository root. Every workload of BENCHMARK.json runs
``RUNS`` times in each of two sets: set A with seeds 1..RUNS, then set B
with seeds 101..100+RUNS, which starts only after set A has finished
every workload, so drift between the sets shows. For every end-to-end
metric it prints each set's median and quartiles, the spread
(interquartile distance over the median, as ``statistics.quantiles``
gives it) against the metric's bound, and the set-to-set change of the
median against the bound. Raw result lines go to ``.sfbench_runs/``.

Exits non-zero if any spread or set-to-set change exceeds its bound.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

RUNS = 10


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    """The result line and the detail line of one run."""
    cmd = [sys.executable, "sfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=200)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} failed: {proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["detail"]


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    raw: dict = {}
    os.makedirs(".sfbench_runs", exist_ok=True)
    out = os.path.join(".sfbench_runs", f"steadiness-{int(time.time())}.json")
    for set_name, base in (("A", 1), ("B", 101)):
        for w in workloads:
            for i in range(RUNS):
                t0 = time.monotonic()
                res, detail = run_once(w, base + i, bench["run_seconds"])
                raw.setdefault(w, {}).setdefault(set_name, []).append(res)
                with open(out, "w") as f:
                    json.dump(raw, f)
                print(f"set {set_name} {w} seed {base + i}: {time.monotonic() - t0:.0f} s "
                      f"failed={res['failed']} steal={detail['host_steal_share']:.3f}",
                      file=sys.stderr, flush=True)

    ok = True
    print(f"{'workload':12s} {'metric':10s} {'set':3s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
          f"{'spread':>7s} {'bound':>6s}  verdict")
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = {}
            for set_name in ("A", "B"):
                runs = raw[w][set_name]
                vals = [r["metrics"][name]["value"] for r in runs]
                med, q1, q3, sp = spread(vals)
                meds[set_name] = med
                good = sp <= bound
                ok &= good and all(r["correct"] for r in runs)
                verdict = "ok" if good else "SPREAD OVER BOUND"
                print(f"{w:12s} {name:10s} {set_name:3s} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                      f"{sp:7.3f} {bound:6.2f}  {verdict}")
            worse = meds["B"] / meds["A"] - 1 if m["better"] == "lower" else 1 - meds["B"] / meds["A"]
            good = worse <= bound
            ok &= good
            print(f"{w:12s} {name:10s} B/A change {worse:+.3f} (bound {bound:.2f})  "
                  f"{'ok' if good else 'SET-TO-SET OVER BOUND'}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
