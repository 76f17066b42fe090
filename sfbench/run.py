"""Benchmark command: one run of one workload, end to end.

    python3 sfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run:

1. makes a fresh working directory under ``.sfbench_runs/`` (warehouse,
   checkpoints, temp files, Spark local dirs and shipped package zips all
   live inside it), and removes it at the end;
2. generates the workload's inputs from ``--seed`` with pyarrow, and the
   expected result of every checked operation (DuckDB oracles), untimed;
3. starts one fresh worker process (``worker.py``) that builds the
   session, runs the cold pass, one warm-up pass, then steady passes
   for ``--seconds`` (at least two), checking every output outside the
   timed windows;
4. stops the worker, its JVM and every Python worker it started, and
   waits for each to end;
5. prints a detail line (quartiles, sample counts, host and session
   disclosure), then the result line: every ``end_to_end`` metric of
   ``BENCHMARK.json`` with ``--trace 0``, every ``per_layer`` metric
   with ``--trace 1``.

Exits non-zero without a result line if the engine is not there to run.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170.0
PR_SET_CHILD_SUBREAPER = 36
# engine knobs read from the environment; unset so every run measures
# the engine's own defaults
ENGINE_ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE_PARTITIONS")


def _children_of(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def stop_all_children(deadline_s: float = 30.0) -> None:
    """SIGKILL every descendant (orphans re-parent to this process, a
    child subreaper) and reap them until none is left."""
    me = os.getpid()
    end = time.monotonic() + deadline_s
    while time.monotonic() < end:
        kids = _children_of(me)
        for pid in kids:
            for grand in _children_of(pid):
                try:
                    os.kill(grand, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            if not _children_of(me):
                return
        time.sleep(0.05)
    raise RuntimeError("child processes did not exit")


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time taken by other guests of the hypervisor (steal)
    between two ``cpu_ticks`` readings; high while a shared host is busy."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _summary(xs: list[float]) -> dict:
    """Median, quartiles, count and the highest percentile with at least
    ten samples beyond it (the median when there are fewer than 20)."""
    xs = sorted(xs)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs) if xs else None}
    if n >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out.update(q1=q1, q3=q3)
    if n >= 20:
        pct = int(100 * (1 - 10 / n))
        out[f"p{pct}"] = statistics.quantiles(xs, n=100)[pct - 1]
    return out


def e2e_values(res: dict) -> tuple[dict, dict]:
    """End-to-end values and their sample summaries from a worker result."""
    passes = res["passes"]
    steady = [p for p in passes if p["phase"] == "steady" and not p["traced"]]
    times = [p["time"] for p in steady]
    detail = {
        "setup_s": _summary([res["setup_s"]]),
        "cold_s": _summary([passes[0]["time"]]),
        "warmup_s": _summary([p["time"] for p in passes if p["phase"] == "warmup"]),
        "steady_s": _summary(times),
    }
    values = {
        "setup_s": res["setup_s"],
        "cold_s": passes[0]["time"],
        "steady_s": statistics.median(times),
    }
    keys = sorted({k for p in steady for k in p["samples"]})
    for k in keys:
        detail[k] = _summary([p["samples"][k] for p in steady if k in p["samples"]])
    batches = [b for p in steady for b in p.get("batch_s", [])]
    if batches:
        detail["streaming.batch_s"] = _summary(batches)
    ops = sorted({k for p in steady for k in p["ops"]})
    detail["ops_s"] = {k: statistics.median(p["ops"][k] for p in steady) for k in ops}
    detail["cold_ops_s"] = passes[0]["ops"]
    return values, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench", help="tiny: smoke check only")
    args = ap.parse_args()
    t_start = time.monotonic()
    # a terminated run still stops its processes and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkflow_spark", "__init__.py")):
        print("sfbench: no sparkflow_spark package in the working directory", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path[:0] = [BENCH_DIR, root]
    import datagen
    from workloads import SCALES, WORKLOADS, oracle_expectations

    if args.workload not in WORKLOADS:
        print(f"sfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # become a child subreaper, so the JVM and Python workers that
    # outlive the worker process re-parent here and can be reaped
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"sfbench: prctl failed: {os.strerror(ctypes.get_errno())}", file=sys.stderr)
        return 2

    runs = os.path.join(root, ".sfbench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("data", "work", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d)
    ticks = cpu_ticks()
    try:
        t_gen = time.monotonic()
        datagen.generate(dirs["data"], args.seed, SCALES[args.scale][args.workload])
        expected = oracle_expectations(args.workload, dirs["data"])
        t_gen = time.monotonic() - t_gen
        spec = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "scale": SCALES[args.scale][args.workload],
            "data_dir": dirs["data"],
            "work_dir": dirs["work"],
            "expected": expected,
            "result": os.path.join(run_dir, "result.json"),
            "trace_out": os.path.join(runs, f"trace-{args.workload}-s{args.seed}.json"),
        }
        env = dict(os.environ)
        for k in ENGINE_ENV:
            env.pop(k, None)
        env.update(
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            TMPDIR=dirs["tmp"],
            SPARK_LOCAL_DIRS=dirs["local"],
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
            PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
            PYTHONDONTWRITEBYTECODE="1",
            PYTHONHASHSEED="0",
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
        spec_path = os.path.join(run_dir, "spec.json")
        log_path = os.path.join(run_dir, "worker.log")
        spec["t_spawn"] = time.monotonic()
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(BENCH_DIR, "worker.py"), spec_path],
                cwd=run_dir,
                env=env,
                stdin=subprocess.DEVNULL,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S - t_gen)
            except subprocess.TimeoutExpired:
                code = None
        stop_all_children()
        steal = steal_share(ticks, cpu_ticks())
        if code != 0 or not os.path.exists(spec["result"]):
            with open(log_path) as f:
                tail = f.read()[-4000:]
            print(f"sfbench: worker failed (exit {code})\n{tail}", file=sys.stderr)
            return 1
        with open(spec["result"]) as f:
            res = json.load(f)
    finally:
        stop_all_children()
        shutil.rmtree(run_dir, ignore_errors=True)

    values, detail = e2e_values(res)
    if args.trace:
        # a layer the workload never enters reads 0 (interactions.json
        # lists where each one is absent)
        layers = res["layers"]
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in bench["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
    failed = len(res["failures"])
    print(
        json.dumps(
            {
                "detail": {
                    "workload": args.workload,
                    "seed": args.seed,
                    "trace": args.trace,
                    "scale": SCALES[args.scale][args.workload],
                    "input_and_oracle_s": t_gen,
                    "host_and_session": res["disclosure"],
                    "omp_num_threads": os.environ.get("OMP_NUM_THREADS"),
                    "passes": [(p["phase"], round(p["time"], 3), round(p["ended"], 2)) for p in res["passes"]],
                    "wall_s": time.monotonic() - t_start,
                    "host_steal_share": steal,
                    "timings": detail,
                    "failures": res["failures"],
                    "trace_file": spec["trace_out"] if args.trace else None,
                }
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": res["attempted"],
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
