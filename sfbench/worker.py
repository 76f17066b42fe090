"""One fresh benchmark process: set up, run the cold pass, then steady
passes, and write the raw measurements to a JSON file.

Started by ``run.py`` with the run's working directory as its cwd; never
run by hand. ``argv[1]`` is the spec file the orchestrator wrote.

Set-up time runs from the orchestrator's spawn (a ``CLOCK_MONOTONIC``
reading, comparable across processes) to a built session with the
registry loaded. The first pass in the fresh session is the cold pass.
The JVM is still compiling hot code in the pass after it, so that pass
is run as a warm-up and left out of every figure; the steady passes
follow, run until ``seconds`` have passed since the warm-up ended (at
least ``MIN_STEADY`` of them).

A traced run records the cold pass traced, runs the warm-up untraced,
then runs its steady passes in untraced/traced/traced/untraced blocks,
so drift within the run cancels out of the difference of the two
medians (the tracing overhead); the per-layer figures come from the
traced passes.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.dont_write_bytecode = True

# the script's own directory is on sys.path, so the sibling modules import
from tracing import PY_METRICS, SparkProbe, Tracer, job_overhead_ms, within  # noqa: E402
from workloads import TRAIN, WORKLOADS, Ctx  # noqa: E402

MIN_STEADY = 2
MAX_STEADY = 40
# a traced run's steady passes, repeating: untraced, traced, traced, untraced
TRACED_ORDER = (False, True, True, False)
STEADY_DEADLINE_S = 125.0  # from process start: leave room to report


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def disclosure(spark) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "mem_total_gib": round(mem_kb / 1024 / 1024, 2),
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory", "unset"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "python": sys.version.split()[0],
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "versions": {
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "pandas": pandas.__version__,
            "duckdb": duckdb.__version__,
        },
    }


class LayerAccumulator:
    """Per-layer figures of one traced pass, from the spans of that pass
    and what the probe swept from Spark's status stores after it."""

    def __init__(self, probe, tracer):
        self.probe = probe
        self.tracer = tracer
        self.per_pass: list[dict] = []

    def sweep(self):
        jobs, stages = self.probe.new_jobs()
        execs = self.probe.new_executions()
        progress = self.probe.stream_listener.take()
        self.probe.query_listener.take()
        return jobs, stages, execs, progress

    def add(self, pass_span, result, swept) -> None:
        jobs, stages, execs, progress = swept
        # jobs of the untimed output checks run after the pass span ends
        jobs = [j for j in jobs if within(j["submissionTime"], pass_span)]
        execs = [e for e in execs if within(e["submitted"], pass_span)]
        ops = [s for s in self.tracer.spans if s["parent"] == pass_span["id"] and s.get("kind") == "op"]
        for j in jobs:  # the Spark-job level of the span tree
            parent = next((sp["id"] for sp in ops if within(j["submissionTime"], sp)), pass_span["id"])
            self.tracer.spans.append(
                {
                    "id": len(self.tracer.spans),
                    "name": f"job {j['jobId']}",
                    "parent": parent,
                    "start": j["submissionTime"] / 1e3,
                    "end": j["completionTime"] / 1e3,
                    "kind": "job",
                    "stages": j["stageIds"],
                }
            )
        out: dict[str, float] = {}

        def stage_sum(js, key):
            return sum(stages[s][key] for j in js for s in j["stageIds"] if s in stages)

        def jobs_in(spans):
            return [j for j in jobs if any(within(j["submissionTime"], sp) for sp in spans)]

        out["scheduler.jobs"] = len(jobs)
        out["scheduler.tasks"] = stage_sum(jobs, "numTasks")
        out["scheduler.job_overhead_s"] = sum(job_overhead_ms(j, stages) for j in jobs) / 1e3
        out["exec.run_s"] = stage_sum(jobs, "executorRunTime") / 1e3
        out["exec.cpu_s"] = stage_sum(jobs, "executorCpuTime") / 1e9
        out["exec.gc_s"] = stage_sum(jobs, "jvmGcTime") / 1e3
        out["exec.spill_bytes"] = stage_sum(jobs, "memoryBytesSpilled") + stage_sum(jobs, "diskBytesSpilled")
        out["shuffle.write_bytes"] = stage_sum(jobs, "shuffleWriteBytes")
        out["shuffle.fetch_wait_s"] = stage_sum(jobs, "shuffleFetchWaitTime") / 1e3

        for metric, name in PY_METRICS.items():
            out[name] = sum(e["totals"].get(metric, 0.0) for e in execs)

        for module in ("dedup", "similarity", "text"):
            out[f"{module}.op_s"] = sum(
                result["ops"][s["name"]] for s in ops if s.get("module") == module
            )

        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        out["streaming.batches"] = len(progress)
        out["streaming.empty_batches"] = len(progress) - len(data)
        out["streaming.add_batch_ms"] = _median([p["durationMs"].get("addBatch", 0) for p in data])
        out["streaming.planning_ms"] = _median([p["durationMs"].get("queryPlanning", 0) for p in data])
        out["streaming.state_commit_ms"] = _median(
            [sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", [])) for p in data]
        )
        last = {}
        for p in progress:
            last[p["id"]] = p
        out["streaming.state_rows"] = sum(
            s.get("numRowsTotal", 0) for p in last.values() for s in p.get("stateOperators", [])
        )
        out["sinks.commit_s"] = (
            sum(
                p["durationMs"].get("addBatch", 0)
                for p in progress
                if "ForeachBatchSink" in p.get("sink", {}).get("description", "")
            )
            / 1e3
        )

        fits = [s for s in ops if s["name"] in ("fit_average", "fit_allreduce")]
        if fits:
            fit_jobs = jobs_in(fits)
            out["ml.estimator.fit_task_s"] = stage_sum(fit_jobs, "executorRunTime") / 1e3
            driver = 0.0
            for sp in fits:
                js = sorted(
                    (j["submissionTime"], j["completionTime"]) for j in jobs_in([sp])
                )
                covered, end = 0.0, 0.0
                for a, b in js:
                    a = max(a, end)
                    if b > a:
                        covered += b - a
                        end = b
                driver += (sp["end"] - sp["start"]) - covered / 1e3
            out["ml.estimator.fit_driver_s"] = driver
            avg = [s for s in fits if s["name"] == "fit_average"]
            out["ml.estimator.result_bytes_per_epoch"] = (
                stage_sum(jobs_in(avg), "resultSize") / TRAIN["avg_iters"]
            )
            ar = [s for s in fits if s["name"] == "fit_allreduce"]
            crit = sum(
                stages[s]["maxTaskMs"] for j in jobs_in(ar) for s in j["stageIds"] if s in stages
            ) / 1e3
            steps = TRAIN["ar_iters"] * TRAIN["ar_local_iters"]
            out["ml.estimator.step_overhead_s"] = ((ar[0]["end"] - ar[0]["start"]) - crit) / steps
        if "batch_s" in result:
            out["streaming.batch_s"] = _median(result["batch_s"])
        out.update(result["samples"])
        self.per_pass.append(out)

    def medians(self) -> dict:
        keys = {k for p in self.per_pass for k in p}
        return {k: _median([p[k] for p in self.per_pass if k in p]) for k in keys}


def main() -> int:
    spec_path = sys.argv[1]
    with open(spec_path) as f:
        spec = json.load(f)
    traced = bool(spec["trace"])
    tracer = Tracer() if traced else None
    t_start = time.monotonic()

    t0 = time.monotonic()
    from sparkflow_spark.queries import load_all
    from sparkflow_spark.session import build_session

    spark = build_session(app_name=f"sfbench_{spec['workload']}")
    t1 = time.monotonic()
    registry = load_all()
    t2 = time.monotonic()
    out = {
        "setup_s": t2 - spec["t_spawn"],
        "session.build_s": t1 - t0,
        "queries.load_s": t2 - t1,
        "disclosure": disclosure(spark),
    }

    ctx = Ctx(spark, registry, spec, tracer)
    wl = WORKLOADS[spec["workload"]](ctx)
    wl.prepare()
    probe = acc = None
    if traced:
        probe = SparkProbe(spark)
        acc = LayerAccumulator(probe, tracer)
        if hasattr(wl, "on_session"):
            wl.on_session = probe.watch_stream_session
        probe.install()
        cg0 = probe.codegen()

    passes = []
    with ctx.span("run", kind="run", workload=spec["workload"]):
        with ctx.span("pass", kind="pass", n=0, phase="cold"):
            r = wl.run_pass(0)
        passes.append({"n": 0, "phase": "cold", "traced": traced, **_slim(r)})
        passes[-1]["ended"] = time.monotonic() - spec["t_spawn"]
        if traced:
            cg1 = probe.codegen()
            probe.drain()
            qes = probe.query_listener.take()
            acc.sweep()

            def phase_ms(name):
                return sum(q[name][1] - q[name][0] for q in qes if name in q)

            out["cold_layers"] = {
                "catalyst.analysis_ms.cold": phase_ms("analysis"),
                "catalyst.optimization_ms.cold": phase_ms("optimization"),
                "catalyst.planning_ms.cold": phase_ms("planning"),
                "codegen.compiles.cold": cg1[0] - cg0[0],
                "codegen.compile_ms.cold": cg1[1] - cg0[1],
            }
            probe.remove()
        # the warm-up pass: untraced, checked, and in no figure
        with ctx.span("pass", kind="pass", n=1, phase="warmup"):
            r = wl.run_pass(1)
        passes.append({"n": 1, "phase": "warmup", "traced": False, **_slim(r)})
        passes[-1]["ended"] = time.monotonic() - spec["t_spawn"]
        if traced:
            acc.sweep()
        t_window = time.monotonic()
        n = 1
        while True:
            n += 1
            steady = [p for p in passes if p["phase"] == "steady"]
            pass_traced = traced and TRACED_ORDER[len(steady) % len(TRACED_ORDER)]
            if traced:
                (probe.install if pass_traced else probe.remove)()
            with ctx.span("pass", kind="pass", n=n, phase="steady", traced=pass_traced) as sp:
                r = wl.run_pass(n)
            passes.append({"n": n, "phase": "steady", "traced": pass_traced, **_slim(r)})
            passes[-1]["ended"] = time.monotonic() - spec["t_spawn"]
            if traced:
                swept = acc.sweep()
                if pass_traced:
                    acc.add(sp, r, swept)
            steady = [p for p in passes if p["phase"] == "steady"]
            need = len(TRACED_ORDER) if traced else MIN_STEADY
            whole = not traced or len(steady) % len(TRACED_ORDER) == 0
            done = len(steady) >= need and whole and time.monotonic() - t_window >= spec["seconds"]
            late = time.monotonic() - t_start > STEADY_DEADLINE_S and len(steady) >= need and whole
            if done or late or len(steady) >= MAX_STEADY:
                break

    out["passes"] = passes
    out["attempted"] = ctx.attempted
    out["failures"] = ctx.failures
    if traced:
        probe.remove()
        layers = acc.medians()
        layers.update(out.pop("cold_layers"))
        layers.update(getattr(wl, "layer_consts", {}))
        if hasattr(wl, "pair_counts"):
            layers.update(wl.pair_counts())
        layers["session.build_s"] = out["session.build_s"]
        layers["queries.load_s"] = out["queries.load_s"]
        layers["session.peak_rss_mb"] = probe.peak_rss_mb()
        steady = [p for p in passes if p["phase"] == "steady"]
        layers["trace.overhead_s"] = _median([p["time"] for p in steady if p["traced"]]) - _median(
            [p["time"] for p in steady if not p["traced"]]
        )
        out["layers"] = layers
        tracer.write(spec["trace_out"])
    with open(spec["result"], "w") as f:
        json.dump(out, f)
    sys.stdout.flush()
    sys.stderr.flush()
    # skip the session's orderly shutdown: the orchestrator kills and
    # reaps the JVM and every Python worker once this process is gone
    os._exit(0)


def _slim(r: dict) -> dict:
    """What the orchestrator needs from a pass result."""
    keep = {"time": r["time"], "ops": r["ops"], "samples": r["samples"]}
    if "batch_s" in r:
        keep["batch_s"] = r["batch_s"]
    return keep


if __name__ == "__main__":
    raise SystemExit(main())
