"""Spans and Spark-side layer probes for the traced run.

Spans nest run -> pass -> operation, and the Spark jobs an operation
launched are attached to it afterwards by time. They are held in memory
and written once, when the run ends.

``SparkProbe`` is the only place that touches Spark's observability
surfaces, and only a traced run creates one:

- a ``QueryExecutionListener`` (a py4j callback) records each query's
  Catalyst phase times (analysis, optimization, planning);
- a ``StreamingQueryListener`` records every micro-batch's progress;
- ``AppStatusStore`` (jobs, stages, task summaries) and
  ``SQLAppStatusStore`` (per-operator SQL metrics) are read after each
  pass, outside the timed window; both work with the UI disabled;
- ``CodegenMetrics`` / ``CodeGenerator.compileTime`` count Janino
  compilations and their time.

The untraced run builds none of these, so its timings carry no
listener cost.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time

_PHASE_RE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


class Tracer:
    """In-memory spans: ``{"id", "name", "parent", "start", "end", ...}``
    with epoch-second timestamps, so they line up with the epoch-ms
    timestamps Spark's status stores record."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric value ("10,000", "39 ms", "total (min, med,
    max ...)\\n3.7 s (...)", "78.7 KiB") -> a number in s, bytes or count;
    None for formats without a total (averages)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip()
    parts = head.split()
    try:
        num = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return None
    if len(parts) == 1:
        return num
    unit = parts[1]
    if unit in _UNIT_S:
        return num * _UNIT_S[unit]
    return num * _UNIT_B.get(unit, 1)


class _QueryListener:
    """JVM ``QueryExecutionListener`` implemented over the py4j callback
    server. Runs on Spark's listener-bus thread."""

    def __init__(self) -> None:
        self.records: list[dict] = []  # per query: phase -> (start ms, end ms)
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    def _record(self, qe) -> None:
        phases = {
            m.group(1): (int(m.group(2)), int(m.group(3)))
            for m in _PHASE_RE.finditer(qe.tracker().phases().toString())
        }
        with self._lock:
            self.records.append(phases)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.records = self.records, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _streaming_listener_cls():
    from pyspark.sql.streaming import StreamingQueryListener

    class _ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            rec = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self) -> list[dict]:
            with self._lock:
                out, self.progress = self.progress, []
            return out

    return _ProgressListener


class SparkProbe:
    """Reads Spark's in-process status stores and owns the listeners."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        ensure_callback_server_started(self._gw)
        om = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        om.registerModule(getattr(scala_mod, "MODULE$"))
        self._om = om
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.query_listener = _QueryListener()
        # one JVM-side proxy for the Python listener, so unregister()
        # receives the same object register() did
        holder = self._jvm.java.util.ArrayList()
        holder.add(self.query_listener)
        self._jquery_listener = holder.get(0)
        self.stream_listener = _streaming_listener_cls()()
        self._stream_sessions: list = []
        self.installed = False
        self._last_job = -1
        self._last_exec = -1
        self._jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    # -- listeners ------------------------------------------------------
    def install(self) -> None:
        if self.installed:
            return
        self.spark._jsparkSession.listenerManager().register(self._jquery_listener)
        for sess in self._stream_sessions:
            sess.streams.addListener(self.stream_listener)
        self.installed = True

    def remove(self) -> None:
        if not self.installed:
            return
        self.drain()
        self.spark._jsparkSession.listenerManager().unregister(self._jquery_listener)
        for sess in self._stream_sessions:
            sess.streams.removeListener(self.stream_listener)
        self.installed = False

    def watch_stream_session(self, sess) -> None:
        """Streaming queries run on engine-made session clones, each with
        its own listener bus; attach to every one that starts a query."""
        if any(s is sess for s in self._stream_sessions):
            return
        self._stream_sessions.append(sess)
        if self.installed:
            sess.streams.addListener(self.stream_listener)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    # -- status stores --------------------------------------------------
    def _json(self, obj):
        return json.loads(self._om.writeValueAsString(obj))

    def new_jobs(self) -> tuple[list[dict], dict[int, dict]]:
        """Jobs finished since the last call, and their completed stages."""
        self.drain()
        empty = self._jvm.java.util.ArrayList()
        jobs = [
            j
            for j in self._json(self._app.jobsList(empty))
            if j["jobId"] > self._last_job and j.get("completionTime")
        ]
        stages = {}
        if jobs:
            self._last_job = max(j["jobId"] for j in jobs)
            wanted = {s for j in jobs for s in j["stageIds"]}
            no_q = self._gw.new_array(self._jvm.double, 0)
            for st in self._json(self._app.stageList(empty, False, False, no_q, empty)):
                if st["stageId"] in wanted and st["status"] == "COMPLETE":
                    stages[st["stageId"]] = st
            one = self._gw.new_array(self._jvm.double, 1)
            one[0] = 1.0
            for st in stages.values():
                summ = self._app.taskSummary(st["stageId"], st["attemptId"], one)
                st["maxTaskMs"] = (
                    self._json(summ.get())["duration"][0] if summ.isDefined() else 0.0
                )
        return jobs, stages

    def new_executions(self) -> list[dict]:
        """SQL executions finished since the last call, each with its
        per-metric-name totals over every plan operator."""
        self.drain()
        out = []
        for ex in self._json(self._sql.executionsList()):
            eid = ex["executionId"]
            if eid <= self._last_exec or not ex.get("completionTime"):
                continue
            values = ex.get("metricValues") or {}
            if not values:
                values = self._json(self._sql.executionMetrics(eid))
            totals: dict[str, float] = {}
            seen: set[int] = set()
            # allNodes() lists the operators inside each WholeStageCodegen
            # cluster at top level too; a reused subplan repeats its
            # accumulators, so count each accumulator once
            for node in self._json(self._sql.planGraph(eid).allNodes()):
                for m in node.get("metrics", []):
                    acc = m["accumulatorId"]
                    raw = values.get(str(acc))
                    v = None if raw is None or acc in seen else parse_metric(raw)
                    if v is not None:
                        seen.add(acc)
                        totals[m["name"]] = totals.get(m["name"], 0.0) + v
            out.append({"id": eid, "submitted": ex["submissionTime"], "totals": totals})
            self._last_exec = max(self._last_exec, eid)
        return out

    def codegen(self) -> tuple[int, float]:
        """(Janino compilations so far, compile milliseconds so far)."""
        cm = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        cg = self._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        return int(cm.METRIC_COMPILATION_TIME().getCount()), cg.compileTime() / 1e6

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self._jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def within(ts_ms: float, span: dict) -> bool:
    return span["start"] * 1000.0 <= ts_ms <= span["end"] * 1000.0


def job_overhead_ms(job: dict, stages: dict[int, dict]) -> float:
    """Job wall time minus the slowest task of each of its stages."""
    wall = job["completionTime"] - job["submissionTime"]
    crit = sum(stages[s]["maxTaskMs"] for s in job["stageIds"] if s in stages)
    return max(0.0, wall - crit)
