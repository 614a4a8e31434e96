"""Tracing for the per-layer run, built only from outside the library.

- spans around calls into the library's public functions (the functions
  are wrapped for the length of a traced run and restored afterwards);
- one Spark job group per operation;
- Catalyst phase timings from each action's ``QueryExecution.tracker()``,
  delivered by a ``QueryExecutionListener``;
- per-job and per-stage metrics from the application status store, which
  is filled with the Spark UI off;
- process-tree CPU and peak RSS from ``/proc`` (see ``proc.py``).

Untraced runs construct none of this.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import re
import time
from collections import defaultdict

#: Physical operators that ship rows to Python workers.
PY_NODE = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInPandasWithState|"
    r"AggregateInPandas|WindowInPandas|BatchEvalPythonUDTF|ArrowEvalPythonUDTF)"
)
#: Priority when intervals overlap on one timeline: a job outranks the
#: Catalyst phase that planned it, which outranks the span that called it.
JOB, CATALYST, SPAN = 3, 2, 1


def _opt(o):
    return o.get() if o.isDefined() else None


def _epoch_s(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


def attribute(wall: tuple[float, float], intervals: list[tuple]) -> dict[str, float]:
    """Split ``wall`` into self times.

    ``intervals`` holds ``(start, end, label, rank)``; each instant of the
    wall goes to the highest-ranked interval covering it (deeper spans rank
    higher than their parents), and instants no interval covers go to
    ``"unattributed"``.
    """
    lo, hi = wall
    cuts = sorted({lo, hi} | {t for s, e, *_ in intervals for t in (s, e) if lo < t < hi})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        best = max((iv for iv in intervals if iv[0] <= mid < iv[1]),
                   key=lambda iv: iv[3], default=None)
        out[best[2] if best else "unattributed"] += b - a
    return dict(out)


class _Listener:
    """``QueryExecutionListener`` implemented through the py4j callback
    server: records each action's Catalyst phases and executed plan."""

    def __init__(self, sink: list, tracer: "Tracer"):
        self.sink = sink
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java interface)
        t0 = time.perf_counter()
        phases = qe.tracker().phases()
        rec = {"action": func_name, "wall_s": duration_ns / 1e9, "phases": {}}
        for name in ("analysis", "optimization", "planning"):
            p = _opt(phases.get(name))
            if p is not None:
                rec["phases"][name] = (p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0)
        rec["plan_chars"] = len(qe.analyzed().toString())
        rec["py_nodes"] = len(PY_NODE.findall(qe.executedPlan().toString()))
        self.sink.append(rec)
        self.tracer.overhead_s += time.perf_counter() - t0

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.sink.append({"action": func_name, "failed": True, "phases": {}})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Per-operation trace: spans, jobs, stages and Catalyst phases."""

    def __init__(self, spark, root: str, functions: list[str]):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.root = os.path.realpath(root)
        self.overhead_s = 0.0
        self.spans: list[dict] = []
        self.actions: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[dict] = []
        self._restore: list[tuple] = []
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _Listener(self.actions, self)
        spark._jsparkSession.listenerManager().register(self._listener)
        for dotted in functions:
            self._wrap(dotted)

    # -- spans ---------------------------------------------------------
    def _wrap(self, dotted: str) -> None:
        mod_name, fn_name = dotted.rsplit(".", 1)
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, fn_name)
        label = dotted.replace("owl_etl_spark.", "")

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(label):
                return fn(*args, **kwargs)

        setattr(mod, fn_name, wrapped)
        self._restore.append((mod, fn_name, fn))

    @contextlib.contextmanager
    def span(self, name: str):
        """Record ``name`` from entry to exit, nested under the open span."""
        span = {"name": name, "start": time.time(), "depth": len(self._stack),
                "parent": self._stack[-1]["name"] if self._stack else None}
        self._stack.append(span)
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.time()
            self.spans.append(span)

    def call(self, label: str, fn, *args, **kwargs):
        """Run one operation under its own job group and span."""
        group = f"seedbench-{len(self.ops)}"
        self.sc.setJobGroup(group, label)
        first_span, first_action = len(self.spans), len(self.actions)
        try:
            with self.span(label) as span:
                return fn(*args, **kwargs)
        finally:
            start, end = span["start"], span["end"]
            t0 = time.perf_counter()
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            self.ops.append(self._collect(label, group, (start, end),
                                          self.spans[first_span:], self.actions[first_action:]))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - t0

    def close(self) -> None:
        for mod, name, fn in self._restore:
            setattr(mod, name, fn)
        self._restore.clear()
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    # -- per-operation collection --------------------------------------
    def _module_of(self, call_site: str, start: float | None, spans: list[dict]) -> str:
        """The library module named by a job's Python call site; else the
        innermost traced span open when the job was submitted."""
        m = re.search(r" at (.+?\.py):\d+", call_site or "")
        if m:
            path = os.path.realpath(m.group(1))
            rel = os.path.relpath(path, self.root)
            if not rel.startswith("..") and not rel.startswith("seedbench"):
                return rel[:-3].replace(os.sep, ".")
        open_spans = [s for s in spans if start is not None and s["start"] <= start < s["end"]]
        return max(open_spans, key=lambda s: s["depth"])["name"] if open_spans else "other"

    def _collect(self, label, group, wall, spans, actions) -> dict:
        store = self.sc._jsc.sc().statusStore()
        jobs, stages = [], []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            j = store.job(job_id)
            start, end = _epoch_s(j.submissionTime()), _epoch_s(j.completionTime())
            sids = [j.stageIds().apply(i) for i in range(j.stageIds().size())]
            job_stages = []
            for sid in sids:
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # skipped stages have no attempt
                    continue
                if str(s.status()) == "SKIPPED":
                    continue
                job_stages.append({
                    "tasks": s.numTasks(),
                    "run_s": s.executorRunTime() / 1000.0,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1000.0,
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "shuffle_read_b": s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead(),
                    "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "input_b": s.inputBytes(),
                    "output_b": s.outputBytes(),
                })
            stages += job_stages
            jobs.append({"start": start, "end": end or start, "name": j.name(),
                         "module": self._module_of(j.name(), start, spans),
                         "stages": len(job_stages),
                         "run_s": sum(s["run_s"] for s in job_stages)})
        intervals = [(j["start"], j["end"], "jobs", JOB) for j in jobs if j["start"]]
        for a in actions:
            for phase in ("optimization", "planning"):
                if phase in a["phases"]:
                    s, e = a["phases"][phase]
                    intervals.append((s, e, "catalyst", CATALYST))
        for sp in spans:
            intervals.append((sp["start"], sp["end"], sp["name"], SPAN + 0.01 * sp["depth"]))
        return {"label": label, "wall": wall, "jobs": jobs, "stages": stages,
                "actions": actions, "spans": [s for s in spans if s["depth"] > 0],
                "self": attribute(wall, intervals)}
