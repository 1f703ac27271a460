"""Spans around the benchmark's calls into each layer of ``lotus_spark``.

A span records one call: its name (``<layer>.<function>``), start, end,
parent span and the id of the timed operation it belongs to. Each span
runs its construction under one Spark job group and its action (when
the benchmark runs one on the returned frame) under another, so the
jobs, stages and tasks Spark ran are attributed to the innermost call
that submitted them. Job ids per group come from ``statusTracker()``;
stage run time, CPU time, shuffle bytes and GC time come from the
driver's status REST API, read once after the timed phase. Writers
also record the bytes and files that appeared under their index
directories.

With tracing off every method is a pass-through, so the untraced run
pays for no job groups, lookups or file walks.
"""
from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time
import urllib.request

from harness import file_versions, median, written_since

SPAN_FIELDS = (
    "construct_s", "eager_jobs", "action_s", "jobs", "stages", "tasks",
    "shuffle_write_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
    "bytes_written", "files_written",
)


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end",
                 "construct_s", "action_s", "bytes_written",
                 "files_written", "stats")

    def __init__(self, sid, name, parent, op):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.start = time.perf_counter()
        self.end = None
        self.construct_s = None
        self.action_s = None
        self.bytes_written = None
        self.files_written = None
        self.stats = {}

    def groups(self):
        return f"pb{self.id}c", f"pb{self.id}a"


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.active = enabled  # toggled per timed cycle in the traced run
        self.spans: list[Span] = []
        self._stack: list[tuple[Span, str]] = []
        self._sc = None
        self._op = None
        self._next_id = 0
        self.originals: dict = {}

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    # -- recording ---------------------------------------------------------

    def on(self) -> bool:
        return self.enabled and self.active

    @contextlib.contextmanager
    def operation(self, op_id: str):
        """Tag every span opened inside with one operation id."""
        prev, self._op = self._op, op_id
        try:
            yield
        finally:
            self._op = prev

    def _set_group(self, group) -> None:
        if self._sc is None:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str, write_dirs=()):
        """One call into a layer: times it, gives it its own job group and,
        for writers, walks ``write_dirs`` before and after."""
        if not self.on():
            yield None
            return
        self._next_id += 1
        parent = self._stack[-1][0].id if self._stack else None
        sp = Span(self._next_id, name, parent, self._op)
        before = file_versions(write_dirs) if write_dirs else None
        self._stack.append((sp, sp.groups()[0]))
        self._set_group(sp.groups()[0])
        try:
            yield sp
        finally:
            sp.construct_s = time.perf_counter() - sp.start
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1][1] if self._stack else None)
            if write_dirs:
                sp.bytes_written, sp.files_written = written_since(
                    before, write_dirs)
            self.spans.append(sp)

    @contextlib.contextmanager
    def action(self, sp):
        """The action the benchmark runs on what span ``sp`` returned."""
        if sp is None:
            yield
            return
        group = sp.groups()[1]
        self._stack.append((sp, group))
        self._set_group(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            sp.action_s = time.perf_counter() - t0
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1][1] if self._stack else None)

    def wrap(self, module_name: str, attr: str, layer_name: str) -> None:
        """Replace ``module.attr`` by a spanning pass-through, so calls the
        program makes internally (``LazyFrame.execute`` resolving an
        operator, ``hybrid_search_index`` importing its parts) are spans
        too. The original stays in ``originals[layer_name]``."""
        mod = importlib.import_module(module_name)
        fn = getattr(mod, attr)
        self.originals[layer_name] = fn

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(layer_name):
                return fn(*args, **kwargs)

        setattr(mod, attr, spanned)

    # -- resolution (after the timed phase) --------------------------------

    def resolve(self) -> None:
        """Attach job/stage/task counts and stage metrics to every span."""
        if not self.enabled or not self.spans or self._sc is None:
            return
        sc = self._sc
        tracker = sc.statusTracker()
        stages = self._rest_stages(sc)
        jobs = {}  # span id -> (construct job ids, action job ids)
        first_job = {}  # stage id -> the first job that lists it
        for sp in self.spans:
            jobs[sp.id] = [list(tracker.getJobIdsForGroup(g)) for g in sp.groups()]
            for j in jobs[sp.id][0] + jobs[sp.id][1]:
                info = tracker.getJobInfo(j)
                for st in (info.stageIds if info is not None else ()):
                    first_job[st] = min(j, first_job.get(st, j))
        for sp in self.spans:
            eager, action = jobs[sp.id]
            job_ids = set(eager + action)
            # a stage a later job reuses (skipped there) ran for the first
            # job only
            ran = [stages[st] for st, j in first_job.items()
                   if j in job_ids and st in stages
                   and stages[st]["status"] == "COMPLETE"]
            sp.stats = {
                "eager_jobs": len(eager),
                "jobs": len(job_ids),
                "stages": len(ran),
                "tasks": sum(s["numCompleteTasks"] for s in ran),
                "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
                "executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
                "executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
                "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
            }

    @staticmethod
    def _rest_stages(sc) -> dict:
        """Every stage of the application from the status REST API, once
        no job is still running (the listener bus updates it
        asynchronously)."""
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=30) as r:
                return json.loads(r.read().decode())

        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            if not any(j["status"] == "RUNNING" for j in get("/jobs")):
                break
            time.sleep(0.2)
        out = {}
        for s in get("/stages"):
            # several attempts of one stage: keep the completed one
            if s["stageId"] not in out or s["status"] == "COMPLETE":
                out[s["stageId"]] = s
        return out

    # -- output --------------------------------------------------------------

    def field_medians(self, name: str) -> dict:
        """Median per call of every field over the spans named ``name``.
        ``construct_s`` and ``eager_jobs`` cover every call; the other
        fields cover the calls the benchmark ran an action on, when there
        are any (a call nested in another's plan has no action of its own)."""
        spans = [s for s in self.spans if s.name == name]
        acted = [s for s in spans if s.action_s is not None] or spans
        out = {}
        for f in SPAN_FIELDS:
            pool = spans if f in ("construct_s", "eager_jobs") else acted
            if f in ("construct_s", "action_s", "bytes_written", "files_written"):
                vals = [getattr(s, f) for s in pool if getattr(s, f) is not None]
            else:
                vals = [s.stats[f] for s in pool if f in s.stats]
            out[f] = median(vals) if vals else 0.0
        return out

    def write(self, path: str) -> None:
        """All spans as JSON lines, written once at exit."""
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round((s.end or s.start) - t0, 6),
                    "construct_s": s.construct_s, "action_s": s.action_s,
                    "bytes_written": s.bytes_written,
                    "files_written": s.files_written, **s.stats,
                }) + "\n")
