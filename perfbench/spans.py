"""Span recorder and Spark event-log parser for the traced run.

Spans are recorded from the benchmark's side: :meth:`Tracer.wrap` swaps a
module attribute (``merge.insert_if_absent``, ...) for a wrapper that
opens a span around the call, so the program itself is not edited. Each
span sets the Spark job group of its thread to the span id, which lets
:func:`attribute_jobs` hand every job, stage and task in the event log to
the span that submitted it. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from typing import Any, Callable

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[Any, str, Any]] = []
        self._ids = itertools.count(1)
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[dict[str, Any]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: dict[str, Any] | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(JOB_GROUP, None if span is None else str(span["id"]))

    def open(self, name: str, lazy: bool = False) -> dict[str, Any]:
        stack = self._stack()
        if stack and stack[-1]["lazy"]:
            self.close(stack[-1])
        with self._lock:
            span = {"id": next(self._ids), "name": name,
                    "parent": stack[-1]["id"] if stack else None,
                    "t0": time.time(), "t1": None, "lazy": lazy, "counts": {}}
            self.spans.append(span)
        stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: dict[str, Any]) -> None:
        stack = self._stack()
        while stack:  # closing a span also ends lazy spans opened inside it
            top = stack.pop()
            top["t1"] = time.time()
            if top is span:
                break
        self._set_group(stack[-1] if stack else None)

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.s = tracer.open(name)
                return self.s

            def __exit__(self, *exc):
                tracer.close(self.s)
                return False

        return _Span()

    # -- wrapping program functions -----------------------------------------
    def wrap(self, module, attr: str, name: str,
             counts: Callable[..., dict] | None = None,
             probe: Callable[..., dict] | None = None,
             lazy: bool = False) -> None:
        """Record a span ``name`` around every call of ``module.attr``.

        ``lazy`` is for functions that only build a DataFrame: the span
        stays open until the next span opens on the same thread (or its
        parent closes), so it covers the action that runs the plan.
        ``probe(*args, **kw)`` runs before the call in its own
        ``trace.probe`` span (extra Spark jobs the measurement needs) and
        its dict lands in the span's counts; ``counts(result, span, *args,
        **kw)`` runs after the call and adds more.
        """
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            pre = {}
            if probe is not None:
                with tracer.span("trace.probe"):
                    pre = probe(*args, **kw)
            if lazy:
                tracer.open(name, lazy=True)
                return orig(*args, **kw)
            with tracer.span(name) as s:
                out = orig(*args, **kw)
                s["counts"].update(pre)
                if counts is not None:
                    s["counts"].update(counts(out, s, *args, **kw))
                return out

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def forget(self) -> None:
        """Drop the spans recorded so far (warm-up), keeping open ones."""
        with self._lock:
            self.spans = [s for s in self.spans if s["t1"] is None]

    def unwrap_all(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    # -- queries ----------------------------------------------------------
    def named(self, name: str) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["name"] == name and s["t1"] is not None]

    def self_time(self, span: dict[str, Any]) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c["t0"], c["t1"]) for c in self.spans
                      if c["parent"] == span["id"] and c["t1"] is not None)
        covered, end = 0.0, span["t0"]
        for a, b in kids:
            a, b = max(a, end), min(b, span["t1"])
            if b > a:
                covered += b - a
                end = b
        return (span["t1"] - span["t0"]) - covered


# ---------------------------------------------------------------------------
# event log

_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metric_ids(info: dict, wanted: str, out: set[int]) -> None:
    for m in info.get("metrics", []):
        if m.get("name") == wanted:
            out.add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_metric_ids(child, wanted, out)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def attribute_jobs(events: list[dict], tracer: Tracer) -> dict[int, dict[str, float]]:
    """Per span id: Spark counters of the jobs it submitted.

    A job belongs to the span named by its job group. Jobs without one
    (streaming threads, listener-side jobs) go to the innermost span open
    at their submission time.
    """
    spans = {s["id"]: s for s in tracer.spans if s["t1"] is not None}
    job_span: dict[int, int] = {}
    job_submit: dict[int, float] = {}
    job_first_launch: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    files_ids: set[int] = set()
    counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def by_time(t: float) -> int | None:
        open_ = [s for s in spans.values() if s["t0"] <= t <= s["t1"]]
        return max(open_, key=lambda s: s["t0"])["id"] if open_ else None

    # SQL executions map to spans through their jobs; a scan posts its
    # driver-side metrics before the first job starts, so map them first
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group, exec_id = props.get(JOB_GROUP), props.get("spark.sql.execution.id")
            if group and group.isdigit() and int(group) in spans and exec_id is not None:
                exec_span.setdefault(int(exec_id), int(group))

    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            group = props.get(JOB_GROUP)
            t = ev["Submission Time"] / 1000.0
            sid = int(group) if group and group.isdigit() and int(group) in spans else by_time(t)
            job_submit[jid] = t
            for st in ev.get("Stage IDs", []):
                stage_job[st] = jid
            if sid is None:
                continue
            job_span[jid] = sid
            counters[sid]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            info = ev.get("Task Info") or {}
            launch = info.get("Launch Time", 0) / 1000.0
            if jid is not None:
                job_first_launch[jid] = min(job_first_launch.get(jid, launch), launch)
            sid = job_span.get(jid)
            if sid is None:
                continue
            m = ev.get("Task Metrics") or {}
            c = counters[sid]
            c["tasks"] += 1
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            c["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_ids(ev.get("sparkPlanInfo") or {}, "number of files read", files_ids)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            sid = exec_span.get(ev.get("executionId"))
            if sid is not None:
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_id in files_ids:
                        counters[sid]["files_read"] += value

    waits: dict[int, list[float]] = defaultdict(list)
    for jid, sid in job_span.items():
        if jid in job_first_launch:
            waits[sid].append(max(0.0, job_first_launch[jid] - job_submit[jid]) * 1000.0)
    for sid, w in waits.items():
        counters[sid]["job_wait_ms_sum"] = sum(w)
        counters[sid]["job_wait_n"] = len(w)
    return counters


def rollup(tracer: Tracer, counters: dict[int, dict[str, float]], name_prefix: str,
           cores: int) -> dict[str, float]:
    """Sum the counters of every span whose name starts with
    ``name_prefix``, including the jobs of their descendant spans, and
    derive core_busy_frac = executor run time / (span wall x cores)."""
    children = defaultdict(list)
    for s in tracer.spans:
        if s["name"] != "trace.probe":  # the tracer's own jobs count nowhere
            children[s["parent"]].append(s["id"])
    roots = [s for s in tracer.spans if s["name"].startswith(name_prefix) and s["t1"] is not None]
    root_ids = {s["id"] for s in roots}
    tot: dict[str, float] = defaultdict(float)
    for r in roots:
        todo = [r["id"]]
        while todo:
            sid = todo.pop()
            if sid != r["id"] and sid in root_ids:
                continue  # nested span of the same family: counted on its own
            for k, v in counters.get(sid, {}).items():
                tot[k] += v
            todo.extend(children[sid])
    wall = sum(r["t1"] - r["t0"] for r in roots)
    tot["wall_s"] = wall
    tot["core_busy_frac"] = tot["run_ms"] / 1000.0 / (wall * cores) if wall else 0.0
    return tot


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
