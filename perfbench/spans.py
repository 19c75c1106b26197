"""Tracing for the traced run: spans around each layer's entry points,
and Spark event-log metrics attributed to those spans.

Spans are recorded from outside the package. ``Tracer.wrap`` replaces a
module function with a timing wrapper and rebinds every by-value import
of it in the package (``merge.py`` imports ``read_version_mor`` and
``append_version`` by value, as do the query modules with
``read_table``). Each span also sets the Spark job group to its own id,
so every job, stage and task in the event log belongs to exactly one
span: the innermost one open when the job was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

PACKAGE = "pyspark_big_data_spark"
GROUP_PREFIX = "perfbench-"

# SQL metric names of the Python-worker boundary (PythonSQLMetrics)
PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
}
# driver-side scan metric; task input metrics read ~0 bytes on local parquet
FILES_READ_METRIC = "size of files read"


class Tracer:
    """In-memory span recorder; ``spans`` is written out by the caller."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op: int | None = None
        self.jsc = None  # JavaSparkContext once a session exists

    def begin(self, name: str, layer: str) -> dict:
        parent = self._stack[-1]["id"] if self._stack else None
        span = {"id": len(self.spans), "parent": parent, "op": self.op,
                "name": name, "layer": layer, "t0": time.time(), "t1": None}
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: dict) -> None:
        span["t1"] = time.time()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self.begin(name, layer)
        try:
            yield span
        finally:
            self.end(span)

    def _set_group(self, span: dict | None) -> None:
        if self.jsc is None:
            return
        if span is None:
            self.jsc.clearJobGroup()
        else:
            self.jsc.setJobGroup(f"{GROUP_PREFIX}{span['id']}", span["name"], False)

    def wrap(self, module, attr: str, layer: str) -> None:
        """Trace ``module.attr`` everywhere the package bound it."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = self.begin(attr, layer)
            try:
                return orig(*args, **kwargs)
            finally:
                self.end(span)

        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for key, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, key, traced)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover.

    Spans come from one thread and nest strictly, so the children of a
    span never overlap each other and their durations simply add."""
    child_total: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_total[s["parent"]] += s["t1"] - s["t0"]
    return {s["id"]: (s["t1"] - s["t0"]) - child_total[s["id"]] for s in spans}


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def _app_events(app: str):
    if os.path.isdir(app):  # a rolling log: events_<n>_<app id> files
        files = sorted(glob.glob(os.path.join(app, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    else:
        files = [app]
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Span id -> Spark counters of the jobs that span launched.

    Reads every application under ``log_dir`` (one per session the run
    started). Jobs, stages and SQL executions are numbered per
    application, so each one is resolved inside its own application."""
    per_span: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.basename(app).startswith("."):
            continue
        stage_span: dict[int, int] = {}
        exec_span: dict[int, int] = {}
        job_span: dict[int, int] = {}
        job_t0: dict[int, float] = {}
        accum: dict[int, tuple[str, str]] = {}
        driver_updates: list[tuple[int, list]] = []
        for e in _app_events(app):
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                sid = _span_of(e.get("Properties", {}).get("spark.jobGroup.id"))
                if sid is None:
                    continue
                job_span[e["Job ID"]] = sid
                job_t0[e["Job ID"]] = e["Submission Time"] / 1e3
                per_span[sid]["jobs"] += 1
                for st in e["Stage IDs"]:
                    stage_span.setdefault(st, sid)
            elif ev == "SparkListenerJobEnd":
                sid = job_span.get(e["Job ID"])
                if sid is not None:
                    per_span[sid].setdefault("job_intervals", [])
                    per_span[sid]["job_intervals"].append((job_t0[e["Job ID"]], e["Completion Time"] / 1e3))
            elif ev == "SparkListenerStageSubmitted":
                sid = _span_of(e.get("Properties", {}).get("spark.jobGroup.id"))
                if sid is not None:
                    stage_span[e["Stage Info"]["Stage ID"]] = sid
                    per_span[sid]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                sid = stage_span.get(e["Stage ID"])
                if sid is not None:
                    _add_task(per_span[sid], e, accum)
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                sid = _span_of(e.get("jobGroupId"))
                if sid is not None:
                    exec_span[e["executionId"]] = sid
                _plan_metrics(e["sparkPlanInfo"], accum)
            elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(e["sparkPlanInfo"], accum)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates.append((e["executionId"], e["accumUpdates"]))
        for exec_id, updates in driver_updates:
            sid = exec_span.get(exec_id)
            if sid is None:
                continue
            for acc_id, value in updates:
                if accum.get(acc_id, ("",))[0] == FILES_READ_METRIC:
                    per_span[sid]["file_bytes_read"] += value
    return per_span


def _span_of(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


def _add_task(c: dict, e: dict, accum: dict[int, tuple[str, str]]) -> None:
    c["tasks"] += 1
    if e.get("Task End Reason", {}).get("Reason") != "Success":
        c["task_failures"] += 1
    m = e.get("Task Metrics") or {}
    c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics", {})
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    c["rows_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
    for a in e.get("Task Info", {}).get("Accumulables", ()):
        key = PY_METRICS.get(a.get("Name"))
        if key is None:
            continue
        value = float(a.get("Update") or 0)
        if key.endswith("_s"):
            value = _seconds(value, accum.get(a["ID"], ("", "timing"))[1])
        c[key] += value
