"""Spans around the calls into the package's layers, and the Spark
event-log reader that attributes engine work to them.

The tracer wraps the public functions of ``sources.*``,
``queries.core`` and ``operators.*`` in the benchmark process, before
the query registry is imported, so that registry modules bind the
wrapped functions. Each span records (name, layer, start, end,
parent, operation id). While a span is open, the Spark job group is
the span's layer, so jobs a call launches eagerly are attributed to
the layer that made the call; jobs launched by the benchmark's own
actions carry the layer ``bench``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import pydoc
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench:"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.op = None  # id of the benchmark operation in progress
        self.spans: list[list] = []  # [name, layer, start, end, parent, op]
        self._stack: list[int] = []
        self.values: dict[str, list] = defaultdict(list)  # DataFrames/values kept by wrappers

    def _group(self, layer: str | None) -> None:
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if layer is None else GROUP_PREFIX + layer
        )

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        outer = self.spans[parent][1] if parent is not None else None
        sid = len(self.spans)
        self.spans.append([name, layer, time.perf_counter(), None, parent, self.op])
        self._stack.append(sid)
        if layer != outer:
            self._group(layer)
        try:
            yield
        finally:
            self.spans[sid][3] = time.perf_counter()
            self._stack.pop()
            if layer != outer:
                self._group(outer)


class _Traced:
    """A traced stand-in for a package function. Pickles as the
    original function, so closures shipped to Python workers never
    carry the tracer."""

    def __init__(self, tracer: Tracer, fn, layer: str, keep: bool):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._layer, self._keep = tracer, fn, layer, keep
        self._path = f"{fn.__module__}.{fn.__qualname__}"

    def __call__(self, *args, **kwargs):
        tracer = self._tracer
        if not tracer.enabled:
            return self._fn(*args, **kwargs)
        with tracer.span(self._fn.__name__, self._layer):
            out = self._fn(*args, **kwargs)
        if self._keep:
            tracer.values[self._path].append(out)
        return out

    def __reduce__(self):
        return (pydoc.locate, (self._path,))


def _layer(module: str) -> str:
    parts = module.split(".")
    if parts[1] == "operators":
        return "operators." + parts[2]
    return parts[1]  # sources, queries


def install(tracer: Tracer, keep: set[str] = frozenset()) -> None:
    """Wrap every public function of ``sources.*``, ``queries.core``
    and ``operators.*``; also rebind aliases that other package
    modules imported by name before the wrapping. ``keep`` names
    functions (dotted path) whose return values the tracer retains."""
    import bi_utils_spark.operators as ops
    import bi_utils_spark.sources as srcs

    names = ["bi_utils_spark.queries.core"]
    for pkg in (ops, srcs):
        names += [f"{pkg.__name__}.{m.name}" for m in pkgutil.iter_modules(pkg.__path__)]
    modules = []
    for name in names:
        try:
            modules.append(importlib.import_module(name))
        except ImportError:  # optional dependency missing: layer not traceable
            continue
    wrapped = {}
    for mod in modules:
        for attr, fn in vars(mod).items():
            if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            path = f"{fn.__module__}.{fn.__qualname__}"
            wrapped[id(fn)] = _Traced(tracer, fn, _layer(mod.__name__), path in keep)
    for mod in modules:
        for attr, fn in list(vars(mod).items()):
            if id(fn) in wrapped and inspect.isfunction(fn):
                setattr(mod, attr, wrapped[id(fn)])


def wrap_queries(tracer: Tracer, queries: dict) -> None:
    for name, fn in list(queries.items()):
        queries[name] = _Traced(tracer, fn, "queries", False)


def self_times(spans: list[list]) -> dict[str, dict]:
    """Per layer: calls, total self time (span time not covered by
    child spans) and the list of per-call durations."""
    child = [0.0] * len(spans)
    for name, layer, start, end, parent, op in spans:
        if parent is not None:
            child[parent] += end - start
    out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "durations": []})
    for i, (name, layer, start, end, parent, op) in enumerate(spans):
        d = out[layer]
        d["calls"] += 1
        d["self_s"] += (end - start) - child[i]
        d["durations"].append(end - start)
        fn = out[f"{layer}.{name}"]
        fn["calls"] += 1
        fn["self_s"] += (end - start) - child[i]
        fn["durations"].append(end - start)
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_TASK_SUMS = {
    "task_run_s": ("Executor Run Time", 1e-3),
    "task_cpu_s": ("Executor CPU Time", 1e-9),
    "gc_s": ("JVM GC Time", 1e-3),
}
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_FILES_READ = "number of files read"


def _plan_metrics(info: dict, names: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for c in info.get("children", []):
        _plan_metrics(c, names)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Engine work per launching layer (job group), from the event
    log files in ``log_dir``. Jobs without a benchmark job group (set-up,
    warm-up, untraced windows) are left out."""
    files = sorted(os.path.join(r, f) for r, _, fs in os.walk(log_dir)
                   for f in fs if not f.startswith(".") and not f.endswith(".crc"))
    job_layer: dict[int, str] = {}
    stage_layer: dict[int, str] = {}
    exec_layer: dict[int, str] = {}
    acc_names: dict[int, str] = {}
    job_start: dict[int, float] = {}
    driver_updates: list[tuple[int, int, int]] = []  # (execution, accumulator, value)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    if not group.startswith(GROUP_PREFIX):
                        continue
                    layer = group[len(GROUP_PREFIX):]
                    jid = ev["Job ID"]
                    job_layer[jid] = layer
                    job_start[jid] = ev["Submission Time"]
                    if "spark.sql.execution.id" in props:
                        exec_layer.setdefault(int(props["spark.sql.execution.id"]), layer)
                    d = out[layer]
                    d["jobs"] += 1
                    for st in ev["Stage Infos"]:
                        stage_layer.setdefault(st["Stage ID"], layer)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_layer:
                        out[job_layer[jid]]["action_s"] += (
                            ev["Completion Time"] - job_start[jid]
                        ) / 1e3
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_layer:
                        out[stage_layer[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev["Stage ID"])
                    if layer is None:
                        continue
                    d = out[layer]
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    d["tasks"] += 1
                    for key, (field, scale) in _TASK_SUMS.items():
                        d[key] += tm.get(field, 0) * scale
                    busy = (
                        tm.get("Executor Run Time", 0)
                        + tm.get("Executor Deserialize Time", 0)
                        + tm.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    d["scheduler_delay_s"] += max(
                        0, info["Finish Time"] - info["Launch Time"] - busy
                    ) / 1e3
                    d["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    rd = tm.get("Shuffle Read Metrics") or {}
                    d["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0)
                    d["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    inp = tm.get("Input Metrics") or {}
                    d["input_bytes"] += inp.get("Bytes Read", 0)
                    d["input_rows"] += inp.get("Records Read", 0)
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name == _PY_SENT:
                            d["python_bytes_sent"] += int(acc.get("Update", 0))
                        elif name == _PY_RETURNED:
                            d["python_bytes_returned"] += int(acc.get("Update", 0))
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_names)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
    # file listing happens while planning, before the execution's
    # first job names its layer: resolve once the whole log is read
    for execution, acc_id, value in driver_updates:
        layer = exec_layer.get(execution)
        if layer is not None and acc_names.get(acc_id) == _FILES_READ:
            out[layer]["files_read"] += value
    return out
