"""Span recording for the traced benchmark run.

The tracer wraps the public functions of the engine's layer modules
(``session``, ``operators``, ``sources``, ``sinks``, ``streaming``,
``pipelines`` and the ``plans`` builders) from outside the engine. Each
call becomes a span: name, layer, start, end, parent span and operation
id. Spans stay in memory and are written out when the run ends.

Spark jobs are attributed through local properties, not job tags: on
entry a span sets ``perfbench.span`` (and the current operation sets
``perfbench.op``) on the calling thread's SparkContext properties. Jobs
submitted while the span is open carry the property in their
``SparkListenerJobStart`` event, and builders that fan out to driver
threads through ``inheritable_thread_target`` pass the properties on.
The JSON event log (enabled only in the traced run) is parsed with the
stdlib once the session stops.
"""

from __future__ import annotations

import datetime
import functools
import glob
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "airflow_spotify_etl_spark"
WRAPPED_LAYERS = ("session", "operators", "sources", "sinks", "streaming", "pipelines")
SPAN_PROP = "perfbench.span"
OP_PROP = "perfbench.op"


class Tracer:
    """In-memory span store. ``enabled`` gates recording so the same
    process can run an untraced pass through the same wrappers."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _prop(self, key: str):
        return self.sc.getLocalProperty(key) if self.sc is not None else None

    @contextmanager
    def span(self, name: str, layer: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        stack = self._stack()
        inherited = self._prop(SPAN_PROP)
        parent = stack[-1] if stack else (int(inherited) if inherited else None)
        prev_op = self._prop(OP_PROP)
        if op is None and prev_op:
            op = int(prev_op)
        rec = {
            "id": sid, "parent": parent, "op": op, "name": name, "layer": layer,
            "thread": threading.get_ident(), "t0": time.time(), "t1": None,
        }
        with self._lock:
            self.spans.append(rec)
        stack.append(sid)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(sid))
            if op is not None:
                self.sc.setLocalProperty(OP_PROP, str(op))
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROP, inherited)
                self.sc.setLocalProperty(OP_PROP, prev_op)

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced


TRACER = Tracer()


def _layer_modules(layer: str) -> list:
    root = importlib.import_module(f"{PACKAGE}.{layer}")
    mods = [root]
    if hasattr(root, "__path__"):
        for info in pkgutil.walk_packages(root.__path__, root.__name__ + "."):
            mods.append(importlib.import_module(info.name))
    return mods


def _span_name(mod_name: str, attr: str) -> tuple[str, str]:
    parts = mod_name.split(".")[1:]
    if len(parts) > 1 and parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts + [attr]), parts[0]


def install(tracer: Tracer = TRACER) -> None:
    """Wrap every public function and public method defined in the
    wrapped layers, then re-point module globals that already hold an
    original (modules that imported each other before wrapping). Runs
    before the ``plans`` registry is imported, so builders bind to the
    wrappers."""
    originals: dict[int, object] = {}
    for layer in WRAPPED_LAYERS:
        for mod in _layer_modules(layer):
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                name, lay = _span_name(mod.__name__, attr)
                if inspect.isfunction(obj):
                    w = tracer.wrap(obj, name, lay)
                    originals[id(obj)] = w
                    setattr(mod, attr, w)
                elif inspect.isclass(obj):
                    for meth, fn in list(vars(obj).items()):
                        if inspect.isfunction(fn) and not meth.startswith("_"):
                            setattr(obj, meth, tracer.wrap(fn, f"{name}.{meth}", lay))
    repoint(originals)


def repoint(originals: dict[int, object]) -> None:
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith(PACKAGE) or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            w = originals.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)


def wrap_plans(tracer: Tracer = TRACER) -> None:
    """Wrap the public callables of every ``plans`` module (builders call
    each other, so composites show their sub-builders as child spans)."""
    originals: dict[int, object] = {}
    for mod in _layer_modules("plans"):
        for attr, obj in list(vars(mod).items()):
            if (
                not attr.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == mod.__name__
            ):
                name, lay = _span_name(mod.__name__, attr)
                w = tracer.wrap(obj, name, lay)
                originals[id(obj)] = w
                setattr(mod, attr, w)
    repoint(originals)


# -- event log -------------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict[int, dict]:
    """Per-job records from the newest event log in ``log_dir``: submit
    and end time, span/op properties, stage and task counts, executor run
    time, GC, shuffle bytes, spill and output rows/bytes."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        return {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[-1]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "t0": ev["Submission Time"] / 1000.0, "t1": None,
                    "span": int(props[SPAN_PROP]) if props.get(SPAN_PROP) else None,
                    "op": int(props[OP_PROP]) if props.get(OP_PROP) else None,
                    "stages": 0, "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
                    "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                    "out_rows": 0, "out_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid in jobs:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if jid not in jobs or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                rd = m.get("Shuffle Read Metrics", {})
                j["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                j["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                j["spill"] += m.get("Disk Bytes Spilled", 0)
                out = m.get("Output Metrics", {})
                j["out_rows"] += out.get("Records Written", 0)
                j["out_bytes"] += out.get("Bytes Written", 0)
    for j in jobs.values():
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return jobs


# -- interval arithmetic ---------------------------------------------------


def union_len(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(t0, t1)`` intervals, clipped to [lo, hi]."""
    ivs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            ivs.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(ivs):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def streaming_listener(progress: list):
    """A ``StreamingQueryListener`` that appends one record per
    micro-batch progress event to ``progress``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            started = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            progress.append({
                "t": started.timestamp(),
                "name": p.name,
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "batch_ms": p.batchDuration,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
