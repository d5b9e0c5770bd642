"""Spans around calls into the engine's modules, for the traced run only.

``Tracer.install()`` wraps every public function of the modules in
``MODULES`` (and every alias another package module imported by name) so
each call records a span: layer, function, start and end wall time,
thread, and the span that was open when it started. The workload code adds
its own spans around actions (``collect``/``count``) and around each timed
operation; those operation spans are the top-level spans. Nothing inside
the package changes; ``uninstall()`` puts the original functions back.

Spark costs per span come from Spark's JSON event log, parsed with the
stdlib after the session stops: a job belongs to the innermost span open
on the driver when the job was submitted (the event log stamps each job
with its submission time), and the job's stages carry task counts,
shuffle, spill, GC and Python-worker time. The job description set for
the noop probes lets their stages be attributed by name as well.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

#: private functions that are the real entry of a layer for some callers:
#: the curation, dedup and ANN stores merge through ``sinks._merge_write``
ENTRY_POINTS = {"sinks": ("_merge_write", "_merge_write_optimistic")}

#: layer name -> module whose public functions get spans
MODULES = {
    "extract": "wcdimportbot_spark.operators.extract",
    "normalize": "wcdimportbot_spark.operators.normalize",
    "graph": "wcdimportbot_spark.operators.graph",
    "store_import": "wcdimportbot_spark.plans.store_import",
    "cache": "wcdimportbot_spark.operators.cache",
    "sinks": "wcdimportbot_spark.operators.sinks",
    "versioned": "wcdimportbot_spark.operators.versioned",
    "sparql": "wcdimportbot_spark.operators.sparql",
    "analytics": "wcdimportbot_spark.operators.analytics",
    "text_dedup": "wcdimportbot_spark.operators.text_dedup",
    "curation": "wcdimportbot_spark.plans.curation_nightly",
    "ann": "wcdimportbot_spark.operators.ann_store",
    "similarity": "wcdimportbot_spark.operators.similarity",
}


class Span:
    __slots__ = ("id", "parent", "layer", "name", "start", "end", "thread", "attrs")

    def __init__(self, sid, parent, layer, name, thread):
        self.id = sid
        self.parent = parent
        self.layer = layer
        self.name = name
        self.start = time.time()
        self.end = None
        self.thread = thread
        self.attrs = {}

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "layer": self.layer,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "thread": self.thread,
            **self.attrs,
        }


class Tracer:
    """Span recorder. Spans stay in memory; ``write_jsonl`` saves them."""

    def __init__(self):
        self.spans: list[Span] = []
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.main_thread().ident
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._main_stack if threading.get_ident() == self._main else []
            self._local.stack = stack
        return stack

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.active:
            yield None
            return
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's open span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(len(self.spans), parent.id if parent else None, layer, name,
                     threading.current_thread().name)
            self.spans.append(s)
        s.attrs.update(attrs)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    # -- installation ----------------------------------------------------------

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(layer, fn.__name__) as s:
                out = fn(*args, **kwargs)
                hook = _HOOKS.get((layer, fn.__name__))
                if hook is not None:
                    s.attrs.update(hook(*args, **kwargs))
                return out

        return traced

    def install(self) -> None:
        """Wrap the public functions of every module in ``MODULES`` and
        rebind the aliases other package modules imported by name."""
        originals = {}
        for layer, modname in MODULES.items():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if (
                    (name.startswith("_") and name not in ENTRY_POINTS.get(layer, ()))
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                ):
                    continue
                wrapper = self._wrap(layer, fn)
                originals[id(fn)] = wrapper
                self._patched.append((mod, name, fn))
                setattr(mod, name, wrapper)
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("wcdimportbot_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None and getattr(mod, name) is obj:
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, wrapper)
        self.active = True

    def uninstall(self) -> None:
        self.active = False
        for mod, name, fn in reversed(self._patched):
            setattr(mod, name, fn)
        self._patched.clear()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict(), sort_keys=True) + "\n")


def span_cost(calls: int = 20000) -> float:
    """Seconds one wrapped call adds over a plain call (median of 5)."""
    import statistics

    def nop():
        return None

    tracer = Tracer()
    wrapped = tracer._wrap("bench", nop)
    tracer.active = True
    cost = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(calls):
            nop()
        t1 = time.perf_counter()
        for _ in range(calls):
            wrapped()
        t2 = time.perf_counter()
        tracer.spans.clear()
        cost.append(((t2 - t1) - (t1 - t0)) / calls)
    return max(statistics.median(cost), 0.0)


# ----------------------------------------------------------------------------
# span attributes read from the call's arguments and the store on disk
# ----------------------------------------------------------------------------


def _leaf_files(root: str):
    """(leaf dir, file name, stat) for every parquet file under ``root``."""
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".parquet"):
                yield dirpath, name, os.stat(os.path.join(dirpath, name))


def _publish_stats(path, version, *_a, **_k) -> dict:
    """Bytes this publish wrote and the share of bucket directories it
    touched: unchanged files are hardlinks of the previous snapshot, so a
    file with one link is new."""
    leaves, touched, new_bytes = set(), set(), 0
    for leaf, _name, st in _leaf_files(os.path.join(path, version)):
        leaves.add(leaf)
        if st.st_nlink == 1:
            touched.add(leaf)
            new_bytes += st.st_size
    out = {"new_bytes": new_bytes}
    if leaves:
        out["touched_ratio"] = len(touched) / len(leaves)
    return out


def _read_stats(spark, path, version=None, *_a, **_k) -> dict:
    """Number of parquet files in the snapshot a read resolves."""
    cur = version
    if cur is None:
        try:
            with open(os.path.join(path, "_CURRENT"), encoding="ascii") as f:
                cur = f.read().strip()
        except OSError:
            cur = ""
    return {"files": sum(1 for _ in _leaf_files(os.path.join(path, cur)))}


def _backoff_stats(attempt, *_a, **_k) -> dict:
    return {"attempt": attempt}


_HOOKS = {
    ("versioned", "publish"): _publish_stats,
    ("sinks", "read_snapshot"): _read_stats,
    ("versioned", "race_backoff"): _backoff_stats,
}


# ----------------------------------------------------------------------------
# span arithmetic
# ----------------------------------------------------------------------------


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
            if c.end is not None and c.end > s.start
        ]
        out[s.id] = (s.end - s.start) - _union_length(kids)
    return out


def coverage(spans: list[Span], start: float, end: float) -> float:
    """Share of [start, end] covered by top-level spans."""
    top = [(max(s.start, start), min(s.end, end)) for s in spans
           if s.parent is None and s.end is not None and s.end > start and s.start < end]
    return _union_length(top) / max(end - start, 1e-9)


# ----------------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------------


class EventLog:
    """Jobs and per-stage task metrics from one application's event log."""

    def __init__(self, log_dir: str):
        # a single file, or a rolling "eventlog_v2_<app>" directory of
        # "events_<n>_<app>" files next to an "appstatus_<app>" marker
        files = sorted(
            p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
            if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
        )
        self.jobs: dict[int, dict] = {}
        self.stage: dict[int, dict] = {}
        for path in files:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.jobs[jid] = {
                "submitted": ev["Submission Time"] / 1000.0,
                "description": props.get("spark.job.description"),
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            st = self.stage.setdefault(ev["Stage ID"], {
                "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_s": 0.0, "python_s": 0.0,
            })
            st["tasks"] += 1
            st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                # the Python runner's SQL metric, in ms
                if acc.get("Name") == "time to run Python workers":
                    try:
                        st["python_s"] += float(acc.get("Update", 0)) / 1000.0
                    except (TypeError, ValueError):
                        pass

    def job_metrics(self, job_ids) -> dict:
        out = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0, "gc_s": 0.0, "python_s": 0.0}
        for jid in job_ids:
            out["jobs"] += 1
            for sid in self.jobs[jid]["stages"]:
                st = self.stage.get(sid)
                if st is None:
                    continue  # skipped stage: its tasks never ran
                for k in ("tasks", "shuffle_bytes", "spill_bytes", "gc_s", "python_s"):
                    out[k] += st[k]
        return out

    def attribute(self, spans: list[Span]) -> dict[int, list[int]]:
        """Job ids per span: the innermost span open at submission time."""
        by_span: dict[int, list[int]] = {}
        closed = sorted((s for s in spans if s.end is not None), key=lambda s: s.start)
        depth = {}
        for s in closed:
            depth[s.id] = 0 if s.parent is None else depth.get(s.parent, 0) + 1
        for jid, job in self.jobs.items():
            t = job["submitted"]
            best = None
            for s in closed:
                if s.start > t:
                    break
                if t <= s.end and (best is None or depth[s.id] >= depth[best.id]):
                    best = s
            if best is not None:
                by_span.setdefault(best.id, []).append(jid)
        return by_span
