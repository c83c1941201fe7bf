"""Spans, Spark job groups and event-log totals for the benchmark.

Every span gives the Spark jobs started inside it its own job group
(``pass|query|layer|id``), so ``statusTracker`` can attribute jobs,
stages and tasks to the span that launched them. The untraced runs open
only two spans per query (``plans``: the query function call;
``engine``: the action that forces the result). The traced run also
wraps the library's public entry points from outside: nothing under
``spark_ext_spark/`` changes.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# Layers wrapped in the traced run: package → layer name.
LAYER_PACKAGES = {"spark_ext_spark.operators": "operators",
                  "spark_ext_spark.llm": "llm"}
SOURCE_FUNCTIONS = ("read_table", "read_parquet")
# Python-worker SQL metrics (Spark's PythonSQLMetrics; the times are
# "timing" metrics, i.e. milliseconds) → per-layer name.
PYTHON_METRICS = {"time to run Python workers": "python.worker_ms",
                  "time to initialize Python workers": "python.init_ms",
                  "data sent to Python workers": "python.bytes_sent",
                  "data returned from Python workers": "python.bytes_received"}
_ACCESSORS = ("get", "set")  # Params getters/setters: not layer entries


@dataclass
class Span:
    group: str
    tag: str
    query: str
    layer: str
    name: str
    parent: str | None
    start: float
    end: float


class Recorder:
    """Opens spans and tags the Spark jobs each one starts."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.spans: list[Span] = []
        self.tag = ""
        self.query = ""
        self._stack: list[tuple[str, str]] = []
        self._next = 0

    @contextmanager
    def span(self, layer: str, name: str):
        group = f"{self.tag}|{self.query}|{layer}|{self._next}"
        self._next += 1
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((group, name))
        self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(*self._stack[-1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(group, self.tag, self.query, layer, name,
                                   parent, start, end))

    def wait_for_jobs(self, timeout_s: float = 20.0) -> None:
        """Wait until the status store has seen every job end: the
        listener bus is asynchronous, so counts read right after an
        action can miss its last stage."""
        groups = {s.group for s in self.spans}
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.tracker.getActiveJobsIds() == [] and all(
                    (info := self.tracker.getJobInfo(j)) is not None
                    and info.status in ("SUCCEEDED", "FAILED")
                    for g in groups
                    for j in self.tracker.getJobIdsForGroup(g)):
                return
            time.sleep(0.05)

    def group_counts(self) -> dict[str, tuple[int, int, int]]:
        """(jobs, stages run, tasks run) per job group; a stage skipped
        because its shuffle output was reused counts as not run."""
        out = {}
        for g in {s.group for s in self.spans}:
            jobs = self.tracker.getJobIdsForGroup(g)
            stages: set[int] = set()
            for j in jobs:
                info = self.tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = n_stages = 0
            for sid in stages:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    n_stages += 1
                    tasks += st.numCompletedTasks
            out[g] = (len(jobs), n_stages, tasks)
        return out


def _wrap(rec: Recorder, layer: str, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with rec.span(layer, name):
            return fn(*args, **kwargs)
    return traced


def _entry_methods(cls) -> list[str]:
    names = [n for n in ("fit", "transform") if callable(getattr(cls, n, None))]
    names += [n for n, v in vars(cls).items()
              if inspect.isfunction(v) and not n.startswith("_")
              and not n.startswith(_ACCESSORS) and n not in names]
    return names


def install_layer_spans(rec: Recorder):
    """Wrap ``sources`` readers, every public function of the
    ``operators``/``llm`` modules and the fit/transform/public methods
    of their classes, then rebind each name that a library module or
    ``__spark_entry__`` imported directly. Returns an undo function."""
    patches: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        patches.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, new)

    wrapped = {}
    io = importlib.import_module("spark_ext_spark.sources.io")
    for name in SOURCE_FUNCTIONS:
        fn = getattr(io, name)
        wrapped[fn] = _wrap(rec, "sources", name, fn)
    for pkg_name, layer in LAYER_PACKAGES.items():
        pkg = importlib.import_module(pkg_name)
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg_name}.{info.name}")
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped[obj] = _wrap(rec, layer, f"{info.name}.{attr}", obj)
                elif inspect.isclass(obj):
                    for meth in _entry_methods(obj):
                        patch(obj, meth, _wrap(rec, layer, f"{attr}.{meth}",
                                               getattr(obj, meth)))
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == "__spark_entry__"
                               or mod_name.startswith("spark_ext_spark")):
            continue
        for attr, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj in wrapped:
                patch(mod, attr, wrapped[obj])

    def undo():
        for owner, attr, old in reversed(patches):
            if old is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
    return undo


_MISSING = object()


def layer_totals(spans: list[Span], counts: dict[str, tuple[int, int, int]],
                 ) -> dict[str, float]:
    """Per-layer totals over ``spans`` (one pass): calls, inclusive and
    self seconds, and jobs whose innermost span is in the layer."""
    by_group = {s.group: s for s in spans}
    child_s: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] += s.end - s.start
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        dur = s.end - s.start
        parent = by_group.get(s.parent) if s.parent else None
        outermost = parent is None or parent.layer != s.layer
        if outermost:
            out[f"{s.layer}.calls"] += 1
            out[f"{s.layer}.incl_s"] += dur
        out[f"{s.layer}.self_s"] += dur - child_s[s.group]
        jobs = counts.get(s.group, (0, 0, 0))[0]
        out[f"{s.layer}.jobs"] += jobs
        if s.layer != "engine":
            out["build.jobs"] += jobs
    return dict(out)


def find_event_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, "
                           f"found {logs}")
    return logs[0]


def event_log_totals(path: str) -> dict[str, dict[str, float]]:
    """Engine and Python-worker totals per job-group tag (the part of
    the group before the first ``|``), from a Spark event log."""
    stage_tag: dict[int, str] = {}
    tot: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                tag = group.split("|", 1)[0]
                tot[tag]["engine.jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_tag.setdefault(sid, tag)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                tag = stage_tag.get(info["Stage ID"], "")
                tot[tag]["engine.stages"] += 1
                for a in info.get("Accumulables", []):
                    name = PYTHON_METRICS.get(a.get("Name"))
                    if name is not None:
                        tot[tag][name] += float(a.get("Value", 0))
            elif kind == "SparkListenerTaskEnd":
                tag = stage_tag.get(ev["Stage ID"], "")
                m = ev.get("Task Metrics") or {}
                t = tot[tag]
                t["engine.tasks"] += 1
                t["engine.run_ms"] += m.get("Executor Run Time", 0)
                t["engine.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                t["engine.gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t["engine.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                   + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                t["engine.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                t["engine.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                            + m.get("Disk Bytes Spilled", 0))
    return {tag: dict(v) for tag, v in tot.items()}
