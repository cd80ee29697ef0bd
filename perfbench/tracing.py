"""Per-layer instrumentation for traced runs, taken from outside the engine.

Nothing here reaches into ``akka_stream_contrib_spark``: spans are timed
around the calls the benchmark makes into the package's public functions,
job counts come from ``SparkContext.statusTracker`` by job group, task
counters come from Spark's own event log, and streaming counters from
``StreamingQueryProgress``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow",
                "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInArrow", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
                "PythonMapInArrow")
_PY_NODE_RE = re.compile(r"\b(" + "|".join(PYTHON_NODES) + r")\b")
_PKG = "akka_stream_contrib_spark."


class Tracer:
    """In-memory spans: ``(id, parent, name, start, end, attrs)``; written
    out once, when the run ends. Thread-safe: the streaming sink records
    from the query's callback thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0

    def record(self, name: str, start: float, end: float | None,
               parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})
        return sid

    def open(self, name: str, start: float, parent: int | None = None, **attrs) -> int:
        """Start a span whose end is set later by :meth:`close`."""
        return self.record(name, start, None, parent, **attrs)

    def close(self, sid: int, end: float) -> None:
        with self._lock:
            self.spans[sid]["end"] = end

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under ``group``."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for jid in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            if stage is not None:
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                out["failed_tasks"] += stage.numFailedTasks
    return out


def python_nodes(df) -> int:
    """Python-boundary operators (Arrow/pandas UDF nodes) in ``df``'s
    physical plan, counted on the plan string."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_PY_NODE_RE.findall(plan))


def _union_s(intervals: list[tuple[float, float]]) -> float:
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


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group, from Spark's uncompressed JSON event log: summed task
    run time, CPU time, GC time, shuffle read+write bytes and spill bytes,
    plus the wall time covered by the group's jobs (``job_s``) and the
    part of it covered by at least one running task (``task_busy_s``)."""
    # rolling layout (Spark 4 default): <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    jobs: dict[str, list] = defaultdict(list)
    tasks: dict[str, list] = defaultdict(list)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"] / 1e3
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
            jid = ev["Job ID"]
            jobs[job_group[jid]].append((job_start[jid], ev["Completion Time"] / 1e3))
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
            group = stage_group[ev["Stage ID"]]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            tasks[group].append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
            a = acc[group]
            a["task_s"] += m.get("Executor Run Time", 0) / 1e3
            a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0)
                                   + sw.get("Shuffle Bytes Written", 0))
    out = {}
    for group in set(acc) | set(jobs):
        rec = dict(acc[group])
        rec["job_s"] = _union_s(jobs.get(group, []))
        rec["task_busy_s"] = _union_s(tasks.get(group, []))
        out[group] = rec
    return out


def _lines(files):
    for path in files:
        with open(path) as f:
            yield from f


def builder_modules(entrymod, fn) -> set[str]:
    """Package modules a query builder uses, read from its code: every name
    the builder (and the entry-module helpers it calls, transitively)
    references that resolves to an object defined in
    ``akka_stream_contrib_spark``; reported without the package prefix,
    e.g. ``functions.dedup``."""
    import importlib

    mods: set[str] = set()
    seen: set[int] = set()
    g = vars(entrymod)

    def names(code):
        yield from code.co_names
        for c in code.co_consts:
            if hasattr(c, "co_names"):
                yield from names(c)

    def walk(f):
        if id(f) in seen or not hasattr(f, "__code__"):
            return
        seen.add(id(f))
        used = set(names(f.__code__))
        # function-local `from akka_stream_contrib_spark.x import y` imports
        local = [importlib.import_module(n) for n in used if n.startswith(_PKG)]
        for n in used:
            objs = [g[n]] if n in g else []
            objs += [getattr(m, n) for m in local if hasattr(m, n)]
            for obj in objs:
                mod = getattr(obj, "__module__", None) or ""
                if mod.startswith(_PKG):
                    mods.add(mod[len(_PKG):])
                elif getattr(obj, "__name__", "").startswith(_PKG):
                    mods.add(obj.__name__[len(_PKG):])
                elif mod == entrymod.__name__:
                    walk(obj)

    walk(fn)
    return mods


def now() -> float:
    """Wall-clock seconds: one clock for the benchmark's own spans, Spark's
    progress timestamps and checkpoint file times."""
    return time.time()
