"""Closed-loop batch workloads over the query catalogue.

One pass runs every query of the workload's list once, one after the
other, in an order drawn from the workload seed, each to Spark's ``noop``
sink.

A run is: one warm-up pass that also checks every query against its
DuckDB oracle (its Spark side is part of set-up; the oracle side is not
timed), then whole measured passes, stopping at the pass boundary nearest
to ``seconds``.
"""

from __future__ import annotations

import sys
import traceback
from dataclasses import dataclass, field

import numpy as np

from tracing import Tracer, builder_modules, job_counts, now, python_nodes


@dataclass
class QueryRecord:
    name: str
    pass_no: int
    start: float
    build_s: float = 0.0
    exec_s: float = 0.0
    ok: bool = False
    counters: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


class _TimedBuild:
    """A query builder that times its own build and the collection of its
    result, so a caller that also runs the oracle can time only Spark."""

    def __init__(self, fn):
        self.fn, self.seconds = fn, 0.0

    def __call__(self, spark, sf_dir):
        t0 = now()
        df = self.fn(spark, sf_dir)
        self.seconds += now() - t0
        return _TimedFrame(df, self)


class _TimedFrame:
    """The parts of a DataFrame ``compare_query`` uses, with actions timed."""

    def __init__(self, df, owner: _TimedBuild):
        self._df, self._owner, self.columns = df, owner, df.columns

    def _timed(self, action):
        t0 = now()
        try:
            return action()
        finally:
            self._owner.seconds += now() - t0

    def toPandas(self):
        return self._timed(self._df.toPandas)


class BatchRunner:
    def __init__(self, spark, entrymod, names, sf_dir, seed, tracer: Tracer,
                 traced: bool):
        self.spark, self.sc = spark, spark.sparkContext
        self.entry, self.qs = entrymod, entrymod.queries()
        self.names, self.sf_dir = list(names), sf_dir
        self.rng = np.random.default_rng(seed)
        self.tracer, self.traced = tracer, traced
        self.records: list[QueryRecord] = []
        self.checked: dict[str, bool] = {}
        self.failed = 0
        self.attempted = 0

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"# FAILED {what}", file=sys.stderr, flush=True)

    def _order(self) -> list[str]:
        return [self.names[i] for i in self.rng.permutation(len(self.names))]

    def _run_query(self, name: str, pass_no: int, parent: int) -> QueryRecord:
        rec = QueryRecord(name, pass_no, now())
        group = f"p{pass_no}:{name}"
        try:
            if self.traced:
                self.sc.setJobGroup(f"{group}:build", name)
            t0 = now()
            df = self.qs[name](self.spark, self.sf_dir)
            t1 = now()
            if self.traced:
                self.sc.setJobGroup(f"{group}:exec", name)
            df.write.mode("overwrite").format("noop").save()
            t2 = now()
            rec.build_s, rec.exec_s, rec.ok = t1 - t0, t2 - t1, True
            if self.traced:
                self.sc.setJobGroup("perfbench:harness", "harness")
                rec.counters = {"build": job_counts(self.sc, f"{group}:build"),
                                "exec": job_counts(self.sc, f"{group}:exec"),
                                "python_nodes": python_nodes(df)}
            qid = self.tracer.record("query", rec.start, t2, parent, query=name)
            self.tracer.record("build", t0, t1, qid)
            self.tracer.record("exec", t1, t2, qid)
        except Exception:  # noqa: BLE001 - the run goes on; the failure is counted and shown
            self._fail(f"{name} pass {pass_no}:\n{traceback.format_exc()}")
        self.attempted += 1
        self.records.append(rec)
        return rec

    def run_pass(self, pass_no: int) -> float:
        """Run the list once in a freshly drawn order; return the pass wall."""
        order = self._order()
        t0 = now()
        pid = self.tracer.open("pass", t0, None, pass_no=pass_no)
        for name in order:
            self._run_query(name, pass_no, pid)
        t1 = now()
        self.tracer.close(pid, t1)
        return t1 - t0

    def warm_and_check(self, oracle_check) -> float:
        """The warm-up pass: run every query once through
        ``oracle_check.compare_query`` against its DuckDB oracle. Returns the
        seconds spent in Spark (plan build and result collection); the
        DuckDB side and the comparison are not timed."""
        oracles = self.entry.oracle_sql()
        spark_s = 0.0
        for name in self._order():
            self.attempted += 1
            timed = _TimedBuild(self.qs[name])
            t0 = now()
            try:
                ok, msg = oracle_check.compare_query(
                    self.spark, name, timed, oracles.get(name), self.sf_dir)
            except Exception:  # noqa: BLE001 - counted as a failed check
                ok, msg = False, f"{name}: EXCEPTION\n{traceback.format_exc()}"
            spark_s += timed.seconds
            self.tracer.record("check", t0, now(), None, query=name, spark_s=timed.seconds)
            self.checked[name] = ok
            if not ok:
                self._fail(f"check {msg}")
        return spark_s

    def measured(self) -> list[QueryRecord]:
        return [r for r in self.records if r.pass_no > 0 and r.ok]

    def layer_metrics(self, event_log: dict) -> dict[str, float]:
        """Per-layer means per measured query execution of a traced run,
        plus per-module build and execution means over the queries that use
        each module."""
        recs = self.measured()
        n = max(len(recs), 1)

        def mean(f):
            return sum(f(r) for r in recs) / n

        def ev(r, k):
            return event_log.get(f"p{r.pass_no}:{r.name}:exec", {}).get(k, 0.0)

        out = {"entry.build_s": mean(lambda r: r.build_s),
               "entry.build_jobs": mean(lambda r: r.counters["build"]["jobs"]),
               "exec.s": mean(lambda r: r.exec_s),
               "plan.python_nodes": mean(lambda r: r.counters["python_nodes"]),
               "exec.sched_s": mean(lambda r: ev(r, "job_s") - ev(r, "task_busy_s")),
               "exec.driver_s": mean(lambda r: r.exec_s - ev(r, "job_s"))}
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            out[f"exec.{k}"] = mean(lambda r, k=k: r.counters["exec"][k])
        for k in ("task_s", "task_cpu_s", "shuffle_bytes", "spill_bytes", "gc_s", "job_s"):
            out[f"exec.{k}"] = mean(lambda r, k=k: ev(r, k))
        by_mod: dict[str, list[QueryRecord]] = {}
        for name in self.names:
            for m in builder_modules(self.entry, self.qs[name]):
                by_mod.setdefault(m, []).extend(r for r in recs if r.name == name)
        for m, rs in sorted(by_mod.items()):
            out[f"module.{m}.build_s"] = sum(r.build_s for r in rs) / max(len(rs), 1)
            out[f"module.{m}.exec_s"] = sum(r.exec_s for r in rs) / max(len(rs), 1)
        return out
