"""Tracing from outside the program: spans around the repo's public
functions, and an offline parser for Spark's JSON event log.

A span is recorded at each call into a wrapped layer (name, start, end,
parent) and kept in memory.  While a span is open its name is the Spark
job description, so the event log names the layer that started each job.
Counters are attributed to a span by the submission times of the jobs
started while it was open: with one client in a closed loop nothing else
submits, and this also covers the streaming jobs, whose description the
stream execution thread sets itself.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

PKG = "llm_information_extraction_spark"

#: modules whose public functions are operator entry points
OPERATOR_MODULES = [
    f"{PKG}.operators.{m}"
    for m in (
        "canonicalize", "dedup", "evaluation", "extraction", "graph", "linking",
        "multimodal", "payload", "similarity", "skew", "textprep",
    )
] + [f"{PKG}.streaming.incremental", f"{PKG}.streaming.stateful"]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes spans free."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), parent=self._stack[-1] if self._stack else -1))
        self._stack.append(idx)
        if sc:
            sc.setJobDescription(name)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if sc:
                sc.setJobDescription(prev)

    def _wrap(self, fn, name_of):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Wrap the layer boundaries the workloads cross.

        Operator functions are replaced in every loaded module of the
        package (and ``__spark_entry__``) that bound them by name, so
        calls made through ``from x import f`` are traced too.
        """
        from pyspark.sql.streaming.query import StreamingQuery

        from llm_information_extraction_spark import session
        from llm_information_extraction_spark.plans.pipeline import KGPipeline
        from llm_information_extraction_spark.sources.catalog import Catalog

        replaced: dict[int, object] = {}
        for modname in OPERATOR_MODULES:
            mod = importlib.import_module(modname)
            short = modname.rsplit(".", 1)[-1]
            for name, fn in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == modname
                ):
                    label = f"{short}.{name}"
                    replaced[id(fn)] = self._wrap(fn, lambda *a, _l=label, **k: _l)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith(PKG) or modname == "__spark_entry__"):
                continue
            for name, val in list(vars(mod).items()):
                if id(val) in replaced and inspect.isfunction(val):
                    setattr(mod, name, replaced[id(val)])

        def table_label(verb):
            return lambda *a, **k: f"catalog.{verb}:{a[1] if len(a) > 1 else k['table']}"

        Catalog.write = self._wrap(Catalog.write, table_label("write"))
        Catalog.read = self._wrap(Catalog.read, table_label("read"))
        KGPipeline.run = self._wrap(KGPipeline.run, lambda *a, **k: "pipeline.run")
        StreamingQuery.awaitTermination = self._wrap(
            StreamingQuery.awaitTermination, lambda *a, **k: "stream.await"
        )
        session.get_spark = self._wrap(session.get_spark, lambda *a, **k: "session.get_spark")

    # -- span queries ---------------------------------------------------------
    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def uncovered(self, idx: int) -> float:
        """Time in span ``idx`` that none of its direct children covers."""
        s = self.spans[idx]
        kids = [(self.spans[i].start, self.spans[i].end) for i in self.children(idx)]
        return s.dur - union_length(kids)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([vars(s) for s in self.spans]))


def union_length(intervals) -> float:
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


# -- event log ----------------------------------------------------------------
_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Job:
    submit: float  # seconds since epoch
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Counters parsed from one application's uncompressed event log."""

    def __init__(self, path: Path) -> None:
        self.jobs: dict[int, Job] = {}
        self.stage: dict[int, Counter] = {}
        self.accum: Counter = Counter()
        #: file scans: (location, row-count accumulator ids, execution start)
        self.scans: list[tuple[str, set[int], float]] = []
        self._exec_start: dict[int, float] = {}
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = Job(ev["Submission Time"] / 1e3, stages=list(ev["Stage IDs"]))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            c = self.stage.setdefault(ev["Stage ID"], Counter())
            c["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            c["write_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                self.accum[acc["ID"]] += _num(acc.get("Update"))
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            if "time" in ev:
                self._exec_start[ev["executionId"]] = ev["time"] / 1e3
            started = self._exec_start.get(ev["executionId"], 0.0)
            self._plan(ev.get("sparkPlanInfo") or {}, started)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev.get("accumUpdates", []):
                self.accum[acc_id] += _num(value)

    def _plan(self, node: dict, started: float) -> None:
        location = (node.get("metadata") or {}).get("Location")
        if location:
            ids = {m["accumulatorId"] for m in node.get("metrics", [])
                   if m["name"] == "number of output rows"}
            self.scans.append((location, ids, started))
        for child in node.get("children", []):
            self._plan(child, started)

    def jobs_between(self, start: float, end: float) -> list[Job]:
        # submission times are whole milliseconds: allow one at the start
        return [j for j in self.jobs.values() if start - 1e-3 <= j.submit <= end]

    def counters(self, jobs: list[Job]) -> Counter:
        c = Counter()
        for j in jobs:
            for sid in j.stages:
                c.update(self.stage.get(sid, Counter()))
        c["jobs"] = len(jobs)
        c["exec_s"] = union_length((j.submit, j.end or j.submit) for j in jobs)
        return c

    def rows_scanned(self, location_part: str, start: float, end: float) -> float:
        """Rows output by the file scans over ``location_part`` in SQL
        executions started within [start, end] (each accumulator once)."""
        ids = set()
        for location, acc_ids, started in self.scans:
            if location_part in location and start - 1e-3 <= started <= end:
                ids |= acc_ids
        return sum(self.accum[i] for i in ids)


def find_event_log(log_dir: Path) -> Path:
    logs = [p for p in log_dir.iterdir()
            if p.is_file() and not p.name.startswith(".") and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]
