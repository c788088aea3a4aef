"""Tracing for the ``--trace 1`` run: spans and counters recorded from the
benchmark's own files around calls into each layer, plus Spark stage
metrics read from the status store.

Spans are held in memory and written out once at the end.  Each span sets
the Spark job group, so every job a layer triggers is attributed to the
innermost span around it.  Nothing in ``nmalign_spark`` is edited: layers
are instrumented by rebinding module attributes for the duration of one
``patched`` block and restoring them afterwards.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import Counter
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_tracers = itertools.count(1)  # job groups stay apart across tracers


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[dict] = []
        self._group = f"pb{next(_tracers)}"

    def _set_group(self, rec):
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self._group}-{rec['id']}", rec["name"])

    def open(self, name: str) -> dict:
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans) + 1, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        return rec

    def close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._stack.remove(rec)
        self._set_group(self._stack[-1] if self._stack else None)

    @contextmanager
    def span(self, name: str):
        rec = self.open(name)
        try:
            yield rec
        finally:
            self.close(rec)

    def wrap(self, fn, name: str, count=None):
        """``fn`` inside a span; ``count(result, *args)`` returns counter
        increments taken at the same boundary."""
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if count is not None:
                self.counts.update(count(result, *args))
            return result
        return traced

    # -- read-out -----------------------------------------------------------

    def durations(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> Counter:
        """Per span name: duration minus the time its direct children cover."""
        child = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = Counter()
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def children_of(self, name: str, child: str) -> float:
        ids = {s["id"] for s in self.spans if s["name"] == name}
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == child and s["parent"] in ids)

    def groups(self) -> list[str]:
        return [f"{self._group}-{s['id']}" for s in self.spans]

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0}
                 for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": dict(self.counts), **extra},
                      f, indent=1)


@contextmanager
def patched(targets):
    """Rebind ``(owner, attribute, replacement)`` triples, restore on exit."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, new in targets:
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


def stage_metrics(sc, groups, wall_s: float, nproc: int) -> tuple[dict, list]:
    """Spark stage totals over every job run under ``groups``, from the
    status store (works with the UI disabled).  Returns the ``spark.*``
    layer metrics and a per-stage table."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs, stage_ids = set(), set()
    for g in groups:
        for j in tracker.getJobIdsForGroup(g):
            jobs.add(j)
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
    rows = []
    for sid in sorted(stage_ids):
        try:
            d = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted
            continue
        if d.status().toString() == "SKIPPED":
            continue
        rows.append({"stage": sid, "attempt": d.attemptId(), "name": d.name(),
                     "tasks": d.numCompleteTasks(),
                     "failed_tasks": d.numFailedTasks(),
                     "run_s": d.executorRunTime() / 1000,
                     "cpu_s": d.executorCpuTime() / 1e9,
                     "shuffle_write_mb": d.shuffleWriteBytes() / 2**20,
                     "shuffle_read_mb": d.shuffleReadBytes() / 2**20,
                     "spill_mb": (d.memoryBytesSpilled()
                                  + d.diskBytesSpilled()) / 2**20})
    run_s = sum(r["run_s"] for r in rows)
    skew = 0.0
    if rows:
        heavy = max(rows, key=lambda r: r["run_s"])
        gw = sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(heavy["stage"], heavy["attempt"], q)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, top = run.apply(0), run.apply(1)
            skew = top / med if med > 0 else 1.0
    metrics = {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(r["tasks"] for r in rows),
        "spark.failed_tasks": sum(r["failed_tasks"] for r in rows),
        "spark.exec_run_s": run_s,
        "spark.core_busy_frac": run_s / (wall_s * nproc) if wall_s else 0.0,
        "spark.shuffle_write_mb": sum(r["shuffle_write_mb"] for r in rows),
        "spark.shuffle_read_mb": sum(r["shuffle_read_mb"] for r in rows),
        "spark.spill_mb": sum(r["spill_mb"] for r in rows),
        "spark.task_skew": skew,
    }
    return metrics, rows
