"""Spans around calls into the engine's layers, with Spark job attribution.

A span records its name, its parent, and its start and end on the wall
clock. On entry it sets the Spark job group to its own id, and on exit
restores its parent's, so every job Spark runs is attributed to the
innermost span active when the job was submitted. After each top-level
span the tracer reads those jobs, and their stages, from Spark's
in-process status store (``sc._jsc.sc().statusStore()``), which works
with the UI off. It reads them there, before ``spark.ui.retainedJobs``
can evict them. Spans stay in memory until :meth:`Tracer.dump`.

With tracing off, :meth:`Tracer.span` only yields and the engine's
functions are left unpatched.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


# --- interval arithmetic (half-open [a, b) on the wall clock) ------------

def merge(intervals):
    """Sorted, disjoint union of ``intervals``."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def length(intervals) -> float:
    return sum(b - a for a, b in merge(intervals))


def subtract(base, cut):
    """Parts of ``base`` that no interval of ``cut`` covers."""
    out = []
    cut = merge(cut)
    for a, b in merge(base):
        for c, d in cut:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append((a, c))
            a = max(a, d)
            if a >= b:
                break
        if a < b:
            out.append((a, b))
    return out


# --- spans ---------------------------------------------------------------

@dataclass
class Span:
    sid: str
    name: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    top: bool = False
    children: list = field(default_factory=list)
    jobs: list = field(default_factory=list)  # dicts from the status store
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def self_intervals(self):
        return subtract([(self.start, self.end)], [(c.start, c.end) for c in self.children])

    @property
    def self_s(self) -> float:
        return length(self.self_intervals())

    @property
    def driver_s(self) -> float:
        """Self time that none of this span's own Spark jobs covers."""
        jobs = [(j["submitted"], j["completed"]) for j in self.jobs]
        return length(subtract(self.self_intervals(), jobs))

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.roots: list[Span] = []
        self.stack: list[Span] = []
        self.store_read_s = 0.0
        self._n = 0
        self._seen_stages: set = set()
        self._patches: list = []

    # --- spans -----------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", span.sid if span is not None else None
        )

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        self._n += 1
        sp = Span(f"perfbench-{self._n}", name, parent, time.time(), top=parent is None, attrs=attrs)
        (parent.children if parent else self.roots).append(sp)
        self.stack.append(sp)
        self._set_group(sp)
        if sp.top:  # drop a description an earlier operator left behind
            self.clear_description()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.stack.pop()
            self._set_group(parent)
            if sp.top:
                t0 = time.time()
                self._read_store(sp)
                sp.attrs["cached_bytes"] = self.cached_bytes()
                self.store_read_s += time.time() - t0

    def clear_description(self) -> None:
        """Drop the job description the engine left set, so the jobs that
        follow (the caller's actions) are not read as the engine's phases."""
        if self.enabled:
            self.spark.sparkContext.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, rows=None) -> None:
        """Replace ``owner.attr`` by a spanned call. ``rows(args, result)``
        optionally records a row count on the span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if rows is not None:
                    sp.attrs["rows"] = sp.attrs.get("rows", 0) + rows(args, out)
                return out

        self._patches.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        for owner, attr, own in reversed(self._patches):
            if own is None:
                delattr(owner, attr)  # it was inherited: expose the base again
            else:
                setattr(owner, attr, own)
        self._patches.clear()

    # --- status store ----------------------------------------------------

    def _read_store(self, top: Span) -> None:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        for sp in top.walk():
            for jid in sorted(tracker.getJobIdsForGroup(sp.sid)):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                job = {
                    "id": jid,
                    "desc": jd.description().get() if jd.description().isDefined() else "",
                    "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else sp.start,
                    "completed": done.get().getTime() / 1000.0 if done.isDefined() else sp.end,
                    "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                    "shuffle_write_bytes": 0, "spill_bytes": 0,
                }
                ids = jd.stageIds()
                for i in range(ids.size()):
                    stage_id = ids.apply(i)
                    if stage_id in self._seen_stages:
                        continue  # reused shuffle output: counted where it ran
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # a skipped stage has no record
                        continue
                    if str(st.status().toString()) != "COMPLETE":
                        continue
                    self._seen_stages.add(stage_id)
                    job["stages"] += 1
                    job["tasks"] += st.numCompleteTasks()
                    job["executor_run_s"] += st.executorRunTime() / 1000.0
                    job["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    job["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                sp.jobs.append(job)

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    # --- output ----------------------------------------------------------

    def spans(self):
        for root in self.roots:
            yield from root.walk()

    def structure(self) -> dict:
        """Jobs, stages and shuffle bytes per top-level span, in call order:
        the counts that must repeat exactly across traced runs."""
        out = {}
        for i, root in enumerate(self.roots):
            jobs = [j for sp in root.walk() for j in sp.jobs]
            out[f"{i}:{root.name}"] = {
                "jobs": len(jobs),
                "stages": sum(j["stages"] for j in jobs),
                "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs),
            }
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans():
                fh.write(json.dumps({
                    "id": sp.sid, "name": sp.name,
                    "parent": sp.parent.sid if sp.parent else None,
                    "start": sp.start, "end": sp.end, "self_s": sp.self_s,
                    "driver_s": sp.driver_s, "jobs": sp.jobs, "attrs": sp.attrs,
                }) + "\n")
