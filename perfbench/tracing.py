"""Spans and Spark work counts recorded from outside the engine.

The benchmark never edits the program. In a traced run it replaces a few
public functions and methods with wrappers (``Tracer.wrap``) that open a
span around each call, and it tags Spark jobs with job groups
(``SparkContext.setJobGroup``) so ``statusTracker()`` can count the jobs,
stages and tasks each call ran. Everything is restored by
``Tracer.unwrap_all``; an untraced run installs nothing.

A span is ``{id, name, parent, start, end, thread, **attrs}``; the parent is
the span open on the same thread when it started, so a layer's self time is
its duration minus its children's.

A workload pass marks its parts on one ``Tracer`` whether it is traced or
not: ``Tracer()`` without a job counter records only the wall time of the
parts named with ``timed``/``phase``, and its spans and regions are no-ops.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time


class Tracer:
    def __init__(self, jobs: "JobCounter | None" = None):
        self.spans: list[dict] = []
        # None: an untraced pass, which records part walls only
        self.jobs = jobs
        # wall seconds of the named parts of the current pass
        self.walls: dict[str, float] = {}
        # attributes stamped on every new span (e.g. the batch phase)
        self.tags: dict = {}
        self._ids = itertools.count()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def enabled(self) -> bool:
        return self.jobs is not None

    @contextlib.contextmanager
    def timed(self, name: str):
        """Wall time of a named part of the pass, traced or not."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = time.perf_counter() - t0

    @contextlib.contextmanager
    def phase(self, name: str):
        """A timed part whose spans are all tagged with ``phase=name``."""
        with self.timed(f"{name}_s"):
            if not self.enabled:
                yield None
                return
            self.tags["phase"] = name
            try:
                with self.span(f"phase.{name}") as rec:
                    yield rec
            finally:
                self.tags.pop("phase", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
            "end": None,
            **self.tags,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    @contextlib.contextmanager
    def region(self, name: str, **attrs):
        """A span that also gets its own Spark job group; the group record
        is stored on the span as ``rec["jobs"]``."""
        if not self.enabled:
            yield None
            return
        with self.span(name, **attrs) as rec, self.jobs.group(name) as g:
            rec["jobs"] = g
            yield rec

    def wrap(self, owner, attr: str, name: str, on_call=None, before=None,
             counted: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span
        (a ``region`` when ``counted``).

        ``before()`` runs first inside the span; ``on_call(rec, args,
        kwargs, result)`` may add attributes after the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            opener = tracer.region if counted else tracer.span
            with opener(name) as rec:
                if before is not None:
                    before()
                out = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(rec, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def clear(self) -> None:
        self.spans = []
        self.walls = {}
        if self.jobs is not None:
            self.jobs.clear()

    # ------------------------------------------------------------ queries
    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.duration(s) for s in self.named(name))


class JobCounter:
    """Exact Spark work per labelled region, via job groups.

    ``with counter.group(label) as g:`` tags every job started on this
    thread inside the block; ``switch(label)`` re-tags the rest of the
    innermost open region (used to give each superstep its own group).
    Counts are resolved later by ``resolve()``, once the status store has
    seen the jobs finish, and land in ``g["jobs"]``, ``g["stages"]`` and
    ``g["tasks"]``: jobs started, stages that ran at least one task, and
    tasks completed, summed over the group and the groups nested in it."""

    def __init__(self, sc):
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._seq = itertools.count()
        self._local = threading.local()
        self.groups: list[dict] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _new(self, label: str, parent: dict | None) -> dict:
        gid = f"perfbench-{next(self._seq)}"
        rec = {"label": label, "gid": gid, "current": gid, "children": [],
               "jobs": None, "stages": None, "tasks": None}
        if parent is not None:
            parent["children"].append(rec)
        self.groups.append(rec)
        self._sc.setJobGroup(gid, label)
        return rec

    @contextlib.contextmanager
    def group(self, label: str):
        stack = self._stack()
        rec = self._new(label, stack[-1] if stack else None)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            if stack:
                self._sc.setJobGroup(stack[-1]["current"], stack[-1]["label"])
            else:
                self._clear()

    def switch(self, label: str) -> dict | None:
        """Open a sub-region of the innermost open group: jobs run from now
        until the group closes, or the next switch, land in it."""
        stack = self._stack()
        if not stack:
            return None
        outer = stack[-1]
        rec = self._new(label, outer)
        outer["current"] = rec["gid"]
        return rec

    def resolve(self, timeout: float = 30.0) -> None:
        """Fill the counts of every group; waits until the status store
        reports each job finished (its listener runs asynchronously)."""
        deadline = time.monotonic() + timeout
        self._drain(deadline)
        own: dict[str, tuple[int, int, int]] = {}
        for g in self.groups:
            while True:
                counts = self._count(g["gid"])
                if counts is not None or time.monotonic() > deadline:
                    break
                time.sleep(0.05)
            if counts is None:
                raise RuntimeError(f"jobs of {g['label']} did not finish in the status store")
            own[g["gid"]] = counts

        def total(g: dict) -> tuple[int, int, int]:
            j, s, t = own[g["gid"]]
            for child in g["children"]:
                a, b, c = total(child)
                j, s, t = j + a, s + b, t + c
            g["jobs"], g["stages"], g["tasks"] = j, s, t
            return j, s, t

        nested = {id(c) for g in self.groups for c in g["children"]}
        for g in self.groups:
            if id(g) not in nested:
                total(g)

    def _clear(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def _drain(self, deadline: float) -> None:
        """Run one sentinel job and wait until the status store has seen it
        end: its listener handles events in order, so every earlier job has
        been recorded by then."""
        gid = f"perfbench-sentinel-{next(self._seq)}"
        self._sc.setJobGroup(gid, "sentinel")
        try:
            self._sc.parallelize([0], 1).count()
        finally:
            self._clear()
        while time.monotonic() < deadline:
            ids = self._tracker.getJobIdsForGroup(gid)
            info = self._tracker.getJobInfo(ids[0]) if ids else None
            if info is not None and info.status == "SUCCEEDED":
                return
            time.sleep(0.05)
        raise RuntimeError("the status store did not catch up with the jobs run")

    def _count(self, gid: str) -> tuple[int, int, int] | None:
        jobs = stages = tasks = 0
        for jid in self._tracker.getJobIdsForGroup(gid):
            info = self._tracker.getJobInfo(jid)
            if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                return None
            jobs += 1
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is None:
                    continue
                if st.numActiveTasks:
                    return None
                if st.numCompletedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
        return jobs, stages, tasks

    def clear(self) -> None:
        self.groups = []
