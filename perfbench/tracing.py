"""Spans around the program's public calls, recorded from the benchmark's
own files, plus the Spark job / stage / task counts behind each span.

Each span runs its Spark work under its own job group; after a pass,
``resolve`` reads the jobs of every group from Spark's public
``SparkContext.statusTracker()``. A streaming query runs its
micro-batches under a job group of its own, named by the query's
``runId``, so the span that starts a query counts that group too. The
status store is fed by an asynchronous listener, so ``resolve`` waits
until every job and stage of a group has finished reporting before
counting it.

A disabled tracer is a no-op: the end-to-end run uses one, so its
timings carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int | None
    groups: list[str]
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    resolved: bool = False
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seq = itertools.count()
        # a stage reused by a later job (AQE, shared shuffles) is listed
        # by both jobs; count each stage once
        self._seen_stages: set[int] = set()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(name, parent, [f"perfbench-{next(self._seq)}"], time.perf_counter())
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self.sc.setJobGroup(sp.groups[0], name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                up = self.spans[parent]
                self.sc.setJobGroup(up.groups[0], up.name)

    def wrap(self, module: str, attr: str, span_name: str) -> None:
        """Route every reference to ``module.attr`` held by a loaded
        module of the program through a span, so calls made from inside
        the program (``from ... import attr`` bindings included) are
        traced without editing the program."""
        if not self.enabled:
            return
        orig = getattr(importlib.import_module(module), attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if mod is None or not mod.__name__.startswith("_imdb_etl_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, traced)

    def wrap_streams(self) -> None:
        """Add the job group of every streaming query started inside a
        span, wherever the program starts it, to that span."""
        if not self.enabled:
            return
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        for attr in ("start", "toTable"):
            orig = getattr(DataStreamWriter, attr)

            @functools.wraps(orig)
            def traced(writer, *args, _orig=orig, **kwargs):
                query = _orig(writer, *args, **kwargs)
                if self._stack:
                    self.spans[self._stack[-1]].groups.append(str(query.runId))
                return query

            setattr(DataStreamWriter, attr, traced)

    def resolve(self, timeout_s: float = 30.0) -> None:
        """Fill in job/stage/task counts of every finished span."""
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        for sp in self.spans:
            if sp.resolved or sp.end == 0.0:
                continue
            for group in sp.groups:
                while True:
                    seen = _group_stages(tracker, group)
                    if seen is not None or time.monotonic() > deadline:
                        break
                    time.sleep(0.02)
                if seen is None:  # listener never caught up: count what it has
                    seen = _group_stages(tracker, group, settled_only=False)
                jobs, stages = seen
                sp.jobs += jobs
                for sid, done, failed in stages:
                    if sid in self._seen_stages or done + failed == 0:
                        continue  # counted already, or skipped
                    self._seen_stages.add(sid)
                    sp.stages += 1
                    sp.tasks += done
                    sp.failed_tasks += failed
            sp.resolved = True

    def totals(self, since: int = 0) -> dict[str, dict[str, float]]:
        """Per span name: inclusive seconds, calls, and inclusive job,
        stage and task counts (a span's own groups plus its
        descendants'), over spans recorded from index ``since`` on.
        Nested spans of the same name count once, at the outermost."""
        out: dict[str, dict[str, float]] = {}
        for i in range(since, len(self.spans)):
            sp = self.spans[i]
            if self._has_ancestor_named(sp, sp.name):
                continue
            agg = out.setdefault(
                sp.name,
                dict(seconds=0.0, calls=0, jobs=0, stages=0, tasks=0, failed_tasks=0),
            )
            agg["seconds"] += sp.end - sp.start
            agg["calls"] += 1
            for j in self._subtree(i):
                d = self.spans[j]
                agg["jobs"] += d.jobs
                agg["stages"] += d.stages
                agg["tasks"] += d.tasks
                agg["failed_tasks"] += d.failed_tasks
        return out

    def _has_ancestor_named(self, sp: Span, name: str) -> bool:
        p = sp.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def _subtree(self, idx: int):
        todo = [idx]
        while todo:
            i = todo.pop()
            yield i
            todo.extend(self.spans[i].children)


def _group_stages(tracker, group: str, settled_only: bool = True):
    """(number of jobs, [(stage id, tasks completed, tasks failed)]) of
    one job group, or None while any of its jobs or stages is still
    reporting."""
    jobs = 0
    stages = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            if settled_only:
                return None
            continue
        if settled_only and info.status not in ("SUCCEEDED", "FAILED"):
            return None
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            if settled_only and st.numActiveTasks:
                return None
            stages.append((sid, st.numCompletedTasks, st.numFailedTasks))
    return jobs, stages
