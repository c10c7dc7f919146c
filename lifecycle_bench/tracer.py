"""In-memory span tracer for the lifecycle benchmark.

A span records a name, start, end, its parent span and the Spark work it
launched.  Each span runs under its own Spark job group, so the jobs a
span launches directly are ``statusTracker().getJobIdsForGroup(span)``;
stages and tasks come from the job and stage infos.  A span's *self*
time is its duration minus the time its child spans cover; its jobs are
the jobs launched directly under it (children have their own groups).
The status tracker is fed asynchronously by Spark's listener bus, so
counts are read once, by :meth:`Tracer.count_jobs`, after the bus has
drained — read at span exit they missed jobs whenever the bus lagged.

Layers are traced by rebinding public functions of the program to
wrappers (:meth:`Tracer.patch`) — no program file is edited.  With
tracing off the tracer records nothing and patches nothing.
"""

from __future__ import annotations

import itertools
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed: int = 0
    child_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Spans kept in memory; ``spans`` is the full record of a run."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.bookkeeping_s = 0.0  # time the tracer itself spent (its overhead)
        self._ids = itertools.count(1)
        self._group_prefix = f"lb-{uuid.uuid4().hex[:8]}-"  # unique per tracer in a session
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self._group_prefix}{span.id}", span.name)

    def count_jobs(self) -> None:
        """Fill in every span's job, stage and task counts."""
        if self.sc is None or not self.spans:
            return
        t0 = time.perf_counter()
        # private[spark] in Scala, public in the bytecode: blocks until the
        # listener bus has delivered every event to the status store
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        st = self.sc.statusTracker()
        for span in self.spans:
            span.jobs = span.stages = span.tasks = 0
            for jid in st.getJobIdsForGroup(f"{self._group_prefix}{span.id}"):
                info = st.getJobInfo(jid)
                span.jobs += 1
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    if stage is not None and stage.numCompletedTasks + stage.numFailedTasks:
                        span.stages += 1
                        span.tasks += stage.numCompletedTasks + stage.numFailedTasks
        self.bookkeeping_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        s = Span(next(self._ids), name, parent.id if parent else None, 0.0, attrs=attrs)
        self.spans.append(s)
        self.stack.append(s)
        self._group(s)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        except BaseException:
            s.failed += 1
            raise
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent.child_s += s.dur
            self._group(parent)
            self.bookkeeping_s += time.perf_counter() - s.end

    # -- rebinding program functions ----------------------------------------
    def wrap(self, fn, name_of):
        """``fn`` run inside a span; ``name_of(args, kwargs, parent)`` names it."""
        tracer = self

        def wrapper(*args, **kwargs):
            parent = tracer.stack[-1] if tracer.stack else None
            with tracer.span(name_of(args, kwargs, parent)) as s:
                out = fn(*args, **kwargs)
                if s is not None and isinstance(out, list):
                    s.failed += sum(1 for r in out if getattr(r, "passed", True) is False)
                return out

        return wrapper

    def patch(self, owner, attr: str, name_of) -> None:
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name_of))

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- aggregation ----------------------------------------------------------
    def layers(self, under: int | None = None) -> dict[str, dict]:
        """Per-layer totals: calls, self_s, jobs, stages, tasks, failed.

        ``under`` keeps only spans below that span (e.g. the timed phase).
        """
        keep = self.descendants(under) if under is not None else None
        out: dict[str, dict] = {}
        for s in self.spans:
            if keep is not None and s.id not in keep:
                continue
            agg = out.setdefault(
                s.name, {"calls": 0, "self_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0, "failed": 0}
            )
            agg["calls"] += 1
            agg["self_s"] += s.self_s
            for k in ("jobs", "stages", "tasks", "failed"):
                agg[k] += getattr(s, k)
        return out

    def descendants(self, root: int) -> set[int]:
        ids = {root}
        for s in self.spans:  # spans are appended in start order: parents first
            if s.parent in ids:
                ids.add(s.id)
        ids.discard(root)
        return ids

    def to_records(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end, "self_s": s.self_s,
                "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
                "failed": s.failed, **s.attrs,
            }
            for s in self.spans
        ]
