"""Spans around the engine's public entry points, timed from outside.

A traced run patches a fixed set of functions (``layers.install``) with
wrappers that record one span per call: name, start, end, parent and
attributes. Spans stay in memory and are written when the run ends.
Every Spark job and stage is attributed to the innermost span open when
it ran, by reading the status store at each span boundary; that is
valid because the benchmark runs one call at a time. An untraced run
installs nothing.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# stage fields read from the status store, per stage
STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)
    # tracer bookkeeping that ran inside this span's interval
    overhead: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class StatusProbe:
    """Jobs and stages created since the previous call, read by id from
    Spark's status store after the listener bus has drained."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_q = sc._gateway.new_array(sc._jvm.double, 0)
        self.next_job = 0
        self.next_stage = 0
        self.job_ms: dict[int, float] = {}
        self.stage: dict[int, dict] = {}

    def _top_ids(self) -> tuple[int, int]:
        """Highest job and stage id in the store (its lists are newest
        first), -1 when empty. Asking for absent ids instead would cost
        one Java exception each."""
        jobs = self._store.jobsList(self._empty)
        stages = self._store.stageList(self._empty, False, False, self._no_q, self._empty)
        return (
            int(jobs.head().jobId()) if jobs.nonEmpty() else -1,
            int(stages.head().stageId()) if stages.nonEmpty() else -1,
        )

    def _read_job(self, i: int) -> None:
        j = self._store.job(i)
        sub, done = j.submissionTime(), j.completionTime()
        self.job_ms[i] = (
            float(done.get().getTime() - sub.get().getTime())
            if sub.isDefined() and done.isDefined()
            else 0.0
        )

    def _read_stage(self, i: int) -> None:
        s = self._store.lastStageAttempt(i)
        self.stage[i] = {
            "tasks": int(s.numCompleteTasks()),
            "executor_run_s": int(s.executorRunTime()) / 1e3,
            "executor_cpu_s": int(s.executorCpuTime()) / 1e9,
            "input_bytes": int(s.inputBytes()),
            "shuffle_read_bytes": int(s.shuffleReadBytes()),
            "shuffle_write_bytes": int(s.shuffleWriteBytes()),
            "spill_bytes": int(s.diskBytesSpilled()) + int(s.memoryBytesSpilled()),
        }

    def advance(self) -> tuple[list[int], list[int]]:
        self._sc.listenerBus().waitUntilEmpty()
        top_job, top_stage = self._top_ids()
        jobs, stages = [], []
        for ids, first, top, read in (
            (jobs, self.next_job, top_job, self._read_job),
            (stages, self.next_stage, top_stage, self._read_stage),
        ):
            for i in range(first, top + 1):
                try:
                    read(i)
                except Py4JJavaError:  # evicted or never registered
                    continue
                ids.append(i)
        self.next_job = max(self.next_job, top_job + 1)
        self.next_stage = max(self.next_stage, top_stage + 1)
        return jobs, stages


class Tracer:
    """Records spans while ``recording`` is set. ``Tracer(None)`` is the
    untraced run: spans cost one attribute check."""

    def __init__(self, spark=None) -> None:
        self.enabled = spark is not None
        self.probe = StatusProbe(spark) if self.enabled else None
        self.recording = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple] = []
        self.overhead_s = 0.0
        self.recorded_s = 0.0
        self._since = 0.0

    def start(self) -> None:
        """Begin recording; jobs and stages that ran before are skipped.
        An untraced tracer never records, so no probe runs untraced."""
        if not self.enabled:
            return
        self.probe._sc.listenerBus().waitUntilEmpty()
        top_job, top_stage = self.probe._top_ids()
        self.probe.next_job, self.probe.next_stage = top_job + 1, top_stage + 1
        self.recording = True
        self._since = time.perf_counter()

    def stop(self) -> None:
        if self.recording:
            self.recorded_s += time.perf_counter() - self._since
        self.recording = False

    # -- span bookkeeping ------------------------------------------------
    def _boundary(self) -> None:
        """Attribute everything created since the last boundary to the
        innermost open span (or to nobody)."""
        jobs, stages = self.probe.advance()
        if self._stack:
            self._stack[-1].jobs += jobs
            self._stack[-1].stages += stages

    def _charge(self, seconds: float) -> None:
        self.overhead_s += seconds
        if self._stack:
            self._stack[-1].overhead += seconds

    @contextmanager
    def span(self, name: str, **attrs):
        if not (self.enabled and self.recording):
            yield attrs
            return
        t = time.perf_counter()
        self._boundary()
        sp = Span(len(self.spans), name, self._stack[-1].id if self._stack else None)
        sp.attrs.update(attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        self._charge(sp.start - t)
        try:
            yield sp.attrs
        except BaseException as e:
            sp.attrs["error"] = type(e).__name__
            raise
        finally:
            sp.end = time.perf_counter()
            self._boundary()
            self._stack.pop()
            self._charge(time.perf_counter() - sp.end)

    @contextmanager
    def aside(self):
        """Tracer-only work (file listings, extra probes): its time is
        overhead and its Spark jobs are attributed to nobody."""
        if not (self.enabled and self.recording):
            yield
            return
        t = time.perf_counter()
        self._boundary()
        saved, self._stack = self._stack, []
        try:
            yield
        finally:
            self._boundary()
            self._stack = saved
            self._charge(time.perf_counter() - t)

    # -- patching --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``before``
        runs ahead of the call and ``after(state, result, *args)`` behind
        it, both as tracer overhead; ``after`` returns span attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.recording:
                return orig(*args, **kwargs)
            state = None
            if before is not None:
                with tracer.aside():
                    state = before(*args, **kwargs)
            with tracer.span(name) as attrs:
                out = orig(*args, **kwargs)
            if after is not None:
                with tracer.aside():
                    attrs.update(after(state, out, *args, **kwargs))
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis ----------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the part covered by child spans and tracer
        bookkeeping (children of one span never overlap: one call runs
        at a time)."""
        covered = sum(c.end - c.start for c in kids.get(sp.id, []))
        return max(0.0, sp.duration - covered - sp.overhead)

    def subtree(self, root: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def stage_totals(self, spans) -> dict:
        """Summed status-store counters of the stages self-attributed to
        ``spans``, plus their job count."""
        tot = {k: 0.0 for k in STAGE_FIELDS}
        jobs = 0
        for s in spans:
            jobs += len(s.jobs)
            for sid in s.stages:
                for k in STAGE_FIELDS:
                    tot[k] += self.probe.stage[sid][k]
        tot["jobs"] = jobs
        return tot

    def job_seconds(self, sp: Span) -> float:
        return sum(self.probe.job_ms.get(j, 0.0) for j in sp.jobs) / 1e3

    def dump(self) -> list[dict]:
        kids = self.children()
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "self_s": round(self.self_time(s, kids), 6),
                "jobs": len(s.jobs),
                "stages": len(s.stages),
                "attrs": s.attrs,
            }
            for s in self.spans
        ]
