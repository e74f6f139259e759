"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent span, op id) recorded around a call into
one ``nbdatatools_spark`` layer. The span name is ``<layer>.<step>``; the layer
is the module path (``operators.knn``, ``sources.xvec``, ``predicates``...).
Spark jobs run inside a span are attributed to the innermost open span through
one Spark job group per span, and counted from the ``StatusTracker`` once the
listener bus has drained, so job and task counts do not depend on event timing.

A disabled tracer records nothing and sets no job group, so the untraced run
pays one attribute check per layer call.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0]


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._unresolved: list[Span] = []
        self._sc = None

    def bind(self, spark_context) -> None:
        """Attach the SparkContext whose jobs the spans count."""
        self._sc = spark_context

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"perfbench-span-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, **counts):
        """Record a span; ``counts`` are computed figures (bytes, flop...)
        attached to it. Yields the span (or None when disabled) so a caller
        can add counts known only after the call."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent.id if parent else None,
                 time.perf_counter(), counts=dict(counts))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            if self._sc is not None:
                self._unresolved.append(s)

    def resolve_jobs(self) -> None:
        """Fill ``jobs``/``tasks`` of finished spans. Call outside timed
        regions: it waits for Spark's listener bus to drain."""
        if not self._unresolved or self._sc is None:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self._sc.statusTracker()
        for s in self._unresolved:
            job_ids = tracker.getJobIdsForGroup(f"perfbench-span-{s.id}")
            s.jobs = len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    s.tasks += stage.numCompletedTasks if stage else 0
        self._unresolved.clear()

    def wrap(self, module, name: str, span_name: str) -> None:
        """Record ``span_name`` around every call of ``module.name``, including
        calls other package modules make through the same module attribute."""
        orig = getattr(module, name)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(module, name, traced)

    def self_times(self, ops: set[str]) -> dict[str, dict[str, float]]:
        """{op: {span name: seconds}} of self time (duration minus the time
        covered by direct child spans), summed per span name within each op."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.op in ops:
                per = out.setdefault(s.op, {})
                per[s.name] = per.get(s.name, 0.0) + (s.end - s.start) - child_time.get(s.id, 0.0)
        return out

    def per_op_sums(self, ops: set[str], layer: str, key: str) -> list[float]:
        """Per-op sums of ``key`` (``jobs``, ``tasks`` or a count name) over
        the spans of one layer, in sorted op order."""
        sums = {o: 0.0 for o in ops}
        for s in self.spans:
            if s.op in sums and s.layer == layer:
                sums[s.op] += getattr(s, key) if key in ("jobs", "tasks") else s.counts.get(key, 0)
        return [sums[o] for o in sorted(ops)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

