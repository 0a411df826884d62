"""Spans and counters for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side of each layer boundary:
``Tracer.wrap_function`` replaces a layer's public function, in every
loaded ``pyspark_recs`` module that holds it, with a wrapper that opens
a span.
Each span tags the Spark jobs it triggers with its own job group, so
after the run the status store (populated with the UI disabled) maps
every job and stage back to a span. py4j round trips are counted by
wrapping ``send_command`` on both py4j connection classes.

Nothing here runs in an untraced run: the worker creates a ``Tracer``
only when ``--trace 1`` is given.
"""

from __future__ import annotations

import functools
import itertools
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    group: str = ""
    children: list = field(default_factory=list)


def self_time(span: Span, children: list[Span]) -> float:
    """Duration of ``span`` minus the part of its interval covered by
    ``children`` (overlapping children count once, parts outside the
    parent's interval not at all)."""
    return (span.end - span.start) - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Py4jCounter:
    """Counts ``send_command`` calls made by this process while
    installed; calls the tracer makes itself are not counted."""

    def __init__(self):
        self.calls = 0
        self.paused = 0
        self._saved = []

    def install(self):
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *a, _orig=orig, **k):
                if not self.paused:
                    self.calls += 1
                return _orig(conn, command, *a, **k)

            self._saved.append((cls, orig))
            cls.send_command = counted

    def uninstall(self):
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.py4j = Py4jCounter()
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counts: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._patched: list = []

    # -- spans ---------------------------------------------------------
    def _set_group(self, span: Span | None):
        self.py4j.paused += 1
        try:
            if span is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc._jsc.setJobGroup(span.group, span.name, False)
        finally:
            self.py4j.paused -= 1

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str, n: int = 1):
        self.counts[name] = self.counts.get(name, 0) + n

    def inside(self, name: str) -> bool:
        return any(s.name == name for s in self.stack)

    # -- wrapping ------------------------------------------------------
    def wrap_function(self, module, attr: str, span_name: str, around=None):
        """Replace ``module.attr`` (and every alias of the same function
        object in loaded ``pyspark_recs`` modules) by a span wrapper.
        ``around(orig, args, kwargs)`` may replace the call itself."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                if around is not None:
                    return around(orig, args, kwargs)
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if (
                mod is not None
                and getattr(mod, "__name__", "").startswith("pyspark_recs")
                and getattr(mod, attr, None) is orig
            ):
                self._patched.append((mod, attr, orig))
                setattr(mod, attr, wrapper)

    def wrap_method(self, cls, attr: str, span_name: str):
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        self._patched.append((cls, attr, orig))
        setattr(cls, attr, wrapper)

    def start(self):
        self.py4j.install()

    def stop(self):
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()
        self.py4j.uninstall()

    # -- aggregation ---------------------------------------------------
    def outermost(self, names) -> list[Span]:
        """Spans named in ``names`` that have no ancestor named in it."""
        names = set(names)
        by_id = {s.sid: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name not in names:
                continue
            p = s.parent
            while p is not None and by_id[p].name not in names:
                p = by_id[p].parent
            if p is None:
                out.append(s)
        return out

    def total_s(self, name: str) -> float:
        return sum(s.end - s.start for s in self.outermost([name]))

    def subtree_groups(self, span: Span) -> set[str]:
        by_id = {s.sid: s for s in self.spans}
        groups, todo = set(), [span.sid]
        while todo:
            s = by_id[todo.pop()]
            groups.add(s.group)
            todo.extend(s.children)
        return groups

    def jobs_under(self, name: str, jobs_by_group: dict) -> int:
        return sum(
            jobs_by_group.get(g, 0)
            for s in self.outermost([name])
            for g in self.subtree_groups(s)
        )

    def to_json(self) -> list[dict]:
        by_parent: dict = {}
        for s in self.spans:
            by_parent.setdefault(s.parent, []).append(s)
        return [
            {
                "id": s.sid,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": self_time(s, by_parent.get(s.sid, [])),
                "py4j": s.py4j,
                "group": s.group,
            }
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        parent = t.stack[-1] if t.stack else None
        sid = next(t._ids)
        span = Span(sid, self.name, parent.sid if parent else None, 0.0)
        span.group = f"pb-{sid}"
        if parent:
            parent.children.append(sid)
        t.spans.append(span)
        t.stack.append(span)
        t._set_group(span)
        span.py4j = t.py4j.calls
        span.start = time.time()
        self.span = span
        return span

    def __exit__(self, *exc):
        t, span = self.t, self.span
        span.end = time.time()
        span.py4j = t.py4j.calls - span.py4j
        t.stack.pop()
        t._set_group(t.stack[-1] if t.stack else None)
        return False


def spark_jobs(spark, since: float, until: float) -> list[dict]:
    """Jobs submitted in ``[since, until]`` (epoch seconds) from the
    status store: id, group, submit/complete times and stage ids."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    out = []
    it = jobs.iterator()
    while it.hasNext():
        j = it.next()
        sub = j.submissionTime()
        if sub.isEmpty():
            continue
        t_sub = sub.get().getTime() / 1000.0
        if not since <= t_sub <= until:
            continue
        done = j.completionTime()
        grp = j.jobGroup()
        out.append(
            {
                "job": j.jobId(),
                "group": None if grp.isEmpty() else grp.get(),
                "start": t_sub,
                "end": done.get().getTime() / 1000.0 if not done.isEmpty() else until,
                "stages": [int(x) for x in _seq(j.stageIds())],
            }
        )
    return out


def stage_totals(spark, stage_ids: set[int]) -> dict:
    """Executor run/CPU/GC time, shuffle write and spill summed over the
    given stages (all attempts)."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    empty = gw.jvm.java.util.ArrayList()
    stages = store.stageList(empty, False, False, gw.new_array(gw.jvm.double, 0), empty)
    tot = {"run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write_b": 0, "spill_b": 0}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() not in stage_ids:
            continue
        tot["run_ms"] += s.executorRunTime()
        tot["cpu_ns"] += s.executorCpuTime()
        tot["gc_ms"] += s.jvmGcTime()
        tot["shuffle_write_b"] += s.shuffleWriteBytes()
        tot["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return tot


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()
