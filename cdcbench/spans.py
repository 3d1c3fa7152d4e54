"""Spans around the engine's public calls, and Spark event-log attribution.

A :class:`Tracer` keeps spans in memory. ``install`` wraps module and
class attributes of the engine so that each call records one span:
name, start, end, parent span and the trigger or cycle id current when it
opened. Spans nest by time on one stack, which holds because the
benchmark is a single client: the foreachBatch callback runs on another
Python thread, but only while the main thread is blocked inside
``run_stream``. ``uninstall`` restores the originals.

Self time is a span's duration minus the union of its children's
intervals. Spark jobs from the event log are attributed to the innermost
span open when the job was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    tag: str | None = None       # trigger / cycle id current at open
    result: object = None        # small scalar the call returned, if any
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of closed intervals."""
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


def self_time(span: Span, spans: dict[int, Span]) -> float:
    """Duration minus the part of it that child spans cover."""
    kids = [
        (max(spans[c].start, span.start), min(spans[c].end, span.end))
        for c in span.children
    ]
    return span.dur - union_length([k for k in kids if k[1] > k[0]])


class Tracer:
    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: dict[int, Span] = {}
        self.stack: list[int] = []
        self.tag: str | None = None
        self._lock = threading.Lock()
        self._installed: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------
    def open(self, name: str) -> Span:
        with self._lock:
            parent = self.stack[-1] if self.stack else None
            sp = Span(len(self.spans), name, self.clock(), parent=parent, tag=self.tag)
            self.spans[sp.id] = sp
            if parent is not None:
                self.spans[parent].children.append(sp.id)
            self.stack.append(sp.id)
            return sp

    def close(self, sp: Span) -> None:
        with self._lock:
            sp.end = self.clock()
            if not self.stack or self.stack[-1] != sp.id:
                raise RuntimeError(f"span {sp.name} closed out of order")
            self.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, name: str, fn, keep_result=None, tag_from=None):
        """``keep_result(out)`` stores a scalar of the call's result on
        the span; ``tag_from(args)`` sets the tag for the call and its
        children."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            outer_tag = self.tag
            if tag_from is not None:
                self.tag = tag_from(args)
            sp = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if keep_result is not None:
                    sp.result = keep_result(out)
                return out
            finally:
                self.close(sp)
                self.tag = outer_tag

        return traced

    # -- installing wrappers on engine attributes ------------------------
    def install(self, owner, attr: str, name: str, keep_result=None, tag_from=None) -> None:
        orig = getattr(owner, attr)
        self._installed.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, keep_result, tag_from))

    def uninstall(self) -> None:
        while self._installed:
            owner, attr, orig = self._installed.pop()
            setattr(owner, attr, orig)

    # -- queries ---------------------------------------------------------
    def named(self, name: str, within: Span | None = None) -> list[Span]:
        out = [s for s in self.spans.values() if s.name == name]
        if within is not None:
            out = [s for s in out if s.start >= within.start and s.end <= within.end]
        return out

    def self_time(self, sp: Span) -> float:
        return self_time(sp, self.spans)

    def innermost_at(self, t: float, within: Span) -> Span | None:
        """The deepest span inside ``within`` that was open at ``t``."""
        if not (within.start <= t <= within.end):
            return None
        cur = within
        while True:
            nxt = next(
                (self.spans[c] for c in cur.children
                 if self.spans[c].start <= t <= self.spans[c].end),
                None,
            )
            if nxt is None:
                return cur
            cur = nxt

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        with open(path, "w") as f:
            for sp in self.spans.values():
                rec = asdict(sp)
                rec.pop("children")
                rec["self"] = self.self_time(sp)
                if not isinstance(rec["result"], (int, float, str, type(None))):
                    rec["result"] = None
                f.write(json.dumps(rec) + "\n")


def install_engine_wrappers(tracer: Tracer) -> None:
    """The engine boundaries the traced run observes: the runner's
    reference to ``apply_batch`` and the lake's public methods."""
    from tartare_spark.lake.table import LakeTable
    import tartare_spark.streaming.runner as runner

    # the runner calls apply_batch(spark, lake, batch_df, batch_id, ...)
    tracer.install(runner, "apply_batch", "apply_batch",
                   keep_result=lambda r: r.get("rows"),
                   tag_from=lambda args: f"trigger-{args[3]}")
    for meth in ("append_delta", "bootstrap_base"):
        tracer.install(LakeTable, meth, meth)
    tracer.install(LakeTable, "compact", "compact", keep_result=lambda n: n)
    for meth in ("read_raw", "lookup", "snapshot", "changes"):
        tracer.install(LakeTable, meth, meth)


def read_event_log(path: str) -> dict:
    """Jobs, stages and task totals from one Spark event-log file."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submitted": ev["Submission Time"] / 1000.0,
                             "stages": list(ev.get("Stage IDs", []))}
                for s in ev.get("Stage IDs", []):
                    stage_job[s] = jid
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                t = tasks.setdefault(jid, {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                                           "shuffle_write": 0, "input": 0})
                t["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                t["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                t["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for jid, j in jobs.items():
        j.update(tasks.get(jid, {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                                 "shuffle_write": 0, "input": 0}))
    return jobs
