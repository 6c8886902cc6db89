"""Span recorder for the traced run, and the fold of Spark's event log
into per-span task metrics.

Spans are recorded from the benchmark's own code, around calls into each
layer's public functions (installed by `Tracer.wrap`, removed by
`Tracer.unpatch`). A span carries a name, start, end, parent and trace
id (the micro-batch id). While a span is open, its id is set as the
Spark local property `perfbench.span`, so the jobs it submits carry it
in the event log; jobs without the tag fall back to attribution by
submission time.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    trace: int | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self.trace_id: int | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        s = Span(len(self.spans), name, st[-1].id if st else None,
                 self.trace_id, time.time(), attrs=dict(attrs))
        self.spans.append(s)
        st.append(s)
        sc = self.spark.sparkContext
        sc.setLocalProperty(SPAN_PROP, str(s.id))
        try:
            yield s
        finally:
            s.t1 = time.time()
            st.pop()
            sc.setLocalProperty(SPAN_PROP, str(st[-1].id) if st else None)

    def add(self, name: str, parent: Span, t0: float, t1: float, **attrs) -> None:
        """A child span from timings the program recorded itself."""
        self.spans.append(
            Span(len(self.spans), name, parent.id, parent.trace, t0, t1, attrs)
        )

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace `owner.attr` with a spanned call; `on_result(span,
        args, kwargs, result)` may record counts on the span."""
        orig = getattr(owner, attr)
        tracer = self

        def spanned(*args, **kwargs):
            with tracer.span(name) as s:
                res = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, res)
                return res

        self.replace(owner, attr, spanned)

    def replace(self, owner, attr: str, fn) -> None:
        """Set `owner.attr = fn` until `unpatch`."""
        self._undo.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, fn)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(owner, attr)  # was inherited (an instance's method)
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # -- analysis -----------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_ms(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Span duration minus the part its children's intervals cover."""
        iv = sorted(
            (max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids.get(s.id, [])
        )
        covered, end = 0.0, s.t0
        for a, b in iv:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return (s.t1 - s.t0 - covered) * 1000.0


TASK_FIELDS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "tasks")


def read_event_log(log_dir: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """(jobs, task totals per job) from the one event log file in
    `log_dir`: jobs[id] = {"t": submission s, "span": tag or None}."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {names}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    per_job: dict[int, dict] = {}
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                tag = (e.get("Properties") or {}).get(SPAN_PROP)
                jobs[e["Job ID"]] = {
                    "t": e["Submission Time"] / 1000.0,
                    "span": int(tag) if tag not in (None, "") else None,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                j = stage_job.get(e["Stage ID"])
                if j is None:
                    continue
                acc = per_job.setdefault(j, dict.fromkeys(TASK_FIELDS, 0.0))
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                acc["run_ms"] += m.get("Executor Run Time", 0)
                acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["shuffle_read_bytes"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                )
                acc["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                acc["tasks"] += 1
    return jobs, per_job


def fold(tracer: Tracer, jobs: dict[int, dict], per_job: dict[int, dict]) -> dict[int, dict]:
    """Task totals per span, inclusive of descendants. Each job goes to
    the innermost span containing its submission time, searched inside
    the span its tag names (or among all spans when untagged)."""
    kids = tracer.children()
    by_id = {s.id: s for s in tracer.spans}
    roots = [s for s in tracer.spans if s.parent is None]

    def innermost(cands: list[Span], t: float) -> Span | None:
        for s in cands:
            if s.t0 <= t <= s.t1:
                return innermost(kids.get(s.id, []), t) or s
        return None

    incl: dict[int, dict] = {}
    for jid, j in jobs.items():
        tag = by_id.get(j["span"]) if j["span"] is not None else None
        s = (innermost(kids.get(tag.id, []), j["t"]) or tag) if tag else innermost(roots, j["t"])
        tot = per_job.get(jid)
        while s is not None and tot is not None:
            acc = incl.setdefault(s.id, dict.fromkeys(TASK_FIELDS, 0.0))
            for k in TASK_FIELDS:
                acc[k] += tot[k]
            s = by_id.get(s.parent) if s.parent is not None else None
    return incl
