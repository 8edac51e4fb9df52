"""In-memory span tree of one benchmark run.

Spans are opened around the benchmark's calls into the engine (set-up
steps, passes, the operator call and the sink).  Each span's id is set
as the SparkContext job description while it is open, so the Spark jobs
it fires can be attached to it from the event log (``eventlog.py``).
Nothing is written until the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: str
    kind: str
    parent: str | None
    start: float  # epoch seconds, comparable with Spark's event times
    end: float = 0.0
    duration: float = 0.0  # monotonic-clock seconds


def _job_description(desc: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setJobDescription(desc)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, kind: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(f"{kind}#{len(self.spans)}", kind, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        _job_description(sp.id)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.duration = time.perf_counter() - t0
            sp.end = time.time()
            self._stack.pop()
            _job_description(parent)

    def subtree(self, roots: set[str]) -> list[Span]:
        """The spans in ``roots`` and all their descendants."""
        keep = set(roots)
        for sp in self.spans:  # parents always precede children
            if sp.parent in keep:
                keep.add(sp.id)
        return [sp for sp in self.spans if sp.id in keep]

    def as_dicts(self) -> list[dict]:
        return [
            {"id": s.id, "kind": s.kind, "parent": s.parent, "start": s.start, "end": s.end}
            for s in self.spans
        ]


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


SETUP_KINDS = ("setup", "session", "load", "prep")
PASS_KINDS = ("pass", "operator", "sink", "job", "stage")


def self_times(spans: list[dict], passes: set[str]) -> dict[str, float]:
    """Self time (duration minus the part its children cover) per span
    kind: run and the last set-up's steps once each, the pass-level
    kinds summed over the given passes and divided by their number."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def own(s: dict) -> float:
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        return (s["end"] - s["start"]) - _covered(s["start"], s["end"], kids)

    out = {f"span.{k}.self_s": 0.0 for k in ("run", *SETUP_KINDS, *PASS_KINDS)}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["kind"] == "run":
            out["span.run.self_s"] = own(s)
    setups = [s for s in spans if s["kind"] == "setup"]
    if setups:
        for s in _walk(setups[-1], children):
            if s["kind"] in SETUP_KINDS:
                out[f"span.{s['kind']}.self_s"] += own(s)
    for pid in passes:
        for s in _walk(by_id[pid], children):
            if s["kind"] in PASS_KINDS:
                out[f"span.{s['kind']}.self_s"] += own(s) / len(passes)
    return out


def _walk(root: dict, children: dict[str, list[dict]]):
    stack = [root]
    while stack:
        s = stack.pop()
        yield s
        stack.extend(children.get(s["id"], []))
