"""Spans, self time and Spark event-log counters, measured from outside
the package.

A span is recorded around each call the benchmark makes into a layer of
the package (name, start, end, parent, request id). Spans stay in memory
and are written once at the end of the run. In a traced run each span
also sets one Spark job group (``SparkContext.setJobGroup``), and the
session writes an uncompressed, non-rolling event log; after the session
stops, :func:`parse_event_log` attributes every completed stage to the
span whose job group submitted it. Only public configuration is used.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    req: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans; with ``sc`` set, tags Spark jobs with the span id."""

    def __init__(self, sc=None):
        self.spans: list[Span] = []
        self._sc = sc
        self._stack: list[tuple[int, str | None]] = []
        self._next = 0

    @property
    def traced(self) -> bool:
        return self._sc is not None

    @contextmanager
    def span(self, name: str, req: str | None = None):
        self._next += 1
        sid = self._next
        parent, parent_req = self._stack[-1] if self._stack else (None, None)
        req = req if req is not None else parent_req
        self._stack.append((sid, req))
        if self._sc is not None:
            self._sc.setJobGroup(f"span-{sid}", name, False)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            if self._sc is not None:
                if parent is None:
                    self._sc.setJobGroup("span-0", "unattributed", False)
                else:
                    self._sc.setJobGroup(f"span-{parent}", "", False)
            self.spans.append(Span(sid, name, t0, t1, parent, req))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.sid):
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → self time in ms: the span's duration minus the part of
    its interval that its children cover (overlapping children counted
    once, children clipped to the parent)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start - covered) * 1000.0
    return out


def ancestors(spans: list[Span]) -> dict[int, list[int]]:
    """Span id → [itself, parent, grandparent, ...]."""
    parent = {s.sid: s.parent for s in spans}
    out = {}
    for sid in parent:
        chain, cur = [], sid
        while cur is not None:
            chain.append(cur)
            cur = parent.get(cur)
        out[sid] = chain
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "run_ms", "shuffle_bytes", "spill_bytes",
    "python_bytes", "records_read", "text_records_read",
)

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "internal.metrics.input.recordsRead": "records_read",
}


def _num(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def parse_event_log(path: str) -> dict[int, dict[str, int]]:
    """Span id → counters over the completed stages its jobs ran.

    Stages are attributed through ``spark.jobGroup.id`` of the first job
    that lists them; jobs outside any span land on span 0. Per stage:
    task count, executor run time, shuffle bytes written, bytes spilled
    (memory + disk), bytes exchanged with Python workers, records read,
    and records read by text-file scans (the stream's input); per span,
    the number of jobs it submitted."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict[str, int]] = {}
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                sid = int(group[5:]) if group.startswith("span-") else 0
                out.setdefault(sid, dict.fromkeys(STAGE_FIELDS, 0))["jobs"] += 1
                for st in ev.get("Stage IDs", []):
                    stage_span.setdefault(st, sid)
            elif '"SparkListenerStageCompleted"' in line:
                info = json.loads(line)["Stage Info"]
                sid = stage_span.get(info["Stage ID"], 0)
                c = out.setdefault(sid, dict.fromkeys(STAGE_FIELDS, 0))
                c["stages"] += 1
                c["tasks"] += _num(info.get("Number of Tasks"))
                for acc in info.get("Accumulables", []):
                    key = _ACC.get(acc.get("Name"))
                    if key:
                        c[key] += _num(acc.get("Value"))
                scans_text = any(
                    "Scan text" in (r.get("Scope") or "")
                    for r in info.get("RDD Info", [])
                )
                if scans_text:
                    c["text_records_read"] += sum(
                        _num(a.get("Value")) for a in info.get("Accumulables", [])
                        if a.get("Name") == "internal.metrics.input.recordsRead"
                    )
    return out


def find_event_log(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    return files[0]


def layer_counters(
    spans: list[Span], by_span: dict[int, dict[str, int]]
) -> dict[str, dict[str, float]]:
    """Span name → inclusive counters (a span's own stages plus its
    descendants'), summed over every span of that name, plus ``ms``
    (total duration), ``self_ms`` and ``calls``."""
    anc = ancestors(spans)
    selfs = self_times(spans)
    names = {s.sid: s.name for s in spans}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        d = out.setdefault(
            s.name, {"ms": 0.0, "self_ms": 0.0, "calls": 0, **dict.fromkeys(STAGE_FIELDS, 0)}
        )
        d["ms"] += s.ms
        d["self_ms"] += selfs[s.sid]
        d["calls"] += 1
    for sid, counters in by_span.items():
        seen = set()
        for a in anc.get(sid, []):
            name = names[a]
            if name in seen:  # a name counts each stage once
                continue
            seen.add(name)
            for k, v in counters.items():
                out[name][k] += v
    return out
