"""In-memory span recorder for the traced run.

A span is ``(name, start, end, parent, run_id, attrs)``; times are seconds
on the wall clock so they line up with Spark's progress-event timestamps.
Spans are kept in a list and written out once, when the benchmark ends.
When tracing is off, ``span`` still times nothing and records nothing, so
the untraced run pays only a function call per boundary.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from datetime import datetime


class Tracer:
    def __init__(self, enabled: bool, run_id: str | None = None):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self.current(),
            "run_id": self.run_id,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.bookkeeping_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t_out

    def current(self) -> int | None:
        """Id of the innermost open span."""
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int | None:
        """Record a span measured elsewhere (a progress-event phase)."""
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "run_id": self.run_id, "attrs": dict(attrs),
        })
        return sid

    def add_progress(self, progress: list[dict], parent: int | None) -> None:
        """Child spans for each micro-batch of a query and, inside each
        batch, its ``durationMs`` phases laid end to end in execution order
        (Spark reports phase lengths, not their start times)."""
        for p in progress:
            start = iso_seconds(p["timestamp"])
            dur = p["durationMs"]
            bid = self.add(
                "engine.batch", start, start + dur.get("triggerExecution", 0) / 1000.0,
                parent, batch_id=p["batchId"], input_rows=p["numInputRows"],
            )
            t = start
            for phase in PHASES:
                ms = dur.get(phase, 0)
                if ms:
                    self.add(f"engine.{phase}", t, t + ms / 1000.0, bid)
                    t += ms / 1000.0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in children.get(s["id"], [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans, "self_time_s": self.self_times()},
                f, indent=1, default=str,
            )


# Order in which a micro-batch runs its phases.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def iso_seconds(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
