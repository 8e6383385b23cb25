"""In-memory spans for the traced run.

Spans are recorded around the benchmark's own calls into each layer
and, for the engine's standing queries, rebuilt from the
``StreamingQueryProgress`` reports read through ``spark.streams``: one
span per micro-batch (its ``triggerExecution``) with the other
``durationMs`` phases laid out as its children. All spans of one run
share a run id and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
import uuid
from datetime import datetime, timezone

from stats import Span

# Phase order inside one trigger; triggerExecution is the parent span
# and is never added to its own phases.
PHASES = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "walCommit",
    "addBatch",
    "commitOffsets",
)
FRAMEWORK_PHASES = tuple(p for p in PHASES if p != "addBatch")


class Tracer:
    """Collects spans when ``enabled``; every method is a no-op otherwise,
    so the untraced run pays one attribute check per call site."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.cost_s = 0.0  # time spent inside the tracer itself

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        par = parent if parent is not None else self.current()
        self._stack().append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            self._stack().pop()
            self.add(Span(sid, par, name, start, end, attrs))

    def add(self, span: Span) -> None:
        t0 = time.perf_counter()
        with self._lock:
            self.spans.append(span)
        self.cost_s += time.perf_counter() - t0

    def add_progress(self, role: str, progress: list[dict], parent: int | None):
        """One span per micro-batch of a standing query, phases as
        children laid end to end from the trigger start."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        for p in progress:
            dur = p.get("durationMs") or {}
            total = dur.get("triggerExecution")
            if total is None:
                continue
            start = _epoch(p["timestamp"])
            sid = next(self._ids)
            spans = [
                Span(
                    sid,
                    parent,
                    f"batch.{role}",
                    start,
                    start + total / 1000.0,
                    {"batch_id": p.get("batchId"),
                     "rows": p.get("numInputRows", 0)},
                )
            ]
            at = start
            for ph in PHASES:
                ms = dur.get(ph)
                if not ms:
                    continue
                spans.append(
                    Span(next(self._ids), sid, f"phase.{ph}", at,
                         at + ms / 1000.0)
                )
                at += ms / 1000.0
            with self._lock:
                self.spans.extend(spans)
        self.cost_s += time.perf_counter() - t0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "span_id": s.span_id,
                            "parent_id": s.parent_id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )


def _epoch(ts: str) -> float:
    """StreamingQueryProgress timestamps are UTC ISO-8601 with 'Z'."""
    dt = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()
