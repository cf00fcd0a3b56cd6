"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's own files: wrappers are patched
onto the program's public functions at the names their callers look up,
and the workloads open spans around their own calls.  The program's code
is never edited.  Spans are kept in memory and written out when the run
ends.

One stack is shared by all threads: Structured Streaming calls the
``foreachBatch`` function on a py4j callback thread while the driver
thread blocks in ``awaitTermination``, so the tracker spans of a batch
nest under the drain span that waits for them.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.request = ""
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        with self._lock:
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                Span(name, time.perf_counter(), 0.0, parent,
                     request if request is not None else self.request)
            )
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx].end = time.perf_counter()
                self._stack.remove(idx)

    def patch(self, owner: object, attr: str, name: str, request_of=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a ``name``
        span per call.  ``request_of(*args, **kwargs)`` may name the
        request the call serves."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            req = request_of(*args, **kwargs) if request_of else None
            with self.span(name, req):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summaries -------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def p50(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def self_time(self, name: str) -> float:
        """Summed self time of every ``name`` span: its duration minus the
        time its child spans cover (children never overlap, because one
        stack is shared)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return sum(
            s.end - s.start - child[i]
            for i, s in enumerate(self.spans)
            if s.name == name
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
