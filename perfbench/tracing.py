"""In-memory spans, written out when the run ends.

A span is (id, name, start, end, parent, request id); times are
``time.monotonic()`` seconds, the clock the pipeline runner stamps its
``ModelResult``s with, so runner stamps become spans unchanged. Self time
is a span's duration minus the part of it its children cover.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            request: str | None = None, **attrs) -> int:
        with self._lock:
            sid = next(self._ids)
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent,
                               "request": request, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None,
             request: str | None = None, **attrs):
        """Time the body as one span; yields the span id (None when off)."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = next(self._ids)
        start = time.monotonic()
        try:
            yield sid
        finally:
            end = time.monotonic()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start,
                                   "end": end, "parent": parent,
                                   "request": request, **attrs})

    def self_times(self) -> dict[str, float]:
        """Total self time per span name (the name's part before ':')."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["name"].split(":")[0]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra},
                      f, indent=1, default=str)
