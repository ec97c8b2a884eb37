"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (id, name, start, end, parent, run).  Spans stay in memory while
the benchmark runs and are written out once, at the end.  A disabled
tracer records nothing, so the untraced run pays only a context-manager
call per layer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Iterator


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = 0.0
            hi = s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a = max(a, hi)
                if b > a:
                    covered += b - a
                    hi = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
