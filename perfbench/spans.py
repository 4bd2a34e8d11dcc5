"""In-memory span recorder for the traced run.

A span has a name, start, end, parent and the identifier of the job it
belongs to. Spans stay in memory and are written out once, when the run
ends. With tracing off the recorder hands out a shared no-op context,
so untraced runs pay one attribute lookup per boundary.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict
from pathlib import Path


class Spans:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def _span(self, name: str, job: str | None):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "job": job, "start": time.perf_counter()}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.records.append(rec)

    def span(self, name: str, job: str | None = None):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, job)

    def write(self, path: Path) -> None:
        path.write_text(json.dumps(sorted(self.records, key=lambda r: r["id"])))


def self_times(records: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the
    part of its interval that its direct children cover."""
    children = defaultdict(list)
    for r in records:
        if r["parent"] is not None:
            children[r["parent"]].append(r)
    out: dict[str, float] = defaultdict(float)
    for r in records:
        covered = sum(c["end"] - c["start"] for c in children[r["id"]])
        out[r["name"]] += (r["end"] - r["start"]) - covered
    return dict(out)
