"""In-memory span recorder for the benchmark's traced runs.

Spans are recorded around calls into the engine's layers from the
benchmark's own code (the engine itself is not instrumented).  Each span
keeps (name, start, end, parent); a layer's self time is its span's
duration minus the time its direct child spans cover.  When the tracer is
disabled, ``span`` returns a shared no-op context so untraced runs pay one
attribute test per call.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._null = contextlib.nullcontext()

    def span(self, name: str):
        if not self.enabled:
            return self._null
        return self._record(name)

    @contextlib.contextmanager
    def _record(self, name: str):
        parent: Optional[int] = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, since: int = 0) -> Dict[str, float]:
        """Total self time per span name over the spans recorded at or
        after index ``since``, in seconds."""
        child_time: Dict[int, float] = defaultdict(float)
        for s in self.spans[since:]:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, float] = defaultdict(float)
        for s in self.spans[since:]:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)

    def total(self, name: str, since: int = 0) -> float:
        """Summed duration of the spans called ``name`` recorded at or
        after index ``since``, in seconds."""
        return sum(s["end"] - s["start"] for s in self.spans[since:]
                   if s["name"] == name)

    def count(self, name: str, since: int = 0) -> int:
        return sum(1 for s in self.spans[since:] if s["name"] == name)

    def dump(self, fh) -> None:
        """Write every span as one JSON object per line."""
        for s in self.spans:
            fh.write(json.dumps(s) + "\n")
