"""In-memory spans around the benchmark's calls into the engine's layers.

A span has a name, a layer, start and end (``time.perf_counter``
seconds since the tracer started), the id of the span that was open
when it began (its parent) and a request id shared by every span of one
request. With tracing off ``span`` records nothing. Spans are written
out once, when the run ends, together with each layer's self time: a
span's duration minus the part of it its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "request": request,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter() - self._t0

    def durations(self, name: str) -> list[float]:
        """Seconds of every closed span called ``name``, in order."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Layer → summed self time in seconds. Children of one client
        thread never overlap, so the covered part is the sum of their
        durations."""
        child_sum = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_sum[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - child_sum[s["id"]]
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, f, indent=1)
