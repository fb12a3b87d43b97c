"""In-memory spans around the benchmark's calls into the program's
layers, written out once when the run ends.

A span records (name, start, end, parent, run id).  A layer's self time
is its span's duration minus the time covered by its child spans.  With
tracing off, :meth:`Tracer.span` records nothing."""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Summed self time (s) per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def overhead_s(self, probes: int = 2000) -> float:
        """Wall time the recorded spans added to the run: the measured
        cost of one span times the number recorded."""
        probe = Tracer(self.run_id, True)
        t0 = time.perf_counter()
        for _ in range(probes):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / probes * len(self.spans)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
