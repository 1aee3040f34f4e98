"""In-memory span tracer for the benchmark.

A span is ``(name, start, end, parent, batch)``: one around each call
the benchmark makes into a layer of the program, plus the action that
materializes its result. Spans stay in a list until the run ends, then
``dump`` writes them out in one file. ``self_times`` subtracts from
each span the part of its interval its children cover.

The untraced run uses ``NullTracer``: same interface, records nothing
and wraps nothing, so the code paths the two runs time are identical
apart from the bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    """``active`` switches recording per batch: a traced run alternates
    recorded and unrecorded batches to measure its own overhead."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.batch: str | None = None
        self.active = True

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "batch": self.batch,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a traced wrapper. The program's
        functions import their collaborators at call time
        (``bulk_load_job`` does), so a wrapper placed on the defining
        module is what they call."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(module, attr, traced)

    def durations(self, name: str, batches: set | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (batches is None or s["batch"] in batches)]

    def self_times(self, intervals: list[tuple[float, float]] | None = None) -> dict[str, float]:
        """Total self time per span name: duration minus the union of
        the child intervals (children of one span never overlap here,
        the benchmark is one client, so the union is a plain sum).
        With ``intervals``, only spans that lie inside one of them."""
        spans = [s for s in self.spans if s["end"] is not None and (
            intervals is None or any(a <= s["start"] and s["end"] <= b for a, b in intervals))]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class NullTracer(Tracer):
    """The untraced run: records nothing and wraps nothing."""

    def __init__(self) -> None:
        super().__init__()
        self.active = False

    def wrap(self, module, attr: str, name: str) -> None:
        pass
