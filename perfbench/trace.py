"""In-memory spans recorded from the benchmark's side of each layer call.

A span has a name (``<module>.<function>``), start and end on the
``perf_counter`` clock, the id of the span that caused it and the id of
the trace (one timed job or one layer probe) it belongs to.  Spans stay
in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

__all__ = ["Tracer", "instrument_job"]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self._stack:            # a top-level span starts a trace
            self._trace += 1
        rec = {"trace": self._trace, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def self_times(self) -> dict[str, float]:
        """name -> summed self time: a span's duration minus the time its
        direct children cover (children run serially on this thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f,
                      indent=1)


@contextlib.contextmanager
def instrument_job(tracer: Tracer):
    """Wrap the layer entry points ``run_extraction_job`` calls with
    spans for the duration of the block, and restore them afterwards."""
    from ocr_spark.plans import pipeline
    from ocr_spark.sources import catalog

    targets = [
        (pipeline, "run_extraction_job", "plans.pipeline.run_extraction_job"),
        (pipeline, "prepare_pages", "plans.pipeline.prepare_pages"),
        (pipeline, "probe_skew", "plans.pipeline.probe_skew"),
        (pipeline, "with_salt", "plans.pipeline.with_salt"),
        (pipeline, "extract_pages", "operators.extract.extract_pages"),
        (catalog.Catalog, "committed_buckets",
         "sources.catalog.committed_buckets"),
        (catalog.Catalog, "commit_buckets", "sources.catalog.commit_buckets"),
        (catalog.Table, "overwrite_partitions",
         "sources.catalog.overwrite_partitions"),
        (catalog.Table, "append_rows", "sources.catalog.append_rows"),
        (catalog.Table, "read", "sources.catalog.read"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, name in targets:
            setattr(owner, attr, tracer.wrap(name, getattr(owner, attr)))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
