"""Spans for the traced run.

``Tracer.span(name)`` records (name, path, start, end, parent) in
memory and tags every Spark job started inside it with
``setJobDescription(path)``, the span names from the top-level span
down (``a > b > c``), so the event-log fold can attribute jobs to
spans. ``install`` replaces the package's public entry points, in the
namespaces where the package looks them up, with span-recording
wrappers; the wrapped functions run unmodified. The untraced run calls
neither.
"""

from __future__ import annotations

import contextlib
import functools
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # set once a SparkContext exists
        self.counts: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        path = f"{self.spans[parent]['path']} > {name}" if parent is not None else name
        rec = {"name": name, "path": path, "start": time.perf_counter(), "end": None,
               "parent": parent}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev = self._describe(path)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(prev)

    def _describe(self, desc):
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(desc)
        return prev

    def add(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` with a span recorder around it."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(module, attr, wrapper)

    def inside(self, rec: dict, prefix: str) -> bool:
        """Whether an ancestor span's name starts with ``prefix``."""
        p = rec["parent"]
        while p is not None:
            if self.spans[p]["name"].startswith(prefix):
                return True
            p = self.spans[p]["parent"]
        return False

    def coverage(self, start: float, end: float) -> float:
        """Share of [start, end] covered by top-level spans."""
        covered = sum(
            min(r["end"], end) - max(r["start"], start)
            for r in self.spans
            if r["parent"] is None and r["end"] is not None
            and r["end"] > start and r["start"] < end
        )
        return covered / (end - start) if end > start else 0.0


def install(tracer: Tracer) -> None:
    """Wrap the package's public functions for the traced run."""
    from b2b_data_pipeline_indiamart_spark import catalog, pipeline, session
    from b2b_data_pipeline_indiamart_spark.operators import caching
    from b2b_data_pipeline_indiamart_spark.streaming import jobs

    tracer.wrap(session, "get_spark", "session.get_spark")
    for attr in ("load", "load_parallel", "load_dim"):
        tracer.wrap(catalog, attr, f"catalog.{attr}")
    tracer.wrap(caching, "release_cached", "operators.caching.release_cached")
    tracer.wrap(pipeline, "read_csv_normalized", "sources.read_csv")
    tracer.wrap(pipeline, "write_csv", "sources.write_csv")

    tracer.wrap(
        pipeline, "write_sqlite", "sources.write_sqlite",
        on_result=lambda rows: tracer.add("sources.write_sqlite_rows", rows),
    )
    tracer.wrap(pipeline, "fix_types_and_features", "pipeline.fix_types")
    tracer.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap(pipeline, "analyze", "pipeline.analyze")
    tracer.wrap(jobs, "start_neardup_suppress_sink", "streaming.start_neardup_suppress_sink")
