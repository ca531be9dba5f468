"""In-memory spans around the calls the benchmark makes into the package.

Spans are recorded from the benchmark's own files: `Tracer.install`
wraps the public entry points (module functions and class methods) for
the lifetime of one traced process, and every span sets the Spark job
description `span=<id> <name>` while it is open, so the event log can
attribute each job to the innermost span that issued it. Nothing inside
`data_juicer_spark/` is edited. Untraced runs never install wrappers.
"""

from __future__ import annotations

import functools
import json
import time

# (module path, attribute, span name, layer). A dotted attribute is a
# class method; layers are named after the package modules.
ENTRY_POINTS = [
    ("data_juicer_spark.session", "get_spark", "get_spark", "session"),
    ("data_juicer_spark.cdc.events", "generate_events", "generate_events",
     "cdc.events"),
    ("data_juicer_spark.cdc.replay", "CdcReplayer.apply_epoch", "apply_epoch",
     "cdc.replay"),
    ("data_juicer_spark.pipeline", "Pipeline.apply", "Pipeline.apply",
     "pipeline"),
    ("data_juicer_spark.lake.table", "SnapshotTable.merge_combined",
     "merge_combined", "lake.table"),
    ("data_juicer_spark.lake.table", "SnapshotTable.read", "read",
     "lake.table"),
    ("data_juicer_spark.lake.table", "SnapshotTable.read_changes",
     "read_changes", "lake.table"),
    ("data_juicer_spark.operators.dedup", "DocumentMinhashDeduplicator.apply",
     "dedup.apply", "operators.dedup"),
    ("data_juicer_spark.operators.dedup",
     "DocumentMinhashDeduplicator.duplicate_pairs", "dedup.duplicate_pairs",
     "operators.dedup"),
    ("data_juicer_spark.operators.dedup", "connected_components",
     "connected_components", "operators.dedup"),
    ("data_juicer_spark.functions.partitioning", "ensure_scan_parallelism",
     "ensure_scan_parallelism", "functions.partitioning"),
]


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    """Span recorder. With enabled=False every method is a cheap no-op
    apart from `phase`, which the benchmark also uses for its own timing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self.guard_events: list = []  # (time, fired) per scan-guard call
        self._stack: list = []

    # -- spans -----------------------------------------------------------

    def _open(self, name: str, layer: str, attrs: dict | None) -> dict:
        span = {"id": len(self.spans) + 1, "name": name, "layer": layer,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "start": time.time(), "end": None, "attrs": attrs or {}}
        self.spans.append(span)
        self._stack.append(span)
        sc = _spark_context()
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        if sc is not None:
            sc.setJobDescription(f"span={span['id']} {name}")
        span["_prev_desc"] = (sc is not None, prev)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()
        had_sc, prev = span.pop("_prev_desc")
        sc = _spark_context()
        if sc is not None:
            # restore the caller's description; a context created inside
            # the span (get_spark) gets the enclosing span's description
            if had_sc:
                sc.setJobDescription(prev)
            elif self._stack:
                sc.setJobDescription(
                    f"span={self._stack[-1]['id']} {self._stack[-1]['name']}")
            else:
                sc.setJobDescription(None)

    def phase(self, name: str, **attrs):
        """Context manager timing one benchmark phase; records a span in
        layer `bench` (and a job description) only when tracing is
        enabled."""
        return _Phase(self, name, attrs)

    # -- wrapping entry points --------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_name, attr, name, layer in ENTRY_POINTS:
            owner = importlib.import_module(mod_name)
            *cls_path, fn_name = attr.split(".")
            for part in cls_path:
                owner = getattr(owner, part)
            orig = getattr(owner, fn_name)
            if fn_name == "ensure_scan_parallelism":
                wrapped = self._wrap_guard(orig)
            else:
                wrapped = self._wrap(orig, name, layer)
            setattr(owner, fn_name, wrapped)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer._open(name, layer, None)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        return wrapper

    def _wrap_guard(self, fn):
        """The scan guard fires when it returns a new (fanned-out) plan."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(df):
            out = fn(df)
            tracer.guard_events.append((time.time(), out is not df))
            return out

        return wrapper

    # -- output -------------------------------------------------------------

    def self_seconds(self) -> dict:
        """Per-layer self time: each span's duration minus the part of
        its interval covered by its child spans, summed per layer."""
        from eventlog import union_ms

        children: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            kids = [(int(c["start"] * 1e6), int(c["end"] * 1e6))
                    for c in children.get(s["id"], []) if c["end"] is not None]
            own = (s["end"] - s["start"]) - union_ms(kids) / 1e6
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "guard_events": self.guard_events}, f)


class _Phase:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.span = None
        self.start = self.end = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def __enter__(self):
        if self.tracer.enabled:
            self.span = self.tracer._open(self.name, "bench", self.attrs)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        if self.span is not None:
            self.tracer._close(self.span)
        return False
