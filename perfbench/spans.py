"""Spans around calls into the package's modules, and the Spark event log.

The benchmark never edits the package: in a traced run it replaces public
functions in the module namespaces the pipeline calls through with
wrappers that record one span per call. Each wrapper also sets a Spark
local property naming its span, so every job submitted inside the call
carries the span id into the event log, and its stages' task metrics can
be charged to the span.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans in memory. ``sc`` is the SparkContext whose local
    properties carry the innermost open span to the jobs it starts; it is
    None in an untraced run, where the tracer records nothing."""

    sc: object | None
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    op: str | None = None

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def open(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self.stack[-1].id if self.stack else None
        sp = Span(len(self.spans), name, layer, parent, self.op, time.perf_counter())
        self.spans.append(sp)
        self.stack.append(sp)
        self._label(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        self.stack.pop()
        self._label(self.stack[-1] if self.stack else None)

    def _label(self, sp: Span | None) -> None:
        self.sc.setLocalProperty(SPAN_PROPERTY, None if sp is None else str(sp.id))
        self.sc.setJobDescription(None if sp is None else f"{sp.layer}:{sp.name}")

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = self.open(name, layer)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, module, attr: str, layer: str, label: Callable | None = None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper. ``label``
        maps the call's arguments to a span-name suffix."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            name = attr if label is None else f"{attr}:{label(*args, **kwargs)}"
            sp = self.open(name, layer)
            try:
                return orig(*args, **kwargs)
            finally:
                self.close(sp)

        setattr(module, attr, wrapper)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its direct children cover. Children
    of one span run one after another (one driver thread), so their
    durations add."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

EXEC_KEYS = ("task_s", "jvm_cpu_s", "gc_s", "deser_s", "input_bytes", "shuffle_bytes",
             "output_bytes", "tasks", "jobs")


def _zero() -> dict[str, float]:
    return {k: 0.0 for k in EXEC_KEYS}


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            yield from fh


def read_event_log(paths: list[str]) -> dict[int | None, dict[str, float]]:
    """Sum task metrics per span id (None: jobs started outside any span).
    Parses the uncompressed JSON-lines files, in order, that Spark writes
    with ``spark.eventLog.compress=false``."""
    stage_span: dict[int, int | None] = {}
    out: dict[int | None, dict[str, float]] = defaultdict(_zero)
    for line in _events(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            prop = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            span = int(prop) if prop is not None else None
            out[span]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, span)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            acc = out[stage_span.get(ev["Stage ID"])]
            acc["tasks"] += 1
            acc["task_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            acc["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            acc["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            acc["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
    return dict(out)


def python_udf_seconds(spark) -> float:
    """Total time the perf UDF profiler has recorded so far, over all UDFs
    (``spark.sql.pyspark.udf.profiler=perf``)."""
    stats = spark.profile.profiler_collector._perf_profile_results
    return float(sum(s.total_tt for s in stats.values()))
