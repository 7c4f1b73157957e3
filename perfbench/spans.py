"""Layer spans recorded from outside the engine.

The tracer replaces public functions and methods of the engine's modules with
wrappers that record a span per call: name, layer, start, end, parent span,
the op it ran in, and the number of Spark jobs started while it was open.
Spans live in memory and are summarized (or dumped) when the run ends; the
originals are put back by ``uninstall``.

Jobs are counted from the scheduler's global job id counter, read at span
entry and exit. That counts jobs started on any thread while the span is open,
including the engine's own worker threads, which a per-thread job group would
miss. Spans on one thread nest; a span's self time and self jobs exclude its
children.

Lazy functions (``decode_axioms``, ``told_tables``, ``derive_relations``,
``assemble_delta``) only build plans: their spans time plan construction, and
the work runs in whichever later span triggers the action.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    op: int | None
    start: float
    jobs_start: int
    parent: Span | None
    end: float = 0.0
    jobs_end: int = 0
    children: list = field(default_factory=list)
    result: object = None

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.jobs_end - self.jobs_start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    @property
    def self_jobs(self) -> int:
        return self.jobs - sum(c.jobs for c in self.children)


class Tracer:
    def __init__(self, job_counter=lambda: 0):
        self.job_counter = job_counter
        self.enabled = False
        self.op: int | None = None
        self.spans: list[Span] = []
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------- recording
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = Span(name, layer, self.op, time.perf_counter(), self.job_counter(), parent)
        if parent is not None:
            parent.children.append(span)
        stack.append(span)
        return span

    def end(self, span: Span | None, result=None) -> None:
        if span is None:
            return
        span.jobs_end = self.job_counter()
        span.end = time.perf_counter()
        span.result = result
        self._stack().pop()
        self.spans.append(span)

    def span(self, name: str, layer: str):
        return _SpanContext(self, name, layer)

    # ------------------------------------------------------------ patching
    def _wrapper(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.begin(name, layer)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                tracer.end(span, result)

        return traced

    def wrap_function(self, module, attr: str, layer: str, name: str | None = None) -> None:
        """Wrap module.attr and every loaded engine module that imported it by
        name (``from module import attr`` binds its own reference)."""
        original = getattr(module, attr)
        traced = self._wrapper(original, name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}", layer)
        for mod in list(sys.modules.values()):
            if (
                mod is not None
                and getattr(mod, "__name__", "").startswith(module.__name__.split(".")[0])
                and getattr(mod, attr, None) is original
            ):
                self._restore.append((mod, attr, original))
                setattr(mod, attr, traced)

    def wrap_method(self, cls, attr: str, layer: str, name: str | None = None) -> None:
        original = cls.__dict__[attr]
        self._restore.append((cls, attr, original))
        setattr(cls, attr, self._wrapper(original, name or f"{cls.__name__}.{attr}", layer))

    def uninstall(self) -> None:
        for target, attr, original in reversed(self._restore):
            setattr(target, attr, original)
        self._restore.clear()

    # ----------------------------------------------------------- summaries
    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def dump(self) -> list[dict]:
        ids = {id(s): i for i, s in enumerate(self.spans)}
        return [
            {
                "name": s.name,
                "layer": s.layer,
                "op": s.op,
                "start": s.start,
                "end": s.end,
                "parent": ids.get(id(s.parent)),
                "jobs": s.jobs,
            }
            for s in self.spans
        ]


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer
        self.span: Span | None = None

    def __enter__(self):
        self.span = self.tracer.begin(self.name, self.layer)
        return self.span

    def __exit__(self, *exc):
        self.tracer.end(self.span)
        return False


def install_engine_spans(tracer: Tracer) -> None:
    """Wrap the engine's public entry points, one layer per module."""
    # by module path: the package re-exports a *function* named materialize
    closure, decode, incremental, materialize, sinks, told_trail, pipeline = (
        importlib.import_module(f"relation_graph_spark.{m}")
        for m in (
            "closure",
            "decode",
            "incremental",
            "materialize",
            "sinks",
            "told_trail",
            "streaming.pipeline",
        )
    )

    for attr in ("decode_axioms", "told_tables"):
        tracer.wrap_function(decode, attr, "decode")
    for attr in ("transitive_closure", "incremental_tc"):
        tracer.wrap_function(closure, attr, "closure", name="closure.tc")
    # which side of the driver-vs-distributed fork a closure call took: a
    # driver helper that returns a frame (not None) served the call
    for attr in ("_driver_tc", "_driver_incremental_tc"):
        tracer.wrap_function(closure, attr, "closure", name="closure.driver")
    for attr in ("materialize", "materialize_edges", "derive_relations", "assemble_output"):
        tracer.wrap_function(materialize, attr, "materialize")
    tracer.wrap_function(incremental, "apply_delta", "incremental")
    tracer.wrap_function(incremental, "initial_state", "incremental")
    tracer.wrap_function(incremental, "incremental_tc", "incremental")
    for attr in ("assemble_delta", "assemble_from_state"):
        tracer.wrap_function(incremental, attr, "incremental", name="incremental.assemble")
    for attr in (
        "save_state_snapshot",
        "save_state_delta",
        "consolidate_state_deltas",
        "repoint_state",
        "expire_state_deltas",
        "gc_state",
        "load_state",
    ):
        tracer.wrap_function(incremental, attr, "persist", name="incremental.persist")
    tracer.wrap_method(told_trail.ToldTrail, "write_batch", "told_trail", name="told_trail.write")
    tracer.wrap_method(told_trail.ToldTrail, "fold_through", "told_trail", name="told_trail.fold")
    for attr in ("append", "append_new_only"):
        tracer.wrap_method(sinks.IdempotentParquetSink, attr, "sinks", name="sinks.append")
    tracer.wrap_method(sinks.IdempotentParquetSink, "maybe_compact", "sinks", name="sinks.compact")
    tracer.wrap_method(pipeline.IncrementalClosureJob, "process_batch", "pipeline", name="pipeline.batch")
