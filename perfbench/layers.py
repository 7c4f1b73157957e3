"""Per-layer figures of one op, from the spans the tracer recorded in it.

``*_s`` figures of a named span are wall time with nested calls of the same
name counted once; ``self_s`` figures subtract every nested traced span.
``*_jobs`` / ``.jobs`` count Spark jobs started while the span was open,
nested spans included, except ``materialize.jobs`` and
``incremental.apply_delta_jobs``, which are self jobs like their self times.
"""

from __future__ import annotations

from spans import Span

# name -> unit, in the order BENCHMARK.json lists them
LAYER_UNITS = {
    "session.start_s": "s",
    "decode.plan_s": "s",
    "decode.told_rows": "count",
    "closure.tc_calls": "count",
    "closure.tc_s": "s",
    "closure.tc_jobs": "count",
    "closure.driver_calls": "count",
    "closure.distributed_calls": "count",
    "materialize.self_s": "s",
    "materialize.jobs": "count",
    "incremental.apply_delta_self_s": "s",
    "incremental.apply_delta_jobs": "count",
    "incremental.feedback_tc_calls": "count",
    "incremental.assemble_s": "s",
    "incremental.persist_s": "s",
    "incremental.persist_jobs": "count",
    "incremental.state_bytes": "bytes",
    "told_trail.write_s": "s",
    "told_trail.fold_s": "s",
    "told_trail.jobs": "count",
    "sinks.append_s": "s",
    "sinks.append_jobs": "count",
    "sinks.compact_s": "s",
    "sinks.rows_added": "count",
    "sinks.rows_tombstoned": "count",
    "sinks.compact_conflicts": "count",
    "pipeline.batch_s": "s",
    "pipeline.self_s": "s",
    "pipeline.jobs": "count",
    "pipeline.trigger_gap_s": "s",
    "trace.overhead_s": "s",
}


def _outer(spans: list[Span], name: str | None = None, layer: str | None = None) -> list[Span]:
    """Spans with this name (or layer) not nested in another such span."""

    def match(s: Span) -> bool:
        return s.name == name if name is not None else s.layer == layer

    def nested(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if match(p):
                return True
            p = p.parent
        return False

    return [s for s in spans if match(s) and not nested(s)]


def op_figures(spans: list[Span], extra: dict) -> dict:
    def total(name: str, attr: str = "dur") -> float:
        return sum(getattr(s, attr) for s in _outer(spans, name))

    tc = _outer(spans, "closure.tc")
    driver = sum(
        1
        for s in tc
        if any(c.name == "closure.driver" and c.result is not None for c in s.children)
    )
    mat = [s for s in spans if s.layer == "materialize"]
    deltas = [s for s in spans if s.name == "incremental.apply_delta"]
    appends = _outer(spans, "sinks.append")
    compacts = _outer(spans, "sinks.compact")
    trail = _outer(spans, layer="told_trail")
    return {
        "decode.plan_s": sum(s.dur for s in _outer(spans, layer="decode")),
        "decode.told_rows": extra.get("told_rows", 0),
        "closure.tc_calls": len(tc),
        "closure.tc_s": sum(s.dur for s in tc),
        "closure.tc_jobs": sum(s.jobs for s in tc),
        "closure.driver_calls": driver,
        "closure.distributed_calls": len(tc) - driver,
        "materialize.self_s": sum(s.self_s for s in mat),
        "materialize.jobs": sum(s.self_jobs for s in mat),
        "incremental.apply_delta_self_s": sum(s.self_s for s in deltas),
        "incremental.apply_delta_jobs": sum(s.self_jobs for s in deltas),
        "incremental.feedback_tc_calls": sum(
            max(0, sum(c.name == "incremental.incremental_tc" for c in s.children) - 1)
            for s in deltas
        ),
        "incremental.assemble_s": total("incremental.assemble"),
        "incremental.persist_s": total("incremental.persist"),
        "incremental.persist_jobs": total("incremental.persist", "jobs"),
        "incremental.state_bytes": extra.get("state_bytes", 0),
        "told_trail.write_s": total("told_trail.write"),
        "told_trail.fold_s": total("told_trail.fold"),
        "told_trail.jobs": sum(s.jobs for s in trail),
        "sinks.append_s": sum(s.dur for s in appends),
        "sinks.append_jobs": sum(s.jobs for s in appends),
        "sinks.compact_s": sum(s.dur for s in compacts),
        "sinks.rows_added": sum((s.result or {}).get("n_rows", 0) for s in appends),
        "sinks.rows_tombstoned": sum((s.result or {}).get("n_tombstones", 0) for s in appends),
        "sinks.compact_conflicts": sum(
            sum(str(a).startswith("conflict") for a in (s.result or [])) for s in compacts
        ),
        "pipeline.batch_s": total("pipeline.batch"),
        "pipeline.self_s": sum(s.self_s for s in spans if s.name == "pipeline.batch"),
        "pipeline.jobs": total("pipeline.batch", "jobs"),
        "pipeline.trigger_gap_s": extra.get("trigger_gap_s", 0.0),
    }
