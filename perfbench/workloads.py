"""The benchmark's workloads. Each is a closed loop: one op in flight, each
starting after the previous one committed.

- batch_bulk: repeated one-shot ``materialize()`` of the generated ontology;
  an op is one materialization plus its digest, checked against the golden.
- stream_feedback: an ``IncrementalClosureJob`` whose first
  micro-batch bootstraps the base ontology; each later delta file is staged
  only after the previous batch committed (``maxFilesPerTrigger=1``). An op
  is the interval between consecutive sink commits; each delta's committed
  row count is checked against what its fresh classes entail, and the final
  live sink against a one-shot ``materialize()`` of every staged file.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass
from typing import Callable

import gen
import oracle

# a window runs at least this many ops, however long they take
MIN_WINDOW_OPS = 2
# a stream that has not finished by then has stalled
STREAM_TIMEOUT_S = 150


def _cfg():
    from relation_graph_spark.config import RGConfig

    return RGConfig(output_subclasses=True, reflexive_subclasses=False)


def _overhead(durs: dict[int, float], traced: list[int]) -> float:
    """Median traced op minus median untraced op (same run, alternating)."""
    on = [d for op, d in durs.items() if op in traced]
    off = [d for op, d in durs.items() if op not in traced]
    return statistics.median(on) - statistics.median(off) if on and off else 0.0


def _drop_one(df):
    """A corrupted edge set: the same frame minus one row."""
    return df.exceptAll(df.limit(1))


def run_batch(*, spark, shape, ontology, seed, seconds, work, tracer, trace, warmup, corrupt, golden, setup_start):
    from relation_graph_spark.materialize import materialize

    path = os.path.join(work, "input.parquet")
    rows = gen.base_rows(ontology)
    gen.write_table(gen.rows_table(rows, "base"), path)
    seq = spark.read.parquet(path)
    cfg = _cfg()

    ops: list[tuple[float, float, dict]] = []  # (start, duration, digest)
    traced: list[int] = []
    window_start = None
    setup_s = time.perf_counter() - setup_start
    while True:
        now = time.perf_counter()
        if len(ops) == 1 + warmup:
            window_start = now
        if (
            window_start is not None
            and len(ops) >= 1 + warmup + MIN_WINDOW_OPS
            and now - window_start >= seconds
        ):
            break
        op = len(ops)
        # traced runs trace every other window op, the first one included
        tracer.op = op
        tracer.enabled = trace and window_start is not None and (op - 1 - warmup) % 2 == 0
        if tracer.enabled:
            traced.append(op)
        t = time.perf_counter()
        edges = materialize(seq, cfg)
        if corrupt:
            edges = _drop_one(edges)
        with tracer.span("materialize.output", "materialize"):
            got = oracle.digest_df(edges)
        ops.append((t, time.perf_counter() - t, got))
        tracer.enabled = False

    want = golden("edges") or oracle.closure_digest(ontology)
    window = list(range(1 + warmup, len(ops)))
    last = ops[window[-1]]
    return {
        "setup_s": setup_s,
        "first_op_s": ops[0][1],
        "window_ops": [ops[i][1] for i in window],
        "window_s": last[0] + last[1] - window_start,
        "window_edges": sum(ops[i][2]["edges"] for i in window),
        "attempted": len(ops),
        "failed": sum(got != want for _t, _d, got in ops),
        "traced_ops": traced,
        "op_extra": {op: {"told_rows": len(rows)} for op in traced},
        "trace_overhead_s": _overhead({i: ops[i][1] for i in window}, traced),
        "info": {"golden": want, "input_rows": len(rows), "op_s": [d for _t, d, _g in ops]},
    }


def run_stream(*, spark, shape, ontology, seed, seconds, work, tracer, trace, warmup, corrupt, golden, setup_start):
    from relation_graph_spark.materialize import materialize
    from relation_graph_spark.streaming.pipeline import IncrementalClosureJob

    inp = os.path.join(work, "input")
    os.makedirs(inp)
    told_rows = []

    def stage(index: int) -> None:
        rows = gen.base_rows(ontology) if index == 0 else gen.delta_rows(ontology, seed, index)
        gen.write_table(gen.rows_table(rows, f"d{index}", ts_seconds=index), os.path.join(inp, f"{index:06d}.parquet"))
        told_rows.append(len(rows))

    stage(0)
    job = IncrementalClosureJob(spark, inp, os.path.join(work, "job"), _cfg())
    batches: list[tuple[int, float, float]] = []  # (batch id, entry, commit)
    traced: list[int] = []
    done = threading.Event()
    errors: list[BaseException] = []
    window: dict[str, float] = {}

    def on_batch(df, batch_id):
        try:
            op = len(batches)
            tracer.op = op
            tracer.enabled = trace and "start" in window and (op - 1 - warmup) % 2 == 0
            if tracer.enabled:
                traced.append(op)
            entry = time.perf_counter()
            job.process_batch(df, batch_id)
            commit = time.perf_counter()
            tracer.enabled = False
            batches.append((int(batch_id), entry, commit))
            if op == warmup:
                window["start"] = commit
            if "start" in window and op >= warmup + MIN_WINDOW_OPS and commit - window["start"] >= seconds:
                done.set()
            else:
                stage(op + 1)
        except BaseException as e:
            errors.append(e)
            done.set()
            raise

    setup_s = time.perf_counter() - setup_start
    t_start = time.perf_counter()
    query = (
        job.read_stream(max_files_per_trigger=1)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", job.checkpoint_dir)
        .start()
    )
    try:
        while not done.wait(0.2):
            if not query.isActive:
                break
            if time.perf_counter() - t_start > STREAM_TIMEOUT_S:
                raise TimeoutError(f"stream made no end in {STREAM_TIMEOUT_S} s")
    finally:
        query.stop()
    if errors:
        raise errors[0]
    if not done.is_set():
        raise RuntimeError(f"stream stopped early: {query.exception()}")

    t_check = time.perf_counter()
    manifests = {m["batch_id"]: m for m in job.metrics()}
    want_rows = gen.delta_yield(shape)
    want_boot = golden("bootstrap_rows")
    failed = int(want_boot is not None and manifests[batches[0][0]]["n_rows"] != want_boot)
    failed += sum(
        manifests[b]["n_rows"] != want_rows or manifests[b]["n_tombstones"] != 0
        for b, _e, _c in batches[1:]
    )
    live = job.result_edges().select("s", "p", "o")
    if corrupt:
        live = _drop_one(live)
    got = oracle.digest_df(live)
    want = oracle.digest_df(materialize(spark.read.parquet(inp), _cfg()))
    if got != want:
        failed = len(batches)

    win = range(warmup + 1, len(batches))
    return {
        "setup_s": setup_s,
        "first_op_s": batches[0][2] - t_start,
        "window_ops": [batches[k][2] - batches[k - 1][2] for k in win],
        "window_s": batches[-1][2] - window["start"],
        "window_edges": sum(manifests[batches[k][0]]["n_rows"] for k in win),
        "attempted": len(batches),
        "failed": failed,
        "traced_ops": traced,
        "op_extra": {
            k: {
                "told_rows": told_rows[k],
                "trigger_gap_s": batches[k][1] - batches[k - 1][2],
                "state_bytes": manifests[batches[k][0]].get("state_bytes") or 0,
            }
            for k in traced
        },
        "trace_overhead_s": _overhead(
            {k: batches[k][2] - batches[k - 1][2] for k in win}, traced
        ),
        "info": {
            "batches": len(batches),
            "op_s": [batches[0][2] - t_start] + [batches[k][2] - batches[k - 1][2] for k in range(1, len(batches))],
            "bootstrap_rows": manifests[batches[0][0]]["n_rows"],
            "delta_rows_expected": want_rows,
            "live": got,
            "reference": want,
            "check_s": time.perf_counter() - t_check,
        },
    }


@dataclass(frozen=True)
class Workload:
    shape: gen.Shape
    toy: gen.Shape
    warmup: int  # ops after the first, excluded from the measured window
    runner: Callable


WORKLOADS = {
    "batch_bulk": Workload(
        shape=gen.Shape(n_classes=5000, n_some=20000),
        toy=gen.Shape(n_classes=60, n_some=120, branching=2, hub_levels=2),
        warmup=2,
        runner=run_batch,
    ),
    "stream_feedback": Workload(
        shape=gen.Shape(
            n_classes=6500,
            n_some=600,
            branching=2,
            hub_levels=6,
            hub_some=False,
            def_props=5,
            delta_some=40,
            delta_edits=4,
        ),
        toy=gen.Shape(
            n_classes=60, n_some=120, branching=2, hub_levels=2, def_props=2, delta_some=4, delta_edits=2
        ),
        warmup=1,
        runner=run_stream,
    ),
}
