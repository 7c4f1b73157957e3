"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_bulk --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Every input is generated from the seed into
``.bench_work/`` and every Spark scratch file goes there too; the directory is
removed when the run ends. See perfbench/README.md for the workloads, the
metrics and what the numbers depend on.

The last line of standard output is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it is an ``info`` object with the pinned
settings, sample counts and output digests.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer, install_engine_spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NPROC = min(4, os.cpu_count() or 1)
DRIVER_HEAP = "2g"
GOLDENS = os.path.join(HERE, "goldens.json")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy-size inputs (smoke test)")
    ap.add_argument("--corrupt", action="store_true", help="drop one output edge before checking (smoke test)")
    ap.add_argument("--spans", help="write the traced run's spans to this JSON file")
    return ap.parse_args(argv)


def _import_engine():
    """The engine must come from this checkout, never from anywhere else."""
    sys.path.insert(0, ROOT)
    try:
        import relation_graph_spark
    except ImportError as e:
        sys.exit(f"perfbench: the engine is not importable from {ROOT}: {e}")
    where = os.path.dirname(os.path.abspath(relation_graph_spark.__file__))
    if os.path.dirname(where) != ROOT:
        sys.exit(f"perfbench: imported the engine from {where}, not from {ROOT}")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _jvm_pid(spark) -> int:
    """The driver JVM: the gateway process (spark-submit execs into java)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as fh:
        comm = fh.read().strip()
    if comm != "java":
        raise RuntimeError(f"gateway pid {pid} is {comm!r}, not the JVM")
    return pid


def _start_spark(work: str):
    from relation_graph_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # SPARK_LOCAL_DIRS overrides spark.local.dir; pin both to the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local
    return get_spark(
        "perfbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's peak RSS is then the heap
            # pin plus its non-heap peak, not an artifact of G1's adaptive
            # heap sizing (which moved VmHWM by 20-28% between runs)
            # -UsePerfData: no hsperfdata file under /tmp, outside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData"
            ),
        },
    )


def _recorded_golden(workload: str, key: str, seed: int):
    if not os.path.exists(GOLDENS):
        return None
    with open(GOLDENS) as fh:
        return json.load(fh).get(workload, {}).get(key, {}).get(str(seed))


def main(argv=None) -> int:
    args = _args(argv)
    _import_engine()
    spec = WORKLOADS[args.workload]
    shape = spec.toy if args.toy else spec.shape
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    try:
        return _run(args, spec, shape, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stop the session, then the driver JVM itself, and wait for it: the
    gateway JVM exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, spec, shape, work) -> int:
    t0 = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - t0
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    tracer = Tracer(job_counter=dag.nextJobId)
    try:
        if args.trace:
            install_engine_spans(tracer)
        ontology = gen.generate(shape, args.seed)
        run = spec.runner(
            spark=spark,
            shape=shape,
            ontology=ontology,
            seed=args.seed,
            seconds=args.seconds,
            work=work,
            tracer=tracer,
            trace=bool(args.trace),
            warmup=spec.warmup,
            corrupt=args.corrupt,
            # goldens are recorded for the full-size shapes only
            golden=lambda key: None if args.toy else _recorded_golden(args.workload, key, args.seed),
            setup_start=T_PROCESS,
        )
        jvm_mb = _vm_hwm_mb(_jvm_pid(spark))
    finally:
        tracer.uninstall()
        _stop_spark(spark)
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    ops = run["window_ops"]
    failed = run["failed"]
    attempted = run["attempted"]
    info = {
        "info": {
            "workload": args.workload,
            "seed": args.seed,
            "toy": args.toy,
            "master": f"local[{NPROC}]",
            "shuffle_partitions": NPROC,
            "driver_heap": DRIVER_HEAP,
            "spill_dir": ".bench_work/<run>/spark-local",
            "warmup_ops_excluded": spec.warmup,
            "op_samples": len(ops),
            "window_s": run["window_s"],
            "session_start_s": session_s,
            **run["info"],
        }
    }
    if args.trace:
        metrics = _layer_metrics(tracer, run, session_s)
        if args.spans:
            with open(args.spans, "w") as fh:
                json.dump(tracer.dump(), fh)
    else:
        metrics = {
            "setup_s": (run["setup_s"], "s"),
            "first_op_s": (run["first_op_s"], "s"),
            "op_p50_s": (statistics.median(ops), "s"),
            "edges_per_s": (run["window_edges"] / run["window_s"], "1/s"),
            "jvm_peak_rss_mb": (jvm_mb, "MB"),
            "py_peak_rss_mb": (py_mb, "MB"),
            "ok_rate": (1.0 - failed / attempted, "ratio"),
        }
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _layer_metrics(tracer: Tracer, run: dict, session_s: float) -> dict:
    from layers import LAYER_UNITS, op_figures

    traced = run["traced_ops"]
    per_op = [op_figures(tracer.op_spans(op), run["op_extra"][op]) for op in traced]
    out = {"session.start_s": (session_s, "s")}
    for name, unit in LAYER_UNITS.items():
        if name in ("session.start_s", "trace.overhead_s"):
            continue
        vals = [fig[name] for fig in per_op]
        out[name] = (statistics.median(vals) if vals else 0.0, unit)
    out["trace.overhead_s"] = (run["trace_overhead_s"], "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
