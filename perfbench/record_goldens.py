"""Record per-seed output counts into goldens.json.

    python3 perfbench/record_goldens.py 1 2 3

batch_bulk: the full edge digest, from the NumPy reference (oracle.py).
stream_feedback: the bootstrap batch's committed row count,
i.e. a one-shot materialize() of the generated base ontology.
Runs use these when the seed is recorded; other seeds fall back to the
reference closure (batch) or skip the bootstrap-only check (stream).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, _cfg  # noqa: E402


def main(seeds: list[int]) -> None:
    run._import_engine()
    from relation_graph_spark.materialize import materialize

    goldens = {}
    if os.path.exists(run.GOLDENS):
        with open(run.GOLDENS) as fh:
            goldens = json.load(fh)
    work = os.path.join(run.ROOT, ".bench_work", "record-goldens")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = run._start_spark(work)
    try:
        for seed in seeds:
            o = gen.generate(WORKLOADS["batch_bulk"].shape, seed)
            goldens.setdefault("batch_bulk", {}).setdefault("edges", {})[str(seed)] = oracle.closure_digest(o)
            o = gen.generate(WORKLOADS["stream_feedback"].shape, seed)
            path = os.path.join(work, f"stream_feedback-{seed}.parquet")
            gen.write_table(gen.rows_table(gen.base_rows(o), "d0"), path)
            n = materialize(spark.read.parquet(path), _cfg()).count()
            goldens.setdefault("stream_feedback", {}).setdefault("bootstrap_rows", {})[str(seed)] = n
    finally:
        run._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(run.GOLDENS, "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main([int(a) for a in sys.argv[1:]])
