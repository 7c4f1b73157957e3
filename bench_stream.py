"""Streaming flat-cost benchmark (round-1 VERDICT item 2 'Done' bar).

Runs the incremental pipeline over K micro-batches of a generated monotone
ontology (no equivalence feedback -> fast path) and prints per-batch wall
times. With delta-sized emission + delta-sized state persistence the
per-batch cost must stay roughly flat as committed history grows (late
batches ~ early batches), instead of growing with O(total history) like the
round-1 rewrite-everything design.

Usage: python bench_stream.py [--batches 10] [--classes 4000] [--some 20000]
Prints ONE JSON line {"metric": "stream per-batch wall", "per_batch_sec":
[...], "flat_ratio_last_over_3": r, ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=10)
    ap.add_argument("--classes", type=int, default=4000)
    ap.add_argument("--props", type=int, default=4)
    ap.add_argument("--some", type=int, default=20000)
    ap.add_argument(
        "--tail-batches", type=int, default=2,
        help="tiny trailing batches (a few told rows each): their rel "
        "deltas touch few buckets, so the bucket-pruned history anti-join "
        "scans a fraction of the persisted state",
    )
    ap.add_argument(
        "--equiv", type=int, default=0,
        help="sprinkle N AX_EQUIV_SOME definitions through the stream: "
        "every batch then exercises the incremental R4 feedback rounds — "
        "the flat ratio evidences delta-sized cost WITH equivalence "
        "feedback present (round-3 VERDICT item 1)",
    )
    ap.add_argument(
        "--equiv-islands", type=int, default=0,
        help="CONSTANT-ENTAILMENT equivalence workload (round-4 VERDICT "
        "item 4): each batch is an independent island of N classes with "
        "its own standing AX_EQUIV_SOME definitions (token-offset "
        "namespaces, no cross-batch hierarchy). Per-batch entailment "
        "volume is constant while committed history grows, so the raw "
        "per-batch flat ratio measures COST, not workload growth — "
        "--classes/--some/--equiv then size each island, not the whole "
        "stream",
    )
    ap.add_argument(
        "--maintain-proc", action="store_true",
        help="run out-of-band sink/told maintenance (major size-tiered "
        "merges) from a SECOND process for the whole stream — the "
        "production scheduling split (round-4 VERDICT item 1): the "
        "stream's inline tier does only bounded minor folds, so per-batch "
        "p99 must stay flat while the maintenance process merges behind it",
    )
    ap.add_argument("--maintain-interval", type=float, default=5.0)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from relation_graph_spark import incremental
    from relation_graph_spark.config import RGConfig
    from relation_graph_spark.fixtures import gen_ontology_rows, _rows_to_df
    from relation_graph_spark.materialize import materialize
    from relation_graph_spark.session import get_spark
    from relation_graph_spark.streaming.pipeline import IncrementalClosureJob

    spark = get_spark("rgs-bench-stream", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)

    batch_row_lists = None
    if args.equiv_islands:
        # one island per batch: identical structure, disjoint token
        # namespaces -> constant per-batch entailment over growing history
        def _island(b):
            off = (b + 1) * 10_000_000
            base = gen_ontology_rows(args.equiv_islands, args.props, args.some)
            isl = [[r[0]] + [t + off for t in r[1:]] for r in base]
            base_c, base_p = 100 + off, 100 + off + args.equiv_islands
            for i in range(max(1, args.equiv)):
                d = [
                    103,  # AX_EQUIV_SOME
                    base_c + (7919 * (i + 1)) % args.equiv_islands,
                    base_p + i % args.props,
                    base_c + (104729 * (i + 1)) % args.equiv_islands,
                ]
                isl.insert((i + 1) * len(isl) // (max(1, args.equiv) + 1), d)
            return isl

        batch_row_lists = [_island(b) for b in range(args.batches)]
        rows = [r for isl in batch_row_lists for r in isl]
    else:
        rows = gen_ontology_rows(args.classes, args.props, args.some)
    if args.equiv and not args.equiv_islands:
        # definitions over existing class/property tokens, spread through
        # the stream so some arrive before and some after their members
        base_c, base_p = 100, 100 + args.classes
        defs = [
            [103, base_c + (7919 * (i + 1)) % args.classes,
             base_p + i % args.props,
             base_c + (104729 * (i + 1)) % args.classes]
            for i in range(args.equiv)
        ]
        for i, d in enumerate(defs):
            rows.insert((i + 1) * len(rows) // (len(defs) + 1), d)
    work = tempfile.mkdtemp(prefix="rgs_bench_stream_")
    inp = os.path.join(work, "in")
    os.makedirs(inp)

    # write one parquet FILE per micro-batch (equal row slices)
    df_all = _rows_to_df(spark, rows, "bench", with_ts=True)
    recs = [r.asDict() for r in df_all.collect()]
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("tokens", pa.list_(pa.int32())),
            ("n_tok", pa.int32()),
            ("source", pa.string()),
            ("ts", pa.timestamp("us")),
        ]
    )
    # tail batches: tiny isolated deltas (fresh classes, no hierarchy
    # fan-out) — each adds ~2 relation rows, so its bucket-pruned history
    # anti-join touches only a couple of the REL_BUCKETS partitions
    def _tail_tokens(i):
        base = 1_000_000 + i * 10
        return [[102, base + 2 * j, 21, base + 2 * j + 1] for j in range(2)]

    def _tail_recs(i):
        return [
            {
                "doc_id": f"tail{i:04d}_{j}",
                "tokens": toks,
                "n_tok": len(toks),
                "source": "tail",
                "ts": recs[-1]["ts"],
            }
            for j, toks in enumerate(_tail_tokens(i))
        ]

    rows_golden = rows + [
        t for i in range(args.tail_batches) for t in _tail_tokens(i)
    ]

    recs.sort(key=lambda r: r["doc_id"])  # restore row order (doc ids are ordinal)
    if batch_row_lists is not None:
        # island mode: batch boundaries follow island boundaries exactly
        parts, pos = [], 0
        for isl in batch_row_lists:
            parts.append(recs[pos : pos + len(isl)])
            pos += len(isl)
    else:
        k = (len(recs) + args.batches - 1) // args.batches
        parts = [recs[i * k : (i + 1) * k] for i in range(args.batches)]
    parts += [_tail_recs(i) for i in range(args.tail_batches)]
    for i, part in enumerate(parts):
        path = f"{inp}/p{i:04d}.parquet"
        pq.write_table(pa.Table.from_pylist(part, schema=schema), path)
        t = 1_700_000_000 + i * 10  # strictly increasing mtimes = batch order
        os.utime(path, (t, t))

    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    job = IncrementalClosureJob(spark, inp, os.path.join(work, "w"), cfg)

    per_batch: list[float] = []
    emitted_live: dict[int, int] = {}
    orig = job.process_batch

    def timed(batch_df, batch_id):
        t0 = time.time()
        orig(batch_df, batch_id)
        per_batch.append(round(time.time() - t0, 3))
        # per-batch emitted work, captured NOW: a concurrent (or later)
        # manifest fold collapses per-batch metrics into the summary agg
        try:
            with open(
                os.path.join(job.sink.manifest_dir, f"{int(batch_id)}.json")
            ) as fh:
                m = json.load(fh)
            emitted_live[int(batch_id)] = m.get("n_rows", 0) + m.get(
                "n_tombstones", 0
            )
        except OSError:
            pass

    job.process_batch = timed
    maint_proc, maint_log = None, []
    if args.maintain_proc:
        import subprocess

        maint_proc = subprocess.Popen(
            [
                sys.executable, "-m", "relation_graph_spark.cli", "maintain",
                "--sink", job.sink.root, "--told", job.told_dir,
                "--rounds", "0",
                "--interval-seconds", str(args.maintain_interval),
                "--master", "local[4]", "--shuffle-partitions", "8",
            ],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            env={**os.environ, "PYTHONPATH": os.path.dirname(os.path.abspath(__file__))},
        )
    t0 = time.time()
    job.run_available(max_files_per_trigger=1)
    wall = round(time.time() - t0, 3)
    if maint_proc is not None:
        # one final pass may still be mid-merge; give it a grace window
        # before terminating, then harvest the action log
        import signal

        time.sleep(min(10.0, args.maintain_interval))
        maint_proc.send_signal(signal.SIGINT)
        try:
            out, _ = maint_proc.communicate(timeout=60)
        except Exception:
            maint_proc.kill()
            out, _ = maint_proc.communicate()
        maint_log = [
            ln for ln in (out or "").splitlines() if ln.startswith("maintain pass")
        ]

    # correctness: stream == one-shot batch
    stream_set = {
        (r.s, r.p, r.o) for r in job.result_edges().select("s", "p", "o").collect()
    }
    batch_set = {
        (r.s, r.p, r.o)
        for r in materialize(_rows_to_df(spark, rows_golden, "bench"), cfg).collect()
    }
    assert stream_set == batch_set, (
        f"stream != batch: {len(stream_set)} vs {len(batch_set)}"
    )

    # flat ratio over the equal-sized MAIN batches (tail batches are the
    # tiny pruning probes, not comparable units of work)
    last_main = per_batch[args.batches - 1]
    ratio = round(last_main / per_batch[2], 3) if args.batches >= 3 else None
    # NORMALIZED cost (round-4 VERDICT item 4): equivalence workloads grow
    # their per-batch entailment volume (standing definitions multiply
    # derived edges), so raw sec/batch conflates volume with cost. Divide
    # by the batch's own emitted work (rows + tombstones from its
    # manifest): a flat-or-falling sec-per-edge ratio shows delta-sized
    # COST on a growing delta; a rising one would be a history leak.
    per_batch_emitted = [emitted_live.get(i, 0) for i in range(len(per_batch))]
    sec_per_kedge = [
        round(1000.0 * s / e, 4) if e else None
        for s, e in zip(per_batch, per_batch_emitted)
    ]
    norm_ratio = (
        round(sec_per_kedge[args.batches - 1] / sec_per_kedge[2], 3)
        if args.batches >= 3
        and sec_per_kedge[args.batches - 1] is not None
        and sec_per_kedge[2]
        else None
    )
    main_sorted = sorted(per_batch[: args.batches])
    p99 = round(main_sorted[max(0, int(len(main_sorted) * 0.99) - 1)], 3)
    p50 = round(main_sorted[len(main_sorted) // 2], 3)
    maint_actions = [
        ln.split(": ", 1)[1]
        for ln in maint_log
        if ": " in ln and "noop" not in ln
    ]
    n_major_merges = sum(a.count("'merge'") for a in maint_actions)
    n_maint_passes = len(maint_log)
    # sink layout after compaction policy: bounded dir/file counts are the
    # long-stream maintenance evidence (round-3 VERDICT item 3)
    sink = job.sink
    layout = {}
    if hasattr(sink, "_compaction"):
        marker = sink._compaction()
        layout = {
            "sink_batch_dirs": (
                len([d for d in os.listdir(sink.data_dir) if d.startswith("batch=")])
                if os.path.isdir(sink.data_dir)
                else 0
            ),
            "sink_runs": len(marker["runs"]),
            "sink_parquet_files": sum(
                1
                for r, _d, fs in os.walk(sink.root)
                for f in fs
                if f.endswith(".parquet")
            ),
            "manifest_files": len(
                [f for f in os.listdir(sink.manifest_dir) if f.endswith(".json")]
            ),
            "compact_min_batches": sink.compact_min_batches,
        }
    # state-store layout: the per-frame parquet PATH count is what every
    # per-batch job that scans state pays (file listing + small files);
    # delta consolidation (RGS_DELTA_FOLD) exists to bound delta_dirs
    # between snapshots
    sd = os.path.join(work, "w", "closure_state")
    state_layout = {}
    if os.path.isdir(sd):
        state_layout = {
            "snapshot_dirs": len(
                [d for d in os.listdir(sd) if d.startswith("snap-")]
            ),
            "delta_dirs": len(
                [d for d in os.listdir(sd) if d.startswith("delta-")]
            ),
            "state_parquet_files": sum(
                1
                for _r, _d, fs in os.walk(sd)
                for f in fs
                if f.endswith(".parquet")
            ),
            "delta_fold_every": job.delta_fold_every,
        }
    print(
        json.dumps(
            {
                "metric": "stream per-batch wall (flat-cost evidence)",
                "value": wall,
                "unit": "sec",
                "per_batch_sec": per_batch,
                "flat_ratio_last_over_3": ratio,
                "per_batch_emitted": per_batch_emitted,
                "sec_per_kedge": sec_per_kedge,
                "norm_ratio_last_over_3": norm_ratio,
                "p50_main_batch_sec": p50,
                "p99_main_batch_sec": p99,
                "maintain_proc": bool(args.maintain_proc),
                "maintain_passes": n_maint_passes,
                "maintain_major_merges": n_major_merges,
                "maintain_actions": maint_actions[:50],
                "told_trail_dirs": job.told_trail.dir_count(),
                "batches": args.batches,
                "edges_total": len(stream_set),
                "classes": args.classes,
                "some": args.some,
                "equiv_defs": args.equiv,
                "equiv_islands": args.equiv_islands,
                "cpus": args.cpus,
                "rel_buckets": incremental.REL_BUCKETS,
                "sink_layout": layout,
                "state_layout": state_layout,
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
