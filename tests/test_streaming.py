"""Streaming fixtures of FIXTURES.md section 7: split-equals-batch, late
data accounting, checkpoint resume, stateful dedup, watermarked windows."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from relation_graph_spark import fixtures as FX
from relation_graph_spark import tokens as T
from relation_graph_spark.config import RGConfig
from relation_graph_spark.schema import SEQ_TS_SCHEMA
from relation_graph_spark.streaming.pipeline import IncrementalClosureJob

from conftest import triples

TEST_CFG = RGConfig(
    output_subclasses=True,
    reflexive_subclasses=False,
    equivalence_as_subclass=False,
)

GOLDEN_ALL = FX.GOLDEN_A_EXISTENTIAL | FX.GOLDEN_A_SUBCLASS


def _write_batches(spark, base_dir, splits, ts_override=None):
    """Write fixture-A rows as one parquet file per micro-batch split."""
    df = FX.materialize_test(spark, with_ts=True)
    rows = [r.asDict() for r in df.collect()]
    if ts_override:
        for r in rows:
            if r["doc_id"] in ts_override:
                r["ts"] = ts_override[r["doc_id"]]
    os.makedirs(base_dir, exist_ok=True)
    paths = []
    for i, (lo, hi) in enumerate(splits):
        part = [r for r in rows if lo <= int(r["doc_id"][1:]) <= hi]
        paths.append(write_seq_file(base_dir, f"part{i}.parquet", part))
    return paths


_seq_file_counter = [0]


def write_seq_file(base_dir, name, row_dicts):
    """Write one plain parquet FILE (not a Spark dir) so the streaming file
    source sees exactly one file per intended micro-batch. Sets strictly
    increasing mtimes: the file source orders batches by modification time
    and breaks same-millisecond ties nondeterministically, which would
    scramble the intended batch order."""
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
    table = pa.Table.from_pylist(row_dicts, schema=schema)
    p = os.path.join(base_dir, name)
    pq.write_table(table, p)
    _seq_file_counter[0] += 1
    t = 1_700_000_000 + _seq_file_counter[0] * 10
    os.utime(p, (t, t))
    return p


def _sink_triples(job):
    out = job.result_edges()
    assert out is not None
    return {(r.s, r.p, r.o) for r in out.select("s", "p", "o").collect()}


def test_split_equals_batch(spark, tmp_path):
    """Fixture A across 3 micro-batches == one-shot batch goldens."""
    inp = str(tmp_path / "in")
    _write_batches(spark, inp, [(1, 7), (8, 10), (11, 12)])
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), TEST_CFG)
    job.run_available(max_files_per_trigger=1)
    assert _sink_triples(job) == GOLDEN_ALL
    # no duplicate idempotency keys across batches
    out = job.result_edges()
    assert out.count() == out.select("edge_hash").distinct().count()
    # 3 manifests with lineage/metrics
    ms = job.metrics()
    assert len(ms) == 3
    assert all("told_rows_by_source" in m and "closure_edges_total" in m for m in ms)


def test_late_rows_dropped_and_accounted(spark, tmp_path):
    """d00000012 (the F-equivalence axiom) arrives older than the watermark
    horizon -> dropped; closure excludes all F-derived edges; metric = 1."""
    from datetime import datetime

    inp = str(tmp_path / "in")
    _write_batches(
        spark,
        inp,
        [(1, 10), (11, 11), (12, 12)],
        ts_override={"d00000012": datetime(2020, 1, 1)},
    )
    job = IncrementalClosureJob(
        spark, inp, str(tmp_path / "work"), TEST_CFG, watermark_horizon_seconds=3600
    )
    job.run_available(max_files_per_trigger=1)
    golden_no_f = {
        t for t in GOLDEN_ALL if t[0] != FX.F_ and t != (FX.E_, T.SUBCLASSOF, FX.F_)
    }
    assert _sink_triples(job) == golden_no_f
    assert sum(m.get("n_late_dropped", 0) for m in job.metrics()) == 1


def test_resume_from_checkpoint(spark, tmp_path):
    """Kill after 2 of 3 batches; restart; final sink == goldens, no dup
    hashes, previously committed batches not re-emitted."""
    inp = str(tmp_path / "in")
    work = str(tmp_path / "work")
    paths = _write_batches(spark, inp, [(1, 7), (8, 10)])
    job = IncrementalClosureJob(spark, inp, work, TEST_CFG)
    job.run_available(max_files_per_trigger=1)
    n_batches_before = len(job.metrics())
    assert n_batches_before == 2

    # deliver batch 3, restart from the same checkpoint + manifest
    _df = FX.materialize_test(spark, with_ts=True)
    part = [r.asDict() for r in _df.collect() if 11 <= int(r.doc_id[1:]) <= 12]
    write_seq_file(inp, "part_late.parquet", part)
    job2 = IncrementalClosureJob(spark, inp, work, TEST_CFG)
    job2.run_available(max_files_per_trigger=1)
    assert _sink_triples(job2) == GOLDEN_ALL
    out = job2.result_edges()
    assert out.count() == out.select("edge_hash").distinct().count()
    assert len(job2.metrics()) == n_batches_before + 1


def test_replayed_batch_is_skipped(spark, tmp_path):
    """Manually re-invoking process_batch with a committed batch_id is a
    no-op (exactly-once under replay)."""
    inp = str(tmp_path / "in")
    _write_batches(spark, inp, [(1, 12)])
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), TEST_CFG)
    job.run_available(max_files_per_trigger=None)
    before = _sink_triples(job)
    batch_df = spark.read.schema(SEQ_TS_SCHEMA).parquet(inp)
    job.process_batch(batch_df, 0)  # replay
    assert _sink_triples(job) == before == GOLDEN_ALL
    assert len(job.metrics()) == 1


def _write_token_batches(spark, base_dir, row_batches):
    """Write arbitrary token-row batches, one parquet file each."""
    from datetime import datetime, timedelta, timezone

    os.makedirs(base_dir, exist_ok=True)
    t0 = datetime(2026, 1, 1)
    doc = 0
    for i, rows in enumerate(row_batches):
        recs = []
        for toks in rows:
            doc += 1
            recs.append(
                {
                    "doc_id": f"x{doc:08d}",
                    "tokens": [int(t) for t in toks],
                    "n_tok": len(toks),
                    "source": f"batch{i}",
                    "ts": t0 + timedelta(seconds=doc),
                }
            )
        write_seq_file(base_dir, f"part{i}.parquet", recs)


def test_cross_batch_mutual_subsumption_retracts_subclass_row(spark, tmp_path):
    """equivalence_as_subclass=False: batch 1 commits (11 subClassOf 12);
    batch 2 delivers the reverse subsumption — the live sink must equal the
    one-shot batch output (reciprocal equivalentClass rows, the stale
    subclass row tombstoned). This is the ADVICE round-1 invariant case."""
    inp = str(tmp_path / "in")
    _write_token_batches(
        spark,
        inp,
        [
            [[T.AX_DECL_CLASS, 11], [T.AX_DECL_CLASS, 12], [T.AX_SUBCLASS, 11, 12]],
            [[T.AX_SUBCLASS, 12, 11]],
        ],
    )
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), TEST_CFG)
    job.run_available(max_files_per_trigger=1)
    assert _sink_triples(job) == {
        (11, T.EQUIVALENTCLASS, 12),
        (12, T.EQUIVALENTCLASS, 11),
    }
    ms = job.metrics()
    assert ms[-1]["n_tombstones"] == 1  # the stale (11, subClassOf, 12)


def test_cross_batch_late_unsat_retracts_object_rows(spark, tmp_path):
    """Batch 2 makes class 12 unsatisfiable; rows already committed with 12
    (or its newly-unsat subclasses) as object must be tombstoned so the live
    sink equals the batch semantics (which suppresses unsat objects)."""
    inp = str(tmp_path / "in")
    _write_token_batches(
        spark,
        inp,
        [
            [
                [T.AX_DECL_CLASS, 11],
                [T.AX_DECL_CLASS, 12],
                [T.AX_DECL_CLASS, 13],
                [T.AX_DECL_PROP, 21],
                [T.AX_SOME, 11, 21, 12],
                [T.AX_SUBCLASS, 13, 12],
            ],
            [[T.AX_SUBCLASS, 12, T.BOT]],
        ],
    )
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), TEST_CFG)
    job.run_available(max_files_per_trigger=1)
    # batch 1 emitted (11,21,12) and (13,subClassOf,12); both retracted
    assert _sink_triples(job) == set()
    assert job.metrics()[-1]["n_tombstones"] == 2


def _batch_golden(spark, row_batches, cfg):
    """One-shot batch materialization of the union of all stream batches."""
    from relation_graph_spark.materialize import materialize

    recs = []
    doc = 0
    for toks in (t for rows in row_batches for t in rows):
        doc += 1
        recs.append((f"x{doc:08d}", [int(x) for x in toks], len(toks), "g"))
    df = spark.createDataFrame(
        recs, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    return {(r.s, r.p, r.o) for r in materialize(df, cfg).collect()}


IND_CFG = RGConfig(
    output_subclasses=True, reflexive_subclasses=False, output_individuals=True
)

_IND_BATCHES = [
    # b0: 11, 12 classes; some(11, 21, 12); ind 91 : 11
    [
        [T.AX_DECL_CLASS, 11],
        [T.AX_DECL_CLASS, 12],
        [T.AX_DECL_PROP, 21],
        [T.AX_SOME, 11, 21, 12],
        [T.AX_CLASS_ASSERTION, 11, 91],
    ],
    # b1: 13 subClassOf 11 (new class), ind 92 : 13 -> (92, 21, 12),
    # (92, rdf:type, {13, 11}), (13, 21, 12)
    [[T.AX_DECL_CLASS, 13], [T.AX_SUBCLASS, 13, 11], [T.AX_CLASS_ASSERTION, 13, 92]],
    # b2: second derivation for already-committed individual rows:
    # 92 : 11 re-derives (92, 21, 12) and (92, rdf:type, 11) -> sink dedup
    [[T.AX_CLASS_ASSERTION, 11, 92]],
]


def test_streaming_individuals_split_equals_batch(spark, tmp_path):
    """output_individuals on the fast path: 3 micro-batches == one-shot
    batch, duplicate derivations (a second class asserting an already
    emitted individual row) deduped by the sink, no duplicate hashes."""
    inp = str(tmp_path / "in")
    _write_token_batches(spark, inp, _IND_BATCHES)
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), IND_CFG)
    job.run_available(max_files_per_trigger=1)
    assert _sink_triples(job) == _batch_golden(spark, _IND_BATCHES, IND_CFG)
    out = job.result_edges()
    assert out.count() == out.select("edge_hash").distinct().count()
    assert len(job.metrics()) == 3


def test_streaming_individuals_late_unsat_retracts_ind_rows(spark, tmp_path):
    """A late `12 subClassOf Nothing` suppresses every committed row with
    object 12 — including the individual existential rows — while rdf:type
    rows stay (not unsat-gated, mirroring the batch semantics)."""
    batches = _IND_BATCHES + [[[T.AX_SUBCLASS, 12, T.BOT]]]
    inp = str(tmp_path / "in")
    _write_token_batches(spark, inp, batches)
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), IND_CFG)
    job.run_available(max_files_per_trigger=1)
    got = _sink_triples(job)
    assert got == _batch_golden(spark, batches, IND_CFG)
    # the individual existential rows were committed then tombstoned
    assert (91, 21, 12) not in got and (92, 21, 12) not in got
    assert (91, T.RDF_TYPE, 11) in got and (92, T.RDF_TYPE, 13) in got
    assert sum(m["n_tombstones"] for m in job.metrics()) >= 4


def test_streaming_individuals_resume_from_checkpoint(spark, tmp_path):
    """Kill after 2 of 4 individuals-mode batches; a fresh job instance
    resumes from checkpoint + manifests + state store and converges to the
    batch semantics (incl. the late-unsat retraction delivered after the
    restart)."""
    batches = _IND_BATCHES + [[[T.AX_SUBCLASS, 12, T.BOT]]]
    inp = str(tmp_path / "in")
    work = str(tmp_path / "work")
    _write_token_batches(spark, inp, batches[:2])
    job = IncrementalClosureJob(spark, inp, work, IND_CFG)
    job.run_available(max_files_per_trigger=1)
    assert len(job.metrics()) == 2

    # deliver the remaining batches, restart with a NEW instance
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)
    recs = []
    doc = 100
    for i, rows in enumerate(batches[2:]):
        part = []
        for toks in rows:
            doc += 1
            part.append(
                {
                    "doc_id": f"y{doc:08d}",
                    "tokens": [int(t) for t in toks],
                    "n_tok": len(toks),
                    "source": f"batch{i + 2}",
                    "ts": t0 + timedelta(seconds=doc),
                }
            )
        recs.append(part)
    for i, part in enumerate(recs):
        write_seq_file(inp, f"late{i}.parquet", part)
    job2 = IncrementalClosureJob(spark, inp, work, IND_CFG)
    job2.run_available(max_files_per_trigger=1)
    assert _sink_triples(job2) == _batch_golden(spark, batches, IND_CFG)
    out = job2.result_edges()
    assert out.count() == out.select("edge_hash").distinct().count()
    assert len(job2.metrics()) == 4


def test_session_assignment_matches_native_session_window(spark):
    """assign_sessions (gaps-and-islands) must reproduce Spark's native
    session_window partitioning EXACTLY at the gap boundary: a session
    spans [first, last+gap] and touching ranges MERGE, so an event landing
    precisely at last_ts + gap extends the session; one second past it
    opens a new one."""
    from datetime import datetime, timedelta

    from relation_graph_spark.streaming.windows import assign_sessions

    t0 = datetime(2026, 1, 1)
    rows = [
        ("u1", t0),
        ("u1", t0 + timedelta(minutes=29, seconds=59)),  # inside gap: extends
        ("u1", t0 + timedelta(minutes=59, seconds=59)),  # EXACT boundary: extends
        ("u1", t0 + timedelta(minutes=90)),  # boundary + 1s: NEW session
        ("u1", t0 + timedelta(minutes=200)),  # clearly new
        ("u2", t0 + timedelta(minutes=10)),
        ("u2", t0 + timedelta(minutes=10)),  # tied ts: same session
        ("u2", t0 + timedelta(minutes=39, seconds=59)),  # inside: extends
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    native = {
        (r.user_id, r.sess_start, r.n)
        for r in df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.min("ts").alias("sess_start"), F.count("*").alias("n"))
        .collect()
    }
    mine = {
        (r.user_id, r.sess_start, r.n)
        for r in assign_sessions(df, "30 minutes")
        .groupBy("user_id", "sess_start")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert mine == native
    assert len(mine) == 4  # u1: 3 sessions, u2: 1


def test_session_closure_late_row_merges_sessions(spark):
    """Late row inside the gap of two previously-separate sessions MERGES
    them on recompute, and the merged session's closure connects paths that
    crossed the old boundary (the reopen case of SURVEY.md 7.2(d))."""
    from datetime import datetime, timedelta

    from relation_graph_spark.streaming.windows import session_closure

    t0 = datetime(2026, 1, 1)
    base = [
        ("u1", t0, 1, 2),
        ("u1", t0 + timedelta(minutes=50), 2, 3),
    ]
    schema = "user_id string, ts timestamp, child bigint, parent bigint"

    def pairs(rows):
        out = session_closure(
            spark.createDataFrame(rows, schema), "30 minutes", key_col="user_id"
        )
        return {(r.user_id, r.sess_start, r.child, r.parent) for r in out.collect()}

    before = pairs(base)
    # two sessions, no cross-session path 1 -> 3
    assert {(p[2], p[3]) for p in before} == {(1, 2), (2, 3)}
    assert len({p[1] for p in before}) == 2
    # late bridging row: 25 min from both neighbors -> single merged session
    after = pairs(base + [("u1", t0 + timedelta(minutes=25), 4, 5)])
    assert (u := {p[1] for p in after}) == {t0}, u
    assert ("u1", t0, 1, 3) in after  # closure crosses the old boundary


def test_dedup_new_rejects_non_layout_key(spark, tmp_path):
    """Pruned dedup is only sound on the bucket-layout key; any other key
    must fail loudly instead of silently scanning all committed history."""
    from relation_graph_spark.sinks import IdempotentParquetSink

    sink = IdempotentParquetSink(spark, str(tmp_path / "s"))
    df = spark.createDataFrame(
        [(1, 2, 3, "e", "h")], "s int, p int, o int, edge string, edge_hash string"
    )
    sink.append(df, 0)
    assert sink.dedup_new(df).count() == 0  # layout key prunes + dedups
    with pytest.raises(ValueError, match="bucket-layout key"):
        sink.dedup_new(df, key="edge")


def _chain_batches(n):
    """n tiny batches growing a subclass chain 100 <- 101 <- ... <- 100+n-1."""
    batches = [[[105, 100]]]
    for i in range(1, n):
        batches.append([[105, 100 + i], [101, 100 + i, 100 + i - 1]])
    return batches


def test_sink_compaction_long_stream(spark, tmp_path):
    """Long stream with an aggressive compaction policy: the stream runs
    only the bounded INLINE minor folds; size-tiered major merges then run
    OUT-OF-BAND from a second sink handle (the maintenance-process model).
    Live set unchanged, batch-dir count bounded, tombstones still applied
    across a major merge, manifest totals and the exactly-once replay guard
    survive folding."""
    from relation_graph_spark.materialize import materialize
    from relation_graph_spark.sinks import IdempotentParquetSink

    inp = str(tmp_path / "in")
    # final batch: late unsat (105 subClassOf owl:Nothing) retracts every
    # committed row whose object sits at or below 105
    batches = _chain_batches(12) + [[[101, 105, 2]]]
    _write_token_batches(spark, inp, batches)
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    work = str(tmp_path / "work")
    sink = IdempotentParquetSink(
        spark, os.path.join(work, "sink"), compact_min_batches=4
    )
    job = IncrementalClosureJob(spark, inp, work, cfg, sink=sink)
    job.run_available(max_files_per_trigger=1)

    # the stream itself never runs a major merge (inline = minor tier only)
    marker = sink._compaction()
    assert marker["runs"], "expected inline minor folds to have produced runs"
    assert not any(m.get("compacted") for m in job.metrics())

    # out-of-band maintenance from a SECOND handle on the same root, while
    # the first handle stays open (n_buckets=None adopts the pinned layout)
    maint = IdempotentParquetSink(spark, os.path.join(work, "sink"), n_buckets=None)
    actions = maint.compact()
    assert any(a == "merge" for a in actions), actions
    # a second pass sweeps the previous pass's retirements (grace period)
    maint.compact()

    rows = [r for b in batches for r in b]
    golden = {
        (r.s, r.p, r.o)
        for r in materialize(FX._rows_to_df(spark, rows, "c"), cfg).collect()
    }
    assert _sink_triples(job) == golden
    # bounded layout: un-folded batch dirs stay under the fold threshold
    data_dirs = (
        [d for d in os.listdir(sink.data_dir) if d.startswith("batch=")]
        if os.path.isdir(sink.data_dir)
        else []
    )
    assert len(data_dirs) < 4
    # manifest folding happened and totals survived it
    ms = job.metrics()
    assert any(m.get("compacted") for m in ms)
    assert sum(m.get("n_rows", 0) for m in ms) >= len(golden)
    # exactly-once guard recognizes batches whose manifests were folded
    assert sink.is_committed(0)
    before = _sink_triples(job)
    batch_df = spark.read.schema(SEQ_TS_SCHEMA).parquet(inp)
    job.process_batch(batch_df, 0)
    assert _sink_triples(job) == before


def test_resume_after_sink_compaction(spark, tmp_path):
    """Restart on a compacted sink: replay guard + state reload still work,
    and later batches land correctly on top of folded history."""
    from relation_graph_spark.materialize import materialize
    from relation_graph_spark.sinks import IdempotentParquetSink

    batches = _chain_batches(10)
    stage = str(tmp_path / "stage")
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    _write_token_batches(spark, stage, batches)
    files = sorted(os.listdir(stage))
    for f in files[:8]:
        shutil.copy2(os.path.join(stage, f), os.path.join(inp, f))
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    work = str(tmp_path / "work")

    def _sink():
        return IdempotentParquetSink(
            spark, os.path.join(work, "sink"), compact_min_batches=4
        )

    job1 = IncrementalClosureJob(spark, inp, work, cfg, sink=_sink())
    job1.run_available(max_files_per_trigger=1)
    assert job1.sink._compaction()["runs"], "phase 1 should have compacted"
    for f in files[8:]:
        shutil.copy2(os.path.join(stage, f), os.path.join(inp, f))
    job2 = IncrementalClosureJob(spark, inp, work, cfg, sink=_sink())
    job2.run_available(max_files_per_trigger=1)
    rows = [r for b in batches for r in b]
    golden = {
        (r.s, r.p, r.o)
        for r in materialize(FX._rows_to_df(spark, rows, "c"), cfg).collect()
    }
    assert _sink_triples(job2) == golden
    out = job2.result_edges()
    assert out.count() == out.select("edge_hash").distinct().count()


def _edge_batch(spark, b):
    """Full sink-schema edge frame (s,p,o,edge,edge_hash) for batch `b`.
    Batch sizes grow (10*(b+1) rows) so newer LSM runs are strictly larger
    and the size-tiered merge condition triggers deterministically."""
    from relation_graph_spark.hashing import with_edge_hash

    lo = b * 1000
    return with_edge_hash(
        spark.range(lo, lo + 10 * (b + 1)).select(
            F.col("id").cast("int").alias("s"),
            F.lit(1).alias("p"),
            (F.col("id") + 100000).cast("int").alias("o"),
        )
    )


def _edge_total(n_batches):
    return sum(10 * (b + 1) for b in range(n_batches))


def test_concurrent_reader_survives_out_of_band_compaction(spark, tmp_path):
    """Reader/compactor interleaving (round-4 VERDICT item 5): a LAZY read
    plan built from the pre-compaction marker must still evaluate after an
    out-of-band major merge publishes a new marker — retired dirs are swept
    only on the NEXT compaction entry (one-cycle grace), not at publish."""
    from relation_graph_spark.sinks import IdempotentParquetSink

    root = str(tmp_path / "sink")
    writer = IdempotentParquetSink(spark, root, compact_min_batches=2)
    for b in range(6):
        writer.append(_edge_batch(spark, b), b)
        writer.maybe_compact()  # inline tier: minor folds only
    assert writer._compaction()["runs"]

    reader = IdempotentParquetSink(spark, root, n_buckets=None)
    stale_plan = reader.read()  # lazy: parquet paths resolved at build time
    assert stale_plan is not None

    maint = IdempotentParquetSink(spark, root, n_buckets=None)
    actions = maint.compact()
    assert "merge" in actions, actions
    # the stale plan still evaluates — its files survive until the next cycle
    total = _edge_total(6)
    assert stale_plan.count() == total
    # a fresh read off the new marker sees the same live set
    assert maint.read().count() == total
    # next cycle sweeps the retired dirs; reads still correct
    maint.compact()
    assert maint.read().count() == total
    # fully-merged sink: further maintenance is a no-op
    assert maint.compact() == []


def test_compactor_lock_exclusion_and_stale_steal(spark, tmp_path):
    """Only one compactor mutates the marker at a time: a held lock makes
    maybe_compact a skip (pending work waits a cycle); a lock whose holder
    pid is dead is stolen."""
    import json as _json

    from relation_graph_spark.sinks import IdempotentParquetSink

    root = str(tmp_path / "sink")
    a = IdempotentParquetSink(spark, root, compact_min_batches=2)
    for b in range(4):
        a.append(_edge_batch(spark, b), b)

    b_handle = IdempotentParquetSink(
        spark, root, n_buckets=None, compact_min_batches=2
    )
    assert a._acquire_lock()
    try:
        before = b_handle._compaction()
        assert b_handle.maybe_compact() == ["skipped:lock-held"]
        assert b_handle.compact(lock_wait=0.2) == ["skipped:lock-held"]
        assert b_handle._compaction() == before  # no marker mutation
    finally:
        a._release_lock()
    assert any(x.startswith("minor") for x in b_handle.compact())

    # stale lock: holder pid no longer exists -> stolen, work proceeds
    for b in range(4, 8):
        a.append(_edge_batch(spark, b), b)
    with open(os.path.join(root, "compaction.lock"), "w") as fh:
        _json.dump({"pid": 2**22 + 7, "ts": 0.0}, fh)  # dead pid, ancient ts
    assert b_handle.compact() != ["skipped:lock-held"]
    assert not os.path.exists(os.path.join(root, "compaction.lock"))


def test_replay_and_totals_survive_fold_crash_windows(spark, tmp_path):
    """ADVICE r4 (low x2): (a) a direct sink.append() replay of a batch
    whose per-batch manifest was folded returns the summary agg instead of
    crashing on the deleted file; (b) a crash between manifest fold and
    sweep (per-batch files still on disk next to the summary) neither
    double-reports metrics nor re-sums totals on the next fold."""
    import json as _json

    from relation_graph_spark.sinks import IdempotentParquetSink

    root = str(tmp_path / "sink")
    sink = IdempotentParquetSink(spark, root, compact_min_batches=2)
    for b in range(4):
        sink.append(_edge_batch(spark, b), b)
        sink.maybe_compact()
    sink.compact()
    sink.compact()  # second cycle: runs merged to one, manifests folded
    s = sink._manifest_summary()
    assert s and set(s["batch_ids"]) == {0, 1, 2, 3}
    total = s["agg"]["n_rows"]
    assert total == _edge_total(4)
    # (a) direct replay of a folded batch: summary agg, no FileNotFoundError
    m = sink.append(_edge_batch(spark, 1), 1)
    assert m.get("compacted") and m["n_rows"] == total
    # (b) crash window: resurrect a folded per-batch manifest file
    with open(os.path.join(sink.manifest_dir, "2.json"), "w") as fh:
        _json.dump({"batch_id": 2, "n_rows": 30, "n_tombstones": 0}, fh)
    ms = sink.metrics()
    assert len(ms) == 1 and ms[0]["n_rows"] == total  # not reported twice
    sink._fold_manifests(3)  # re-fold: leftover must not re-sum
    assert sink._manifest_summary()["agg"]["n_rows"] == total


def test_save_state_delta_empty_dict(spark, tmp_path):
    """ADVICE r4 (low): a deltas dict with none of the persisted frames
    returns {} instead of crashing on the empty count job."""
    from relation_graph_spark.incremental import save_state_delta

    assert save_state_delta({}, str(tmp_path / "st"), 0) == {}
    assert save_state_delta({"not_a_frame": None}, str(tmp_path / "st"), 1) == {}


def test_maintain_cli_out_of_band(spark, tmp_path):
    """The `maintain` CLI subcommand runs major merges against an existing
    sink root (adopting its pinned bucket layout) — the separate-process
    maintenance model; two rounds so the second sweeps the first's
    retirements."""
    from relation_graph_spark import cli
    from relation_graph_spark.sinks import IdempotentParquetSink

    root = str(tmp_path / "sink")
    sink = IdempotentParquetSink(spark, root, compact_min_batches=2)
    for b in range(6):
        sink.append(_edge_batch(spark, b), b)
        sink.maybe_compact()
    assert len(sink._compaction()["runs"]) >= 2
    rc = cli.main(["maintain", "--sink", root, "--rounds", "2",
                   "--interval-seconds", "0"])
    assert rc == 0
    after = IdempotentParquetSink(spark, root, n_buckets=None)
    assert len(after._compaction()["runs"]) == 1
    assert after.read().count() == _edge_total(6)
    # batch dirs folded AND swept by the second round
    data_dirs = (
        [d for d in os.listdir(after.data_dir) if d.startswith("batch=")]
        if os.path.isdir(after.data_dir)
        else []
    )
    assert data_dirs == []


def test_delta_consolidation_bounds_state_dirs(spark, tmp_path):
    """Delta mini-folds: accumulated delta dirs consolidate every
    delta_fold_every batches (bounding per-frame path counts between
    snapshots — the measured per-batch ramp source), with superseded dirs
    removed only post-commit; results and restart behavior unchanged."""
    from relation_graph_spark.materialize import materialize

    inp = str(tmp_path / "in")
    batches = _chain_batches(9)
    stage = str(tmp_path / "stage")
    _write_token_batches(spark, stage, batches)
    files = sorted(os.listdir(stage))
    os.makedirs(inp)
    for f in files[:6]:
        shutil.copy2(os.path.join(stage, f), os.path.join(inp, f))
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    work = str(tmp_path / "work")

    def _job():
        return IncrementalClosureJob(
            spark, inp, work, cfg, compact_every=100, delta_fold_every=3
        )

    job1 = _job()
    job1.run_available(max_files_per_trigger=1)
    sd = os.path.join(work, "closure_state")
    deltas1 = sorted(d for d in os.listdir(sd) if d.startswith("delta-"))
    # b1,b2 folded into delta-3; b4 folded with it into delta-5
    assert deltas1 == ["delta-5"], deltas1

    # restart with the remaining batches: fold-candidate list rebuilt from
    # disk, consolidation continues across the restart
    for f in files[6:]:
        shutil.copy2(os.path.join(stage, f), os.path.join(inp, f))
    job2 = _job()
    job2.run_available(max_files_per_trigger=1)
    deltas2 = sorted(d for d in os.listdir(sd) if d.startswith("delta-"))
    assert len(deltas2) <= 3, deltas2

    rows = [r for b in batches for r in b]
    golden = {
        (r.s, r.p, r.o)
        for r in materialize(FX._rows_to_df(spark, rows, "c"), cfg).collect()
    }
    assert _sink_triples(job2) == golden
    out = job2.result_edges()
    assert out.count() == out.select("edge_hash").distinct().count()


def test_delta_consolidation_crash_before_expiry(spark, tmp_path, monkeypatch):
    """Crash window: a consolidated delta's batch COMMITS but the process
    dies before expire_state_deltas removes the superseded dirs. Restart
    must not double-read them (folded.json exclusion in load_state /
    live_delta_batches) and must finish the interrupted expiry."""
    from relation_graph_spark import incremental as inc
    from relation_graph_spark.materialize import materialize

    inp = str(tmp_path / "in")
    batches = _chain_batches(6)
    _write_token_batches(spark, inp, batches)
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    work = str(tmp_path / "work")

    # job1: expiry disabled = crash immediately after every commit, before
    # the maintenance step can remove superseded dirs
    monkeypatch.setattr(inc, "expire_state_deltas", lambda root, ids: None)
    job1 = IncrementalClosureJob(
        spark, inp, work, cfg, compact_every=100, delta_fold_every=3
    )
    job1.run_available(max_files_per_trigger=1)
    monkeypatch.undo()
    sd = os.path.join(work, "closure_state")
    deltas = sorted(d for d in os.listdir(sd) if d.startswith("delta-"))
    # superseded dirs still on disk next to the consolidated ones
    assert "delta-1" in deltas and "delta-5" in deltas, deltas

    # restart: loaded state must contain each told row ONCE (rel is the
    # frame that would double), stale dirs get expired, results = batch
    job2 = IncrementalClosureJob(
        spark, inp, work, cfg, compact_every=100, delta_fold_every=3
    )
    job2._ensure_state_loaded()
    rel = job2._state["rel"]
    assert rel.count() == rel.dropDuplicates().count()
    deltas_after = sorted(d for d in os.listdir(sd) if d.startswith("delta-"))
    assert deltas_after == ["delta-5"], deltas_after

    rows = [r for b in batches for r in b]
    golden = {
        (r.s, r.p, r.o)
        for r in materialize(FX._rows_to_df(spark, rows, "c"), cfg).collect()
    }
    assert _sink_triples(job2) == golden


def test_told_trail_bounded_and_readable(spark, tmp_path):
    """Told-trail retention (round-4 VERDICT item 3): per-batch told dirs
    fold into one trail dir per snapshot interval, so dir count is bounded
    by batches/compact_every instead of growing one per batch; the audit
    read returns every ingested doc; the out-of-band merge collapses the
    trails to one."""
    inp = str(tmp_path / "in")
    batches = _chain_batches(13)
    _write_token_batches(spark, inp, batches)
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    job = IncrementalClosureJob(
        spark, inp, str(tmp_path / "work"), cfg, compact_every=4
    )
    job.run_available(max_files_per_trigger=1)
    trail = job.told_trail
    # snapshots at batches 0, 4, 8, 12 -> 4 trail dirs, 0 raw dirs left
    assert trail.dir_count() <= 5
    n_docs = sum(len(b) for b in batches)
    assert trail.read().count() == n_docs
    # per-source content matches the manifests' running lineage totals
    got = {
        r["source"]: r["n"]
        for r in trail.read().groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert got == job.metrics()[-1]["told_rows_by_source"]
    # out-of-band merge (the `maintain` told tier): one dir, same content
    assert trail.compact()
    assert len(trail._trails()) == 1
    assert trail.read().count() == n_docs
    # crash-window debris: a stale source trail at or below the merged id
    # is superseded by the read rule, not double-counted
    import pyarrow as pa
    import pyarrow.parquet as pq

    stale = os.path.join(trail.root, "trail-0")
    os.makedirs(stale, exist_ok=True)
    dup = trail.read().limit(1).toPandas()
    pq.write_table(pa.Table.from_pandas(dup, preserve_index=False),
                   os.path.join(stale, "part0.parquet"))
    assert trail.read().count() == n_docs


def test_state_gc_on_snapshot(spark, tmp_path):
    """compact_every=3 forces periodic snapshots; superseded snap/delta dirs
    are expired after the snapshot's batch commits."""
    inp = str(tmp_path / "in")
    _write_token_batches(spark, inp, _chain_batches(7))
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    job = IncrementalClosureJob(
        spark, inp, str(tmp_path / "work"), cfg, compact_every=3
    )
    job.run_available(max_files_per_trigger=1)
    sd = str(tmp_path / "work" / "closure_state")
    snaps = sorted(d for d in os.listdir(sd) if d.startswith("snap-"))
    deltas = sorted(d for d in os.listdir(sd) if d.startswith("delta-"))
    # batches 0..6, snapshots at 0, 3, 6 (every 3rd persist): only the
    # newest snapshot and deltas above it survive GC
    assert snaps == ["snap-6"]
    assert deltas == []


def test_watermark_not_advanced_by_crashed_batch(spark, tmp_path):
    """Crash between the stats phase and the sink commit must NOT advance
    the watermark (it derives from the last COMMITTED manifest): on replay,
    a row that was on time at the first attempt stays on time even when the
    batch's event-time spread exceeds the horizon. The replayed run must
    equal an uninterrupted control run."""
    from datetime import datetime, timedelta

    t0 = datetime(2026, 1, 1)

    def _recs(rows_ts, src):
        return [
            {
                "doc_id": f"w{j:08d}_{src}",
                "tokens": [int(t) for t in toks],
                "n_tok": len(toks),
                "source": src,
                "ts": ts,
            }
            for j, (toks, ts) in enumerate(rows_ts)
        ]

    b0 = _recs(
        [([105, 11], t0), ([105, 12], t0 + timedelta(seconds=1)),
         ([106, 21], t0 + timedelta(seconds=2)),
         ([101, 12, 11], t0 + timedelta(seconds=3))],
        "b0",
    )
    # spread 4990s >> horizon 60s: if the crashed attempt persisted its
    # advanced watermark, the replay would drop the t0+10s row as late
    b1 = _recs(
        [([102, 11, 21, 12], t0 + timedelta(seconds=10)),
         ([101, 13, 12], t0 + timedelta(seconds=5000))],
        "b1",
    )
    for d in ("in", "in_ctrl"):
        base = str(tmp_path / d)
        os.makedirs(base)
        write_seq_file(base, "p0.parquet", b0)
        write_seq_file(base, "p1.parquet", b1)

    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    job = IncrementalClosureJob(
        spark, str(tmp_path / "in"), str(tmp_path / "work"), cfg,
        watermark_horizon_seconds=60,
    )
    orig_append = job.sink.append
    state = {"armed": True}

    def crashing_append(df, batch_id, **kw):
        if batch_id == 1 and state["armed"]:
            state["armed"] = False
            raise RuntimeError("injected crash between stats and commit")
        return orig_append(df, batch_id, **kw)

    job.sink.append = crashing_append
    with pytest.raises(Exception, match="injected crash|Query .* terminated"):
        job.run_available(max_files_per_trigger=1)
    assert job.sink.committed_batches() == [0]

    # restart: replayed batch 1 must judge lateness against batch 0's hwm
    job2 = IncrementalClosureJob(
        spark, str(tmp_path / "in"), str(tmp_path / "work"), cfg,
        watermark_horizon_seconds=60,
    )
    job2.run_available(max_files_per_trigger=1)
    assert [m.get("n_late_dropped", 0) for m in job2.metrics()] == [0, 0]

    ctrl = IncrementalClosureJob(
        spark, str(tmp_path / "in_ctrl"), str(tmp_path / "work_ctrl"), cfg,
        watermark_horizon_seconds=60,
    )
    ctrl.run_available(max_files_per_trigger=1)
    assert _sink_triples(job2) == _sink_triples(ctrl)
    assert (11, 21, 12) in _sink_triples(job2)


def _equiv_batches():
    import __spark_entry__ as entry

    return entry._EQUIV_STREAM_BATCHES


def _equiv_golden(spark):
    from relation_graph_spark.materialize import materialize

    rows = [r for b in _equiv_batches() for r in b]
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    return {
        (r.s, r.p, r.o)
        for r in materialize(FX._rows_to_df(spark, rows, "b"), cfg).collect()
    }


def _write_equiv_input(tmp_path):
    import __spark_entry__ as entry

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    entry._write_token_batches(inp, _equiv_batches(), "eq")
    return inp


def test_streaming_equivalence_feedback_delta_path(spark, tmp_path):
    """AX_EQUIV_SOME stream (defs before AND after members) on the
    delta-sized path: sink == one-shot batch, and feedback batches persist
    DELTAS, not per-batch full snapshots (the pre-round-4 fallback)."""
    inp = _write_equiv_input(tmp_path)
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), cfg)
    job.run_available(max_files_per_trigger=1)
    assert _sink_triples(job) == _equiv_golden(spark)
    # late-definition activation against committed history: E ⊑ G, F ⊑ G
    assert {(15, T.SUBCLASSOF, 17), (16, T.SUBCLASSOF, 17)} <= _sink_triples(job)
    sd = str(tmp_path / "work" / "closure_state")
    snaps = sorted(d for d in os.listdir(sd) if d.startswith("snap-"))
    deltas = sorted(d for d in os.listdir(sd) if d.startswith("delta-"))
    assert snaps == ["snap-0"]
    assert deltas == ["delta-1", "delta-2", "delta-3"]


def test_streaming_equivalence_feedback_resume(spark, tmp_path, monkeypatch):
    """Kill/restart mid-stream with standing equivalence definitions: the
    reloaded state (told + R4-derived sc facts) must finish identically."""
    inp_stage = str(tmp_path / "stage")
    inp = str(tmp_path / "in")
    os.makedirs(inp_stage)
    os.makedirs(inp)
    import __spark_entry__ as entry

    entry._write_token_batches(inp_stage, _equiv_batches(), "eq")
    files = sorted(os.listdir(inp_stage))
    # phase 1: first two batches only
    for f in files[:2]:
        shutil.copy2(os.path.join(inp_stage, f), os.path.join(inp, f))
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    work = str(tmp_path / "work")
    # every seeding of the driver rules (the class closure's index among
    # them) — by the batch intake's pull or by a round's — with the closure
    # it seeded the index from
    from relation_graph_spark import incremental as inc
    from relation_graph_spark.closure import ClosureIndex

    seeds, index_pulls = [], []
    real_of = inc.DriverRules.of.__func__

    def recorded_of(cls, tc, *rest):
        rules = real_of(cls, tc, *rest)
        seeds.append((rules, set(zip(tc[0].tolist(), tc[1].tolist()))))
        return rules

    monkeypatch.setattr(inc.DriverRules, "of", classmethod(recorded_of))
    real_index_pull = ClosureIndex.pull.__func__
    monkeypatch.setattr(
        ClosureIndex,
        "pull",
        classmethod(lambda cls, tc: index_pulls.append(tc) or real_index_pull(cls, tc)),
    )

    def pairs(rules):
        sub, sup = rules.tc.pairs()
        return set(zip(sub.tolist(), sup.tolist()))

    job1 = IncrementalClosureJob(spark, inp, work, cfg)
    job1.run_available(max_files_per_trigger=1)
    assert len(job1.metrics()) == 2
    # the bootstrap's intake seeds the driver rules once, in its one pull,
    # and hands them to the stream: the first delta batch seeds nothing
    assert len(seeds) == 1 and seeds[0][0] is not None
    assert pairs(seeds[0][0]) == seeds[0][1]
    assert pairs(job1._state["_sc_rules"]) == {
        tuple(r) for r in job1._state["sc_tc"].collect()
    }
    # phase 2: fresh job object (simulated restart), remaining batches
    for f in files[2:]:
        shutil.copy2(os.path.join(inp_stage, f), os.path.join(inp, f))
    job2 = IncrementalClosureJob(spark, inp, work, cfg)
    has_bot = []
    process = job2.process_batch

    def recording(df, batch_id):
        process(df, batch_id)
        has_bot.append(job2._state["_has_bot"])

    job2.process_batch = recording
    job2.run_available(max_files_per_trigger=1)
    # the restarted job seeds the driver rules once, from the stored sc_tc
    assert len(seeds) == 2 and seeds[1][0] is not None
    assert pairs(seeds[1][0]) == seeds[1][1]
    assert not index_pulls
    # ... and keeps the index equal to the stored closure through later
    # batches
    assert pairs(job2._state["_sc_rules"]) == {
        tuple(r) for r in job2._state["sc_tc"].collect()
    }
    assert _sink_triples(job2) == _equiv_golden(spark)
    # the restart seeds the owl:Nothing stat instead of leaving it unknown
    # (unknown = every later batch recomputes unsat in full)
    assert has_bot and has_bot[0] is False


def test_lineage_running_totals(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_batches(spark, inp, [(1, 7), (8, 10), (11, 12)])
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), TEST_CFG)
    job.run_available(max_files_per_trigger=1)
    ms = job.metrics()
    # running totals accumulate; final total = all 12 fixture rows
    assert ms[-1]["told_rows_by_source"] == {"materialize_test": 12}
    assert ms[0]["told_rows_by_source"] == {"materialize_test": 7}


def test_bucket_layout_pinned(spark, tmp_path):
    """The sink pins its bucket modulus on first use: reopening an existing
    store with a different count must fail loudly (a silent change would
    mis-prune the history anti-join and re-emit duplicates)."""
    import pytest as _pt

    from relation_graph_spark.sinks import IdempotentParquetSink

    root = str(tmp_path / "sink")
    IdempotentParquetSink(spark, root, n_buckets=32)
    IdempotentParquetSink(spark, root, n_buckets=32)  # same modulus: fine
    with _pt.raises(RuntimeError, match="n_buckets=32"):
        IdempotentParquetSink(spark, root, n_buckets=16)


def test_inmemory_sink_binding(spark, tmp_path):
    """The EdgeSink seam: running the pipeline against the in-memory binding
    produces the same live edge set as the parquet binding."""
    from relation_graph_spark.sinks import InMemoryEdgeSink

    inp = str(tmp_path / "in")
    _write_batches(spark, inp, [(1, 10), (11, 12)])
    mem = InMemoryEdgeSink(spark)
    job = IncrementalClosureJob(
        spark, inp, str(tmp_path / "work"), TEST_CFG, sink=mem
    )
    job.run_available(max_files_per_trigger=1)
    got = {(r.s, r.p, r.o) for r in mem.read().select("s", "p", "o").collect()}
    assert got == GOLDEN_ALL
    assert len(mem.metrics()) == 2


def test_stateful_dedup_operator(spark, tmp_path):
    """applyInPandasWithState seen-edge store: duplicates across micro-batches
    are emitted exactly once."""
    from relation_graph_spark.streaming.dedup_state import dedup_edges_stateful

    import pyarrow as pa
    import pyarrow.parquet as pq

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    # two batches with overlapping hashes
    pq.write_table(
        pa.table({"edge_hash": ["h1", "h2", "h1"]}), os.path.join(inp, "b0.parquet")
    )
    pq.write_table(
        pa.table({"edge_hash": ["h2", "h3"]}), os.path.join(inp, "b1.parquet")
    )

    # the session runs stateful operators on the RocksDB provider (scale
    # story: off-heap spillable state) — assert it's actually in effect
    assert "RocksDB" in spark.conf.get("spark.sql.streaming.stateStore.providerClass")

    stream = (
        spark.readStream.schema("edge_hash string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    deduped = dedup_edges_stateful(stream, n_buckets=4)
    out_dir = str(tmp_path / "out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [r.edge_hash for r in spark.read.parquet(out_dir).collect()]
    assert sorted(got) == ["h1", "h2", "h3"]
    # RocksDB state-store instances actually served the stateful operator
    progress = q.lastProgress
    ops = progress["stateOperators"]
    assert ops and ops[0]["numRowsTotal"] >= 1
    assert any(
        "rocksdb" in k.lower() for k in ops[0].get("customMetrics", {})
    ), ops[0]


def test_watermarked_window_aggregation(spark, tmp_path):
    """Native Spark watermark + tumbling window on a stream of sequences:
    append-mode emission after watermark passes."""
    inp = str(tmp_path / "in")
    _write_batches(spark, inp, [(1, 11), (12, 12)])
    stream = (
        spark.readStream.schema(SEQ_TS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    agg = (
        stream.withWatermark("ts", "2 seconds")
        .groupBy(F.window("ts", "5 seconds").alias("w"), "source")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "source", "n")
    )
    out_dir = str(tmp_path / "out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # rows at 1s spacing, ts 0..11 -> window [0,5) holds docs 1-5 and is
    # final once the watermark (max_ts - 2s) passes 5s; later windows may be
    # held back in append mode.
    rows = spark.read.parquet(out_dir).collect()
    got = {(r.win_start.second, r.n) for r in rows}
    assert (0, 5) in got


def test_dedup_within_watermark_operator(spark, tmp_path):
    """Native bounded-lateness dedup: duplicates within the watermark delay
    are dropped; state is evictable (contrast with the unbounded
    applyInPandasWithState store)."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from relation_graph_spark.streaming.dedup_state import dedup_edges_within_watermark

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    t = lambda s: datetime(2026, 1, 1, 0, 0, s)
    pq.write_table(
        pa.table({"edge_hash": ["h1", "h2", "h1"], "ts": [t(0), t(1), t(2)]}),
        os.path.join(inp, "b0.parquet"),
    )
    pq.write_table(
        pa.table({"edge_hash": ["h2", "h3"], "ts": [t(3), t(4)]}),
        os.path.join(inp, "b1.parquet"),
    )
    stream = (
        spark.readStream.schema("edge_hash string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    deduped = dedup_edges_within_watermark(stream, delay="1 hour")
    out_dir = str(tmp_path / "out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.edge_hash for r in spark.read.parquet(out_dir).collect())
    assert got == ["h1", "h2", "h3"]


def test_lock_semantics_alive_holder_and_release_if_ours(tmp_path):
    """locks.PidLock (round-5 ADVICE): an ALIVE holder is never stolen no
    matter how old its stamp (major merges may exceed any fixed bound); the
    age rule applies only to locks whose holder cannot be probed; release
    removes the lock only if it still contains OUR pid+token."""
    import json as _json
    import time as _time

    from relation_graph_spark.locks import PidLock

    path = str(tmp_path / "l.lock")
    a = PidLock(path, stale_seconds=0.1)
    assert a.acquire()
    # backdate the stamp AND the mtime far past staleness: holder (this
    # process) is alive, so acquire must still fail rather than steal
    with open(path) as fh:
        info = _json.load(fh)
    info["ts"] = 0.0
    with open(path, "w") as fh:
        _json.dump(info, fh)
    os.utime(path, (0, 0))
    b = PidLock(path, stale_seconds=0.1)
    assert not b.acquire(wait=0.3)

    # a thief replaces the lock (simulated steal): release-if-ours must NOT
    # delete the thief's lock
    with open(path, "w") as fh:
        _json.dump({"pid": os.getpid(), "ts": _time.time(), "token": "thief"}, fh)
    a.release()
    assert os.path.exists(path)
    os.remove(path)

    # unparseable lock with old mtime: the age rule applies -> stolen
    with open(path, "w") as fh:
        fh.write("not json")
    os.utime(path, (0, 0))
    assert b.acquire(wait=0.3)
    b.release()
    assert not os.path.exists(path)


def test_two_host_compactor_race_fenced(spark, tmp_path, monkeypatch):
    """Round-5 VERDICT item 4: on a shared filesystem the pid probe can lie
    (the real holder lives on another host), letting a second compactor
    steal the lock while the first is mid-merge. The fenced marker publish
    (os.link CAS on marker-v<next_gen>.json) makes exactly ONE of them win;
    the loser gets CompactionConflict, its nonce-named run dir is
    unreferenced, and no committed row is lost."""
    from relation_graph_spark import locks
    from relation_graph_spark.sinks import CompactionConflict, IdempotentParquetSink

    root = str(tmp_path / "sink")
    a = IdempotentParquetSink(spark, root, compact_min_batches=2)
    total = 0
    for b in range(4):
        m = a.append(_edge_batch(spark, b), b)
        total += m["n_rows"]

    # host A takes the lock and reads the marker, then stalls mid-compaction
    assert a._acquire_lock()
    marker_a = a._compaction()
    pending_a = [x for x in a.committed_batches() if x > a._last_base(marker_a)]

    # host B's probe says the holder pid is dead (it's a pid from another
    # host) -> B steals the lock and completes a full compaction
    monkeypatch.setattr(locks, "_pid_alive", lambda pid: False)
    b_handle = IdempotentParquetSink(spark, root, n_buckets=None,
                                     compact_min_batches=2)
    acts = b_handle.compact(lock_wait=0.5)
    assert any(x.startswith("minor") for x in acts)
    marker_b = b_handle._compaction()
    b_handle._release_lock()

    # host A resumes its stalled fold from the stale marker: the fence
    # rejects its publish instead of silently overwriting B's run list
    with pytest.raises(CompactionConflict):
        a._fold_pending(marker_a, pending_a)
    assert a._compaction() == marker_b  # B's commit intact

    # the public entry point degrades to a detected conflict, not a crash
    monkeypatch.setattr(
        IdempotentParquetSink, "_compaction", lambda self: marker_a, raising=True
    )
    assert "conflict:detected" in b_handle.maybe_compact(lock_wait=0.5)
    monkeypatch.undo()

    # A's orphan attempt dirs are swept on the next cycle; every committed
    # row is still readable exactly once
    b2 = IdempotentParquetSink(spark, root, n_buckets=None, compact_min_batches=2)
    b2.maybe_compact(lock_wait=0.5)
    live = {b2._run_dirname(r) for r in b2._compaction()["runs"]}
    on_disk = set(os.listdir(os.path.join(root, "compacted")))
    assert on_disk == live
    assert b2.read().count() == total


def test_fence_survives_crash_before_reader_copy(spark, tmp_path):
    """A crash between the fence link (the commit point) and the
    compacted.json convenience rename must not lose the publish:
    _compaction prefers the newest marker-v file."""
    from relation_graph_spark.sinks import IdempotentParquetSink

    root = str(tmp_path / "sink")
    s = IdempotentParquetSink(spark, root, compact_min_batches=2)
    for b in range(3):
        s.append(_edge_batch(spark, b), b)
    assert any(x.startswith("minor") for x in s.maybe_compact())
    committed = s._compaction()
    # simulate the crash window: reader copy reverted to the pre-publish
    # marker while the fence file carries the commit
    with open(os.path.join(root, "compacted.json"), "w") as fh:
        import json as _json

        _json.dump({"next_gen": 0, "runs": [], "tombstones_folded_through": -1}, fh)
    s2 = IdempotentParquetSink(spark, root, n_buckets=None, compact_min_batches=2)
    assert s2._compaction() == committed


def _doc_frame(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.lit("src").alias("source"),
    )


def test_told_trail_scale_safe_merges(spark, tmp_path, monkeypatch):
    """Round-5 VERDICT item 2: trail folds/merges are repartitioned to the
    merged BYTES (multi-file dirs, no single-task O(total) funnel) and
    compact() is size-tiered — a pass merges only while the newest dir has
    grown to >= merge_ratio x its neighbor, so per-pass cost is bounded by
    the adjacent-pair bytes, not total history."""
    from relation_graph_spark import told_trail as TT

    # tiny target file size -> folds of a few KB still produce >1 file
    monkeypatch.setattr(TT, "TRAIL_FILE_BYTES", 2048)
    trail = TT.ToldTrail(spark, str(tmp_path / "trail"), merge_ratio=2.0)
    # big old history, then small recent intervals
    sizes = {0: 3000, 1: 3000, 2: 400, 3: 400, 4: 1000, 5: 1000}
    for b in range(4):
        trail.write_batch(_doc_frame(spark, b * 10_000, sizes[b]), b)
        if b % 2 == 1:
            assert trail.fold_through(b)
    trails = {d: (lo, hi) for lo, hi, d in trail._trails()}
    assert set(trails.values()) == {(0, 1), (2, 3)}
    # multi-file trail dirs: the fold write was sized to bytes, not 1 task
    import glob

    for d in trails:
        n_files = len(glob.glob(os.path.join(trail.root, d, "*.parquet")))
        assert n_files > 1, f"{d} wrote a single file despite tiny target"

    # size-tiered: small newest vs big oldest -> NO merge happens
    assert not trail.compact()
    assert len(trail._trails()) == 2
    # a newest pair crossing the ratio merges; the cascade STOPS at the big
    # oldest dir (bounded pass cost = adjacent-pair bytes, not O(total))
    for b in (4, 5):
        trail.write_batch(_doc_frame(spark, b * 10_000, sizes[b]), b)
    assert trail.fold_through(5)
    assert trail.compact()
    ranges = sorted((lo, hi) for lo, hi, _d in trail._trails())
    assert ranges == [(0, 1), (2, 5)]  # oldest untouched
    assert trail.read().count() == sum(sizes.values())

    # crash-window debris: a stale source dir whose range is CONTAINED in a
    # published merged dir is superseded, not double-read
    import pyarrow as pa
    import pyarrow.parquet as pq

    merged_lo, merged_hi = ranges[-1]
    stale = os.path.join(trail.root, f"trail-{merged_lo}-{merged_lo}")
    os.makedirs(stale, exist_ok=True)
    dup = trail.read().limit(1).toPandas()
    pq.write_table(pa.Table.from_pandas(dup, preserve_index=False),
                   os.path.join(stale, "part0.parquet"))
    assert trail.read().count() == sum(sizes.values())


def test_told_trail_lock_excludes_concurrent_maintenance(spark, tmp_path):
    """Round-5 ADVICE (medium): fold_through and compact are mutually
    exclusive under trail.lock, so a `maintain --told` process can no longer
    sweep the stream's in-flight fold tmp dir or race its rename; a fresh
    tmp dir is also protected by the sweep's age gate."""
    from relation_graph_spark.locks import PidLock
    from relation_graph_spark.told_trail import ToldTrail

    root = str(tmp_path / "trail")
    trail = ToldTrail(spark, root)
    for b in range(3):
        trail.write_batch(_doc_frame(spark, b * 10, 5), b)

    other = PidLock(os.path.join(root, "trail.lock"))
    assert other.acquire()
    try:
        # inline fold skips rather than racing (folds next snapshot)
        assert not trail.fold_through(2)
        assert trail._batch_ids() == [0, 1, 2]
        # maintenance merge gives up after its bounded wait
        assert not trail.compact(lock_wait=0.2)
    finally:
        other.release()
    assert trail.fold_through(2)

    # a FRESH .tmp dir (a live writer's in-flight job) survives the sweep
    tmp = os.path.join(root, ".tmp-trail-9-9")
    os.makedirs(tmp)
    trail._sweep_stale()
    assert os.path.isdir(tmp)
    os.utime(tmp, (0, 0))
    trail._sweep_stale()
    assert not os.path.isdir(tmp)


def test_try_steal_restores_fresh_live_holder(tmp_path):
    """Round-6 review: a contender that judged an unparseable/aged lock must
    NOT discard what it captures if that capture is a fresh LIVE holder's
    lock (acquired between the contender's read and its rename)."""
    import json as _json
    import time as _time

    from relation_graph_spark.locks import PidLock

    path = str(tmp_path / "l.lock")
    live = {"pid": os.getpid(), "ts": _time.time(), "token": "live-holder"}
    with open(path, "w") as fh:
        _json.dump(live, fh)
    # contender judged nothing parseable (judged=None) — e.g. its earlier
    # read raced a partial write — and tries the steal NOW, against a
    # fully-written live lock
    PidLock(path, stale_seconds=0.1)._try_steal(None)
    with open(path) as fh:
        assert _json.load(fh) == live  # restored, not deleted

    # whereas a provably-dead capture IS discarded even when judged=None
    with open(path, "w") as fh:
        _json.dump({"pid": 2**22 + 12345, "ts": 0.0, "token": "dead"}, fh)
    PidLock(path, stale_seconds=0.1)._try_steal(None)
    assert not os.path.exists(path)


def test_refresh_detects_lost_lock(tmp_path):
    """Round-6 review: a holder whose lock was legitimately stolen must get
    False from refresh() (and must not clobber the thief's lock) instead of
    silently re-stamping over it."""
    import json as _json
    import time as _time

    from relation_graph_spark.locks import PidLock

    path = str(tmp_path / "l.lock")
    a = PidLock(path)
    assert a.acquire()
    assert a.refresh() is True  # still ours
    thief = {"pid": os.getpid(), "ts": _time.time(), "token": "thief"}
    with open(path, "w") as fh:
        _json.dump(thief, fh)
    assert a.refresh() is False
    with open(path) as fh:
        assert _json.load(fh) == thief  # untouched
    a.release()
    assert os.path.exists(path)  # release-if-ours also declined
    os.remove(path)


def test_legacy_trail_upgrade_preserves_merged_history(spark, tmp_path):
    """Round-6 review (confirmed repro): a legacy layout with an old merged
    dir (trail-10-m2, batches 0-10) next to a legacy plain dir (trail-15,
    batches 11-15) must parse as DISJOINT ranges — resolving trail-15 as
    (0,15) would supersede the merged dir and _sweep_stale would delete the
    only copy of batches 0-10."""
    from relation_graph_spark.told_trail import ToldTrail

    root = str(tmp_path / "trail")
    os.makedirs(root)

    def _write(dirname, doc_ids):
        spark.createDataFrame(
            [(f"d{i}", "s") for i in doc_ids], "doc_id: string, source: string"
        ).repartition(1).write.mode("overwrite").parquet(
            os.path.join(root, dirname)
        )

    _write("trail-10-m2", range(0, 11))
    _write("trail-15", range(11, 16))
    trail = ToldTrail(spark, root)
    assert {(lo, hi) for lo, hi, _d in trail._trails()} == {(0, 10), (11, 15)}
    trail._sweep_stale()
    assert os.path.isdir(os.path.join(root, "trail-10-m2"))
    assert os.path.isdir(os.path.join(root, "trail-15"))
    assert trail.read().count() == 16


def test_publish_detects_stale_fence_version(spark, tmp_path):
    """Round-6 review: superseded fence files are swept, so a compactor
    stalled across a full publish+sweep cycle can os.link a RETIRED version
    without FileExistsError. The post-link verification must turn that
    phantom win into CompactionConflict and retract the stale fence."""
    import json as _json

    from relation_graph_spark.sinks import CompactionConflict, IdempotentParquetSink

    sink = IdempotentParquetSink(spark, str(tmp_path / "sink"))
    newest = {"next_gen": 7, "runs": [], "tombstones_folded_through": -1}
    with open(os.path.join(sink.root, "marker-v7.json"), "w") as fh:
        _json.dump(newest, fh)
    stale = {"next_gen": 6, "runs": [], "tombstones_folded_through": -1}
    try:
        sink._publish_compaction(stale)
        assert False, "stale publish must raise CompactionConflict"
    except CompactionConflict:
        pass
    assert not os.path.exists(os.path.join(sink.root, "marker-v6.json"))
    assert sink._compaction()["next_gen"] == 7  # readers unaffected


def test_fold_manifests_carries_session_totals(spark, tmp_path):
    """Round-6 review: manifest folding must carry *_total running totals
    (and sum the per-batch session counters) for ANY job appending to the
    sink — previously only the closure pipeline's keys survived a fold."""
    from relation_graph_spark.sinks import IdempotentParquetSink

    sink = IdempotentParquetSink(spark, str(tmp_path / "sink"))
    df = spark.createDataFrame([("h1", 1)], "edge_hash: string, v: int")
    sink.append(df, 0, extra_metrics={
        "n_sessions_finalized": 2, "n_sessions_finalized_total": 2,
        "n_sessions_forced_split": 1, "n_sessions_forced_split_total": 1,
    })
    sink.append(df.withColumn("edge_hash", F.lit("h2")), 1, extra_metrics={
        "n_sessions_finalized": 3, "n_sessions_finalized_total": 5,
        "n_sessions_forced_split": 0, "n_sessions_forced_split_total": 1,
    })
    sink._fold_manifests(through=1)
    agg = sink._manifest_summary()["agg"]
    assert agg["n_sessions_finalized"] == 5  # summed counters
    assert agg["n_sessions_forced_split"] == 1
    assert agg["n_sessions_finalized_total"] == 5  # carried totals
    assert agg["n_sessions_forced_split_total"] == 1
    # the session job resumes its totals from the folded summary
    folded = sink.metrics()[-1]
    assert folded["n_sessions_finalized_total"] == 5


def test_lock_tolerates_wrongly_typed_payload(tmp_path):
    """Round-6 review 2: a parseable payload with a non-numeric pid (e.g.
    {"pid": null}) must behave like garbage — age-stealable, never a
    TypeError out of acquire()/refresh() mid-protocol."""
    import json as _json

    from relation_graph_spark.locks import PidLock

    path = str(tmp_path / "l.lock")
    with open(path, "w") as fh:
        _json.dump({"pid": None, "ts": 0.0, "token": "x"}, fh)
    os.utime(path, (0, 0))
    b = PidLock(path, stale_seconds=0.1)
    assert b.acquire(wait=0.5)  # aged wrongly-typed lock: stolen, no crash
    with open(path, "w") as fh:  # thief writes another wrongly-typed payload
        _json.dump({"pid": None, "ts": 0.0, "token": "y"}, fh)
    assert b.refresh() is False  # ownership lost, reported — not raised
    os.remove(path)


def test_refresh_reclaims_transiently_missing_lock(tmp_path):
    """Round-6 review 2: an ABSENT lock file during refresh() is ambiguous
    (a stealer may be holding it in its graveyard and will restore it); the
    holder must wait out the window and reclaim the slot, not drop its
    claim and orphan a restored live-pid lock forever."""
    import json as _json

    from relation_graph_spark.locks import PidLock

    path = str(tmp_path / "l.lock")
    a = PidLock(path)
    assert a.acquire()
    os.remove(path)  # transient absence (steal window / FS hiccup)
    assert a.refresh() is True  # reclaimed
    with open(path) as fh:
        assert _json.load(fh)["pid"] == os.getpid()
    a.release()
    assert not os.path.exists(path)
