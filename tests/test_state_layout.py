"""The streaming state store's tagged layout and the per-batch fast path
built on it: every persisted frame reads back under the pinned schema, the
store refuses the old per-frame layout, the shared-scan delta derive equals
the one-sided passes it replaces, the class closure's driver-resident index
gives way to the distributed TC past its bound, and a steady micro-batch
stays inside its Spark job budget."""

import glob
import json
import os
import random
import shutil
from dataclasses import replace

import pyarrow.parquet as pq
import pytest

from relation_graph_spark import fixtures as FX
from relation_graph_spark import incremental as inc
from relation_graph_spark import tokens as T
from relation_graph_spark.config import RGConfig
from relation_graph_spark.decode import decode_axioms, told_tables
from relation_graph_spark.materialize import derive_relations, materialize
from relation_graph_spark.streaming.pipeline import IncrementalClosureJob

from conftest import triples

CFG = RGConfig(output_subclasses=True, reflexive_subclasses=False)


def _write_batches(inp, batches, source):
    import __spark_entry__ as entry

    os.makedirs(inp, exist_ok=True)
    entry._write_token_batches(inp, batches, source)


def _feedback_stream(n_deltas):
    """A toy of the feedback workload: a binary class tree with standing
    `D ≡ p some H` definitions; each delta adds fresh classes whose told
    existential fires a definition, so every delta runs incremental TC, one
    R4 round and a delta-sized derive."""
    tree = list(range(11, 41))
    base = [[T.AX_DECL_PROP, 201], [T.AX_DECL_PROP, 202]]
    base += [[T.AX_DECL_CLASS, c] for c in tree + [301, 302]]
    base += [[T.AX_SUBCLASS, c, 11 + (c - 12) // 2] for c in tree[1:]]
    base += [[T.AX_EQUIV_SOME, 301, 201, 12], [T.AX_EQUIV_SOME, 302, 202, 13]]
    base += [[T.AX_SOME, 301, 202, 35], [T.AX_SOME, 302, 201, 36]]
    base += [[T.AX_SOME, 20 + i, 201 + i % 2, 30 + i] for i in range(8)]
    deltas = []
    for k in range(n_deltas):
        a, b = 1000 + 10 * k, 1001 + 10 * k
        deltas.append(
            [
                [T.AX_DECL_CLASS, a],
                [T.AX_DECL_CLASS, b],
                [T.AX_SUBCLASS, b, a],
                [T.AX_SUBCLASS, a, 25 + k % 5],
                # 14 sits under 12 and 16 under 13: fires 301 / 302
                [T.AX_SOME, a, 201 + k % 2, 14 + 2 * (k % 2)],
            ]
        )
    return [base] + deltas


def _golden(spark, batches):
    rows = [r for b in batches for r in b]
    return triples(materialize(FX._rows_to_df(spark, rows, "g"), CFG))


def _sink(job):
    return triples(job.result_edges())


def _tc_paths(monkeypatch):
    """{batch id: [served by the class closure's index?] per incremental TC
    call}, recorded from every stream job run while the patch holds (a
    batch materialize's R4 rounds outside a stream batch are not)."""
    paths, batch = {}, []
    process, tc = IncrementalClosureJob.process_batch, inc.incremental_tc

    def tracked(self, df, batch_id):
        batch[:] = [batch_id]
        try:
            return process(self, df, batch_id)
        finally:
            batch.clear()

    def recorded(*args, **kw):
        out = tc(*args, **kw)
        if batch:
            paths.setdefault(batch[0], []).append(out[2] is not None)
        return out

    monkeypatch.setattr(IncrementalClosureJob, "process_batch", tracked)
    monkeypatch.setattr(inc, "incremental_tc", recorded)
    return paths


# ------------------------------------------------ (i) pinned-schema read back


def _assert_int32_store(spark, state_dir):
    """Every parquet file of every snapshot/delta is tagged int32 tokens,
    and each root reads back under the pinned schema exactly as schema
    inference reads it."""
    roots = sorted(
        d
        for d in glob.glob(os.path.join(state_dir, "*"))
        if os.path.basename(d).startswith(("snap-", "delta-"))
    )
    assert roots
    for root in roots:
        files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        assert files, root
        for f in files:
            schema = pq.read_schema(f)
            assert [schema.field(c).type for c in inc._TAG_COLS] == ["int32"] * 3, (f, schema)
        inferred = spark.read.option("pathGlobFilter", "*.parquet").parquet(root)
        assert {n: t for n, t in inferred.dtypes if n in inc._TAG_COLS} == {
            c: "int" for c in inc._TAG_COLS
        }
        pinned = inc._read_state(spark, root)
        cols = ["frame", *inc._TAG_COLS]
        assert sorted(pinned.select(cols).collect()) == sorted(inferred.select(cols).collect())
    return [os.path.basename(r) for r in roots]


@pytest.mark.parametrize("tc_path", ["driver", "distributed"])
def test_every_persisted_frame_reads_back_pinned(spark, tmp_path, monkeypatch, tc_path):
    """Bootstrap snapshot, plain delta, consolidated delta and R4 feedback
    batches, on both sides of the TC fork: no int32 -> bigint drift. The
    index is kept only while the star closure fits the broadcast bound, so
    a zero bound sends every TC call down the distributed path."""
    cfg = CFG if tc_path == "driver" else replace(CFG, broadcast_row_threshold=0)
    paths = _tc_paths(monkeypatch)
    batches = _feedback_stream(3)
    stage, inp = str(tmp_path / "stage"), str(tmp_path / "in")
    os.makedirs(inp)
    _write_batches(stage, batches, "fb")
    files = sorted(os.listdir(stage))
    work = str(tmp_path / "work")
    sd = os.path.join(work, "closure_state")

    def run(upto):
        for f in files[:upto]:
            shutil.copy2(os.path.join(stage, f), os.path.join(inp, f))
        job = IncrementalClosureJob(spark, inp, work, cfg, compact_every=100, delta_fold_every=2)
        job.run_available(max_files_per_trigger=1)
        return job

    run(2)  # snap-0 (bootstrap) + delta-1 (plain delta, feedback round)
    assert _assert_int32_store(spark, sd) == ["delta-1", "snap-0"]
    job = run(4)  # delta-2 folds delta-1, delta-3 folds delta-2
    assert _assert_int32_store(spark, sd) == ["delta-3", "snap-0"]
    assert inc.folded_delta_ids(sd, 3) == [1, 2]
    # the restarted job loads the same frames under the pinned schema
    loaded, _ = inc.load_state(spark, sd, job.sink.committed_batches())
    for name in inc.PERSISTED_FRAMES:
        df = loaded[inc.DERIVED_FRAMES.get(name, name)]
        assert set(dict(df.dtypes).values()) == {"int"}, (name, df.dtypes)
    assert _sink(job) == _golden(spark, batches)
    # the bootstrap's R4 rounds and every delta batch ran incremental TC,
    # all of it on the forced path
    assert sorted(paths) == [0, 1, 2, 3], paths
    assert {p for calls in paths.values() for p in calls} == {tc_path == "driver"}, paths


# ------------------------------------------------------ (ii) format version


def test_layout_pins_state_format_and_refuses_per_frame_store(spark, tmp_path):
    root = str(tmp_path / "state")
    df = spark.range(3).selectExpr("cast(id as int) as c")
    inc.save_state_delta({"classes": df}, root, 1)
    with open(os.path.join(root, "layout.json")) as fh:
        assert json.load(fh) == {
            "rel_buckets": inc.REL_BUCKETS,
            "state_format": inc.STATE_FORMAT,
        }

    legacy = str(tmp_path / "legacy")
    os.makedirs(os.path.join(legacy, "snap-0", "rel"))
    with open(os.path.join(legacy, "layout.json"), "w") as fh:
        json.dump({"rel_buckets": inc.REL_BUCKETS}, fh)
    with pytest.raises(RuntimeError, match="state format 1 .*per frame"):
        inc.load_state(spark, legacy, [0])
    with pytest.raises(RuntimeError, match="fresh work dir"):
        inc.save_state_delta({"classes": df}, legacy, 1)


# ----------------------------------------- (iii) shared-scan derive equality


def _random_closure(rng, classes, n_edges):
    """(sub, sup) reflexive-transitive closure of a random DAG + TOP rows."""
    up = {c: set() for c in classes}
    for _ in range(n_edges):
        a, b = sorted(rng.sample(classes, 2))
        up[b].add(a)  # higher token under lower: acyclic
    star = set()
    for c in classes:
        seen, todo = {c}, [c]
        while todo:
            for p in up[todo.pop()]:
                if p not in seen:
                    seen.add(p)
                    todo.append(p)
        star |= {(c, s) for s in seen} | {(c, T.TOP)}
    return sorted(star)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_shared_scan_derive_equals_one_sided_passes(spark, seed):
    rng = random.Random(seed)
    classes = list(range(11, 41))
    props = [201, 202, 203]
    star = _random_closure(rng, classes, 40)
    d_star = rng.sample(star, 12)
    some = [(rng.choice(classes), rng.choice(props), rng.choice(classes)) for _ in range(50)]
    d_some = rng.sample(some, 6)
    sp_star = [(p, p) for p in props] + [(201, 202), (202, 203), (201, 203)]

    sc = spark.createDataFrame(star, "sub int, sup int")
    ds = spark.createDataFrame(d_star, "sub int, sup int")
    so = spark.createDataFrame(some, "s int, p int, f int")
    dso = spark.createDataFrame(d_some, "s int, p int, f int")
    sp = spark.createDataFrame(sp_star, "sub int, sup int")

    def passes(full):
        parts = [
            derive_relations(sc, so, sp, 5_000_000, subject_star=ds, staged=False),
            derive_relations(sc, so, sp, 5_000_000, filler_star=ds, staged=False),
        ]
        if full is not None:
            parts.append(derive_relations(sc, full, sp, 5_000_000, staged=False))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return triples(out)

    # steady batch (new told existentials), property hierarchy grew (every
    # told existential), and an R4 round (closure delta only)
    for full in (dso, so, None):
        want = passes(full)
        assert want
        got = inc.derive_delta_relations(sc, so, sp, ds, full, max_token=300)
        assert triples(got) == want, seed
        # the plan above the shared-scan regime: staged and/or hub-salted
        for staged, bcast in ((True, True), (False, False), (True, False)):
            got = inc.derive_delta_passes(
                sc, so, sp, ds, full, 5_000_000, sides_broadcast=bcast, staged=staged, max_token=300
            )
            assert triples(got) == want, (seed, staged, bcast)
    assert triples(inc.derive_delta_relations(sc, so, sp, None, dso)) == triples(
        derive_relations(sc, dso, sp, 5_000_000, staged=False)
    )


@pytest.mark.parametrize("regime", ["default", "staged", "no_broadcast"])
def test_delta_derive_matches_passes_inside_apply_delta(spark, monkeypatch, regime):
    """Every derive apply_delta runs — on seeded random deltas with a late
    sub-property axiom, a late definition and R4 rounds — equals the union
    of the one-sided passes over the same inputs, and takes the plan its
    regime selects: the shared-scan chain while the sides broadcast, the
    one-sided passes when they do not, or when a grown property hierarchy
    re-derives every told existential past the staged-plan crossover."""
    cfg = {
        "default": CFG,
        "staged": replace(CFG, incremental_feedback_threshold=0),
        "no_broadcast": replace(CFG, broadcast_row_threshold=0),
    }[regime]
    calls = []

    def checked(name):
        real = getattr(inc, name)

        def derive(sc_star, some, sp_star, d_star, full_some, *args, **kw):
            got = real(sc_star, some, sp_star, d_star, full_some, *args, **kw)
            parts = [] if full_some is None else [derive_relations(sc_star, full_some, sp_star, 5_000_000)]
            if d_star is not None:
                parts += [
                    derive_relations(sc_star, some, sp_star, 5_000_000, subject_star=d_star),
                    derive_relations(sc_star, some, sp_star, 5_000_000, filler_star=d_star),
                ]
            want = set()
            for p in parts:
                want |= triples(p)
            assert triples(got) == want
            calls.append((name, d_star is not None, full_some is some))
            return got

        return derive

    rng = random.Random(7)
    rows = FX.gen_ontology_rows(40, 3, 80)
    rng.shuffle(rows)
    # classes 100..139, property chain 140 <= 141 <= 142
    defs = [[T.AX_EQUIV_SOME, 155 + i, 140 + i % 3, 100 + 7 * i % 40] for i in range(3)]
    subprop = [[T.AX_DECL_PROP, 143], [T.AX_SUBPROP, 141, 143]]
    k = len(rows) // 3
    splits = [rows[:k] + defs[:1], rows[k : 2 * k] + subprop, rows[2 * k :] + defs[1:]]
    # the batch output, before the derives are recorded
    want = _golden(spark, [[r for s in splits for r in s]])
    for name in ("derive_delta_relations", "derive_delta_passes"):
        monkeypatch.setattr(inc, name, checked(name))
    # the first settle of each batch, the bootstrap's (batch 0) included:
    # (batch, narrow) — a history-sized candidate set must not be read
    # through a single partition
    first_settles = {}
    real_settle = inc._settle

    def settle(*args, narrow=False, **kw):
        first_settles.setdefault(batch, narrow)
        return real_settle(*args, narrow=narrow, **kw)

    monkeypatch.setattr(inc, "_settle", settle)
    told = lambda part, i: told_tables(decode_axioms(FX._rows_to_df(spark, part, f"s{i}")))  # noqa: E731
    batch = 0
    state = inc.initial_state(told(splits[0], 0), cfg)
    for batch, part in enumerate(splits[1:], 1):
        state, _ = inc.apply_delta(state, told(part, batch), cfg)
    assert triples(inc.assemble_from_state(state, cfg)) == want
    assert any(full for _n, _d, full in calls)  # property hierarchy grew
    assert len(calls) > len(splits) - 1  # R4 rounds derived too
    for name, _d, full in calls:
        passes = regime == "no_broadcast" or (regime == "staged" and full)
        assert name == ("derive_delta_passes" if passes else "derive_delta_relations"), calls
    # the bootstrap fired its definitions against the round-0 rel, batch 1
    # grew the property hierarchy, batch 2 added late definitions
    assert first_settles == {0: False, 1: False, 2: False}


def test_stream_without_broadcasts_equals_batch(spark, tmp_path):
    """With no broadcast allowed (row bound 0, session threshold -1) every
    per-batch plan takes its parallel side: hub-salted one-sided derive
    passes, a shuffled history anti-join, and multi-partition probes and
    fired-fact dedups. The live sink still equals the batch output."""
    cfg = replace(CFG, broadcast_row_threshold=0)
    batches = _feedback_stream(3)
    inp = str(tmp_path / "in")
    _write_batches(inp, batches, "fb")
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), cfg)
        job.run_available(max_files_per_trigger=1)
        got = _sink(job)
    finally:
        spark.conf.set(key, prev)
    assert got == _golden(spark, batches)


def test_index_dropped_past_bound_mid_stream(spark, tmp_path, monkeypatch):
    """A class closure that grows past the index's bound mid-stream: the
    batch that crosses it drops the index after its first TC call, and every
    later call runs distributed. The live sink still equals the batch
    output."""
    paths = _tc_paths(monkeypatch)
    batches = _feedback_stream(4)
    inp = str(tmp_path / "in")
    _write_batches(inp, batches, "fb")
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), CFG)
    process = job.process_batch

    def bounded(df, batch_id):
        if batch_id == 2:
            # the bound at the star closure's size: the batch's first TC
            # call still fits, the R4 round's (after its new pairs) does not
            job.cfg = replace(CFG, broadcast_row_threshold=job._state["_n_sc_star"])
        process(df, batch_id)

    job.process_batch = bounded
    job.run_available(max_files_per_trigger=1)
    # the bootstrap's two R4 rounds are index-served too
    assert paths == {
        0: [True, True], 1: [True, True], 2: [True, False], 3: [False, False], 4: [False, False]
    }
    assert job._state["_sc_index"] is None
    assert _sink(job) == _golden(spark, batches)


# ------------------------------------------------------- per-batch job budget

# Spark jobs a steady toy feedback batch may start (incremental TC, one R4
# round, state persist, sink commit). The engine starts 35 on this toy
# (39-42 when each TC call pulled the whole closure and each closure delta
# was counted by a job; 114-125 with one job per frame and per probe); the
# margin absorbs plan-shape noise, not a return of per-frame jobs.
STEADY_BATCH_JOB_BUDGET = 39


def test_steady_batch_job_budget(spark, tmp_path, monkeypatch):
    batches = _feedback_stream(4)
    inp = str(tmp_path / "in")
    _write_batches(inp, batches, "fb")
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), CFG)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    process = job.process_batch
    batch = []

    def counted(df, batch_id):
        batch[:] = [batch_id]
        j0 = dag.nextJobId()
        process(df, batch_id)
        jobs[batch_id] = dag.nextJobId() - j0

    job.process_batch = counted
    # a steady batch's history anti-join and R4 dedup take the
    # single-partition probes the budget counts on (the bootstrap's rounds
    # settle against the in-memory rel, never narrow)
    narrow = []
    real_settle = inc._settle

    def settle(*args, **kw):
        if batch[0] > 0:
            narrow.append(kw.get("narrow", False))
        return real_settle(*args, **kw)

    monkeypatch.setattr(inc, "_settle", settle)
    # every incremental TC call is served by the class closure's index, at
    # one job (the pull of its edge delta)
    tc_jobs = []
    real_tc = inc.incremental_tc

    def tc(*args, **kw):
        j0 = dag.nextJobId()
        out = real_tc(*args, **kw)
        tc_jobs.append((out[2] is not None, dag.nextJobId() - j0))
        return out

    monkeypatch.setattr(inc, "incremental_tc", tc)
    job.run_available(max_files_per_trigger=1)
    assert sorted(jobs) == list(range(len(batches)))
    steady = [jobs[b] for b in range(2, len(batches))]
    assert max(steady) <= STEADY_BATCH_JOB_BUDGET, jobs
    assert narrow and all(narrow), narrow
    assert tc_jobs and all(served and n <= 1 for served, n in tc_jobs), tc_jobs
    assert _sink(job) == _golden(spark, batches)
