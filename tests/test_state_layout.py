"""The streaming state store's tagged layout and the per-batch fast path
built on it: every persisted frame reads back under the pinned schema, the
store refuses the old per-frame layout, the driver rounds derive and fire
what the Spark passes and _settle do, the driver state gives way to the
Spark rounds past its bound or on a token it cannot pack, and a steady
micro-batch stays inside its Spark job budget."""

import glob
import json
import os
import random
import shutil
from dataclasses import replace

import numpy as np
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


def _plans(job):
    """{batch id: the R3 plan of each of its rounds}, from the manifests."""
    return {m["batch_id"]: m["r3_plans"] for m in job.metrics()}


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
    # the bootstrap's R4 rounds and every delta batch derived, all of it on
    # the forced path
    plans = _plans(job)
    assert sorted(plans) == [0, 1, 2, 3] and all(plans.values()), plans
    want = "driver" if tc_path == "driver" else "passes"
    assert {p for ps in plans.values() for p in ps} == {want}, plans


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


# ------------------------------------- (iii) driver rounds vs Spark rounds


def test_rel_buckets_match_spark(spark):
    """The driver's rel bucket of a packed key is the one the store
    partitions by (_rel_bucket, Spark's xxhash64)."""
    rng = random.Random(5)
    rows = [tuple(rng.randrange(1 << inc._PACK_BITS) for _ in range(3)) for _ in range(300)]
    want = [
        r["b"]
        for r in spark.createDataFrame(rows, "s int, p int, o int")
        .selectExpr(f"{inc._rel_bucket()} AS b")
        .collect()
    ]
    keys = inc._key3(*(np.array(c) for c in zip(*rows)))
    assert inc._rel_buckets(keys).tolist() == want


def _random_splits(seed, negative):
    """Bootstrap plus two deltas over a random ontology (test_feedback_kernel:
    a cycle, an owl:Nothing edge, a named equivalence, definitions that fire
    over several rounds) plus an existential whose subject is TOP. Delta 1
    grows the property hierarchy, delta 2 adds a late definition.
    `negative` adds a class token below 0, which the driver cannot pack, to
    the bootstrap."""
    from test_feedback_kernel import _ontology

    rows = _ontology(seed)
    late = [r for r in rows if r[0] == T.AX_EQUIV_SOME][-1:]
    subprop = [r for r in rows if r[0] == T.AX_SUBPROP]
    rest = [r for r in rows if r not in late and r not in subprop]
    rest.append([T.AX_SOME, T.TOP, 202, rest[0][1]])
    if negative:
        rest.insert(0, [T.AX_SUBCLASS, -7, 100])
    k = len(rest) // 2
    return [rest[:k], rest[k:] + subprop, late]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_driver_round_equals_passes_and_settle(spark, monkeypatch, seed):
    """Batch by batch, the driver rounds add the same rel rows and R4 facts
    as the Spark rounds (derive_delta_passes + _settle, fused and staged),
    and the state assembles to the Python oracle. With a negative token
    every round falls back to the Spark rounds."""
    from pyoracle import materialize_py

    negative = seed == 3
    splits = _random_splits(seed, negative)
    told = lambda part, i: told_tables(decode_axioms(FX._rows_to_df(spark, part, f"r{i}")))  # noqa: E731
    runs = {}
    for fork, cfg in (
        ("driver", CFG),
        ("fused", CFG),
        ("staged", replace(CFG, incremental_feedback_threshold=0)),
    ):
        with monkeypatch.context() as m:
            if fork != "driver":
                m.setattr(inc.ClassFixpoint, "driven", lambda self: False)
            state = inc.initial_state(told(splits[0], 0), cfg)
            added = [(triples(state["rel"]), _pairs(state["sc"]))]
            plans = list(state["_r3_plans"])
            for i, part in enumerate(splits[1:], 1):
                state, deltas = inc.apply_delta(state, told(part, i), cfg)
                added.append((triples(deltas["rel"]), _pairs(deltas["sc"])))
                plans += state["_r3_plans"]
            runs[fork] = added, plans, triples(inc.assemble_from_state(state, cfg))
    assert runs["driver"][0] == runs["fused"][0] == runs["staged"][0]
    assert runs["driver"][2] == materialize_py([r for s in splits for r in s])
    assert runs["fused"][1] and set(runs["fused"][1]) == {"passes"}
    assert set(runs["driver"][1]) == {"passes" if negative else "driver"}, runs["driver"][1]


def _pairs(df):
    return {tuple(r) for r in df.collect()}


def _one_sided(sc_star, some, sp_star, d_star, full_some):
    parts = [] if full_some is None else [derive_relations(sc_star, full_some, sp_star, 5_000_000)]
    if d_star is not None:
        parts += [
            derive_relations(sc_star, some, sp_star, 5_000_000, subject_star=d_star),
            derive_relations(sc_star, some, sp_star, 5_000_000, filler_star=d_star),
        ]
    want = set()
    for p in parts:
        want |= triples(p)
    return want


@pytest.mark.parametrize("regime", ["default", "staged", "no_broadcast"])
def test_delta_derive_matches_passes_inside_apply_delta(spark, monkeypatch, regime):
    """Every derive apply_delta runs — on seeded random deltas with a late
    sub-property axiom, a late definition and R4 rounds — equals the union
    of the one-sided derive_relations passes over the same inputs, and
    takes the plan its regime selects: driver rounds while the driver state
    fits the broadcast bound (whatever the staged-plan choice), the Spark
    passes when it does not."""
    cfg = {
        "default": CFG,
        "staged": replace(CFG, incremental_feedback_threshold=0),
        "no_broadcast": replace(CFG, broadcast_row_threshold=0),
    }[regime]
    calls = []
    real_passes, real_driver = inc.derive_delta_passes, inc.DriverRules.derive

    def passes(sc_star, some, sp_star, d_star, full_some, *args, **kw):
        got = real_passes(sc_star, some, sp_star, d_star, full_some, *args, **kw)
        assert triples(got) == _one_sided(sc_star, some, sp_star, d_star, full_some)
        calls.append(("passes", full_some is some))
        return got

    def frame(schema, cols):
        return spark.createDataFrame(list(zip(*(c.tolist() for c in cols))), schema)

    def driver(rules, d, full, budget):
        got = real_driver(rules, d, full, budget)
        want = _one_sided(
            frame("sub int, sup int", rules.star.pairs()),
            frame("s int, p int, f int", inc._cols3(rules.some_s)),
            frame("sub int, sup int", (rules.sp >> inc._PACK_BITS, rules.sp & inc._PACK_MASK)),
            frame("sub int, sup int", inc._unpack(d)) if len(d) else None,
            None if full is None else frame("s int, p int, f int", inc._cols3(full)),
        )
        assert set(zip(*(c.tolist() for c in inc._cols3(got)))) == want
        calls.append(("driver", full is rules.some_s))
        return got

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
    monkeypatch.setattr(inc, "derive_delta_passes", passes)
    monkeypatch.setattr(inc.DriverRules, "derive", driver)
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
    assert any(full for _n, full in calls)  # property hierarchy grew
    assert len(calls) > len(splits) - 1  # R4 rounds derived too
    plan = "passes" if regime == "no_broadcast" else "driver"
    assert {name for name, _full in calls} == {plan}, calls
    # the bootstrap fired its definitions against the round-0 rel and batch
    # 2 added late definitions (batch 1, which grew the property hierarchy,
    # settles in Spark only without the driver rounds)
    assert set(first_settles) >= {0, 2} and not any(first_settles.values()), first_settles


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


def test_index_dropped_past_bound_mid_stream(spark, tmp_path):
    """A class closure that grows past the driver state's bound mid-stream:
    the batch that crosses it runs its first round on the driver and its
    R4 round in Spark, after dropping the index, and every later round runs
    in Spark. The live sink still equals the batch output."""
    batches = _feedback_stream(4)
    inp = str(tmp_path / "in")
    _write_batches(inp, batches, "fb")
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), CFG)
    process = job.process_batch

    def bounded(df, batch_id):
        if batch_id == 2:
            # the bound at the star closure's size: the batch's first round
            # still fits, the R4 round (after its new pairs) does not
            job.cfg = replace(CFG, broadcast_row_threshold=job._state["_n_sc_star"])
        process(df, batch_id)

    job.process_batch = bounded
    job.run_available(max_files_per_trigger=1)
    # the bootstrap's R4 round runs on the driver too
    assert _plans(job) == {
        0: ["driver"],
        1: ["driver", "driver"],
        2: ["driver", "passes"],
        3: ["passes", "passes"],
        4: ["passes", "passes"],
    }
    assert job._state["_sc_index"] is None and job._state["_sc_rules"] is None
    assert _sink(job) == _golden(spark, batches)


def test_driver_rounds_fall_back_on_a_null_token(spark):
    """A null token in a rule input leaves the rounds to Spark (a packed key
    would compose it; SQL joins never do): the driver rules are not built,
    and the output equals the all-Spark one."""
    rows = _feedback_stream(0)[0]
    tables = told_tables(decode_axioms(FX._rows_to_df(spark, rows, "n")))
    tables["some"] = tables["some"].unionByName(
        spark.createDataFrame([(None, 201, 12)], "s int, p int, f int")
    )
    got = inc.initial_state(tables, CFG)
    want = inc.initial_state(tables, replace(CFG, broadcast_row_threshold=0))
    assert got["_r3_plans"] and set(got["_r3_plans"]) == {"passes"}
    assert got["_sc_rules"] is None and got["_sc_index"] is not None
    assert triples(inc.assemble_from_state(got, CFG)) == triples(
        inc.assemble_from_state(want, CFG)
    )


# ------------------------------------------------------- per-batch job budget

# Spark jobs a steady toy feedback batch may start (the told fold, the
# driver rounds' fold pull and history probe, state persist, sink commit).
# The engine starts 17 on this toy (35 when each R4 round derived
# and settled in Spark; 39-42 when each TC call pulled the whole closure
# and each closure delta was counted by a job; 114-125 with one job per
# frame and per probe); the margin absorbs plan-shape noise, not a return
# of per-frame jobs.
STEADY_BATCH_JOB_BUDGET = 21


def test_steady_batch_job_budget(spark, tmp_path, monkeypatch):
    batches = _feedback_stream(4)
    inp = str(tmp_path / "in")
    _write_batches(inp, batches, "fb")
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), CFG)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    process = job.process_batch

    def counted(df, batch_id):
        j0 = dag.nextJobId()
        process(df, batch_id)
        jobs[batch_id] = dag.nextJobId() - j0

    job.process_batch = counted
    # the driver rounds extend the class closure's index directly: no
    # incremental TC call
    tc_calls = []
    real_tc = inc.incremental_tc
    monkeypatch.setattr(inc, "incremental_tc", lambda *a, **kw: tc_calls.append(1) or real_tc(*a, **kw))
    job.run_available(max_files_per_trigger=1)
    assert sorted(jobs) == list(range(len(batches)))
    steady = [jobs[b] for b in range(2, len(batches))]
    assert max(steady) <= STEADY_BATCH_JOB_BUDGET, jobs
    # every round of every steady batch ran on the driver
    plans = _plans(job)
    assert all(plans[b] and set(plans[b]) == {"driver"} for b in range(2, len(batches))), plans
    assert not tc_calls
    assert _sink(job) == _golden(spark, batches)
