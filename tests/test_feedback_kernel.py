"""The R4 feedback kernel (incremental.feedback_rounds) that the batch and
the stream share, on seeded random ontologies with definitions, named-class
cycles, a named equivalence and an owl:Nothing edge: batch materialize
equals the Python oracle under every fork of the kernel — driver rounds
over the class closure's index, or Spark rounds (distributed TC and the
one-sided passes, fused or staged) — and a 3-batch stream's live sink
equals the batch output. A negative filler or property token, which no
packed key holds, sends every round to Spark, unpacked. The class
closure's driver state is pulled only by a round that needs it. Without
definitions, the batch's told intake closes round 0 on the driver or, past
its gates or on a null token, in Spark; both equal the oracle."""

import importlib
import os
import random
from dataclasses import replace

import pytest
from pyoracle import materialize_py

from relation_graph_spark import closure
from relation_graph_spark import fixtures as FX
from relation_graph_spark import incremental as inc
from relation_graph_spark import tokens as T
from relation_graph_spark.config import RGConfig
from relation_graph_spark.decode import decode_axioms, told_tables
from relation_graph_spark.materialize import materialize
from relation_graph_spark.streaming.pipeline import IncrementalClosureJob

from conftest import triples

CFG = RGConfig(output_subclasses=True, reflexive_subclasses=False)
# by module path: the package re-exports a function named materialize
M = importlib.import_module("relation_graph_spark.materialize")


def _ontology(seed, defs=True, bot=True):
    """Seeded random rows; `defs=False` drops the definitions and `bot=False`
    the owl:Nothing edge (the other rows stay as they are)."""
    rng = random.Random(seed)
    classes = list(range(100, 100 + rng.randint(14, 20)))
    props = [200, 201, 202]
    rows = [[T.AX_DECL_CLASS, c] for c in classes] + [[T.AX_DECL_PROP, p] for p in props]
    rows.append([T.AX_SUBPROP, 200, 201])
    # a random hierarchy, a named-class cycle, a named equivalence and an
    # unsatisfiable class
    rows += [
        [T.AX_SUBCLASS, rng.choice(classes), rng.choice(classes)]
        for _ in range(rng.randint(8, 16))
    ]
    a, b, c = rng.sample(classes, 3)
    rows += [[T.AX_SUBCLASS, a, b], [T.AX_SUBCLASS, b, c], [T.AX_SUBCLASS, c, a]]
    rows.append([T.AX_EQUIV_NAMED, *rng.sample(classes, 2)])
    rows.append([T.AX_SUBCLASS, rng.choice(classes), T.BOT])
    some = [
        [T.AX_SOME, rng.choice(classes), rng.choice(props), rng.choice(classes)]
        for _ in range(rng.randint(10, 20))
    ]
    rows += some
    # definitions: one a told existential satisfies (R4 fires in the first
    # round), one satisfied through the first's own existential (the next
    # rounds), and random ones; defined classes carry existentials too
    _, p0, f0 = some[0][1:]
    q, h = rng.choice(props), rng.choice(classes)
    rows += [[T.AX_EQUIV_SOME, 300, p0, f0], [T.AX_SOME, 300, q, h], [T.AX_EQUIV_SOME, 301, q, h]]
    for f in range(302, 302 + rng.randint(1, 3)):
        rows.append([T.AX_EQUIV_SOME, f, rng.choice(props), rng.choice(classes)])
        rows.append([T.AX_SOME, f, rng.choice(props), rng.choice(classes)])
    rng.shuffle(rows)
    return [r for r in rows if (defs or r[0] != T.AX_EQUIV_SOME) and (bot or r[-1] != T.BOT)]


# fork -> (config overrides, R3 plan of every round, staged Spark derive)
FORKS = {
    "index_driver_rounds": ({}, "driver", None),
    "index_driver_rounds_staged_r0": ({"incremental_feedback_threshold": 0}, "driver", None),
    "distributed_fused_passes": ({"broadcast_row_threshold": 0}, "passes", False),
    "distributed_staged_passes": (
        {"broadcast_row_threshold": 0, "incremental_feedback_threshold": 0},
        "passes",
        True,
    ),
}


@pytest.fixture()
def kernel_paths(monkeypatch):
    """Record the R3 plan of each kernel round, each (distributed)
    incremental TC call and the staged flag of each Spark derive, and
    assert that no TC call is served by the closure's index: only the
    driver rounds extend it."""
    paths = {"plans": [], "tc": [], "staged": []}
    real_rounds, real_tc, real_passes = (
        inc.feedback_rounds,
        inc.incremental_tc,
        inc.derive_delta_passes,
    )

    def rounds(fx, *args, **kw):
        try:
            return real_rounds(fx, *args, **kw)
        finally:
            paths["plans"] += fx.plans

    def tc(*args, **kw):
        paths["tc"].append(1)
        return real_tc(*args, **kw)

    def passes(*args, **kw):
        paths["staged"].append(kw["staged"])
        return real_passes(*args, **kw)

    def index_served(*args, **kw):
        raise AssertionError("an incremental TC call was served by the index")

    monkeypatch.setattr(inc, "feedback_rounds", rounds)
    monkeypatch.setattr(inc, "incremental_tc", tc)
    monkeypatch.setattr(inc, "derive_delta_passes", passes)
    monkeypatch.setattr(closure, "_driver_incremental_tc", index_served)
    return paths


@pytest.mark.parametrize("fork", list(FORKS))
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_batch_feedback_forks_equal_oracle(spark, kernel_paths, seed, fork):
    overrides, plan, staged = FORKS[fork]
    cfg = replace(CFG, **overrides)
    rows = _ontology(seed)
    if seed == 3:
        # a negative filler and a negative property token: the R3 rows
        # holding them must not pass through a packed distinct, and the
        # driver rules, which pack every token, give way to Spark rounds
        rows += [[T.AX_SOME, 100, 201, -5], [T.AX_SOME, 101, -9, 100], [T.AX_SUBCLASS, -5, 102]]
        plan, staged = "passes", cfg.incremental_feedback_threshold == 0
    got = triples(materialize(FX._rows_to_df(spark, rows, "k"), cfg))
    assert got == materialize_py(rows), (seed, fork)
    # R4 fired, the rounds ran, and every one of them took this fork
    assert kernel_paths["plans"] and set(kernel_paths["plans"]) == {plan}, kernel_paths
    if plan == "driver":
        # the rounds extend the index directly: no TC call, no Spark derive
        assert not kernel_paths["tc"] and not kernel_paths["staged"], kernel_paths
    else:
        assert kernel_paths["tc"], kernel_paths
        assert set(kernel_paths["staged"]) == {staged}, kernel_paths


def test_no_driver_pull_without_a_round(spark, monkeypatch):
    """A definition no class satisfies fires nothing: the batch runs no
    feedback round, so no round pulls the class closure's index or the
    driver rules (the intake's one pull seeds the rules)."""
    from relation_graph_spark.closure import ClosureIndex

    pulls = []
    real_pull, real_index_pull = inc.ClassFixpoint.pull, ClosureIndex.pull.__func__
    monkeypatch.setattr(
        inc.ClassFixpoint, "pull", lambda *a, **kw: pulls.append("state") or real_pull(*a, **kw)
    )
    monkeypatch.setattr(
        ClosureIndex,
        "pull",
        classmethod(lambda cls, tc: pulls.append("index") or real_index_pull(cls, tc)),
    )
    rows = [
        [T.AX_SUBCLASS, 11, 12],
        [T.AX_SOME, 11, 201, 13],
        [T.AX_EQUIV_SOME, 300, 202, 13],
    ]
    got = triples(materialize(FX._rows_to_df(spark, rows, "k"), CFG))
    assert got == materialize_py(rows)
    assert pulls == []


# ------------------------------------------------------------- told intake


@pytest.fixture()
def intake_paths(monkeypatch):
    """Record whether the driver intake closed round 0, which hierarchy each
    Spark closure call closed (`sc` for transitive_closure, `sp` for
    property_star), whether each driver TC pass served its call, each
    derive's packability, and each compute_unsat call of the batch
    fixpoint."""
    paths = {"intake": [], "tc": [], "driver_tc": [], "packable": [], "unsat": []}
    spies = (
        (inc, "driver_intake", "intake", lambda out, kw: bool(out)),
        (M, "transitive_closure", "tc", lambda out, kw: "sc"),
        (M, "property_star", "tc", lambda out, kw: "sp"),
        (closure, "_driver_tc", "driver_tc", lambda out, kw: out is not None),
        (M, "derive_relations", "packable", lambda out, kw: kw["packable"]),
        (M, "compute_unsat", "unsat", lambda out, kw: True),
    )
    for mod, name, key, record in spies:
        def spy(*a, _real=getattr(mod, name), _key=key, _record=record, **kw):
            out = _real(*a, **kw)
            paths[_key].append(_record(out, kw))
            return out

        monkeypatch.setattr(mod, name, spy)
    return paths


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize("bot", [False, True])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_intake_forks_equal_oracle(spark, monkeypatch, intake_paths, seed, bot, path):
    """Without definitions, round 0 closes both hierarchies on the driver
    from the intake's one pull (no Spark closure call), and computes unsat
    only when the closure holds an owl:Nothing pair; forced past its gates,
    both closures run in distributed rounds and unsat is computed. Both
    equal the oracle, and seed 3's negative tokens derive unpacked on
    either path."""
    cfg = CFG
    if path == "distributed":
        monkeypatch.setattr(closure, "_DRIVER_TC_EDGES", 0)
        cfg = replace(CFG, broadcast_row_threshold=0)
    rows = _ontology(seed, defs=False, bot=bot)
    if seed == 3:
        rows += [[T.AX_SOME, 100, 201, -5], [T.AX_SOME, 101, -9, 100], [T.AX_SUBCLASS, -5, 102]]
    got = triples(materialize(FX._rows_to_df(spark, rows, "k"), cfg))
    assert got == materialize_py(rows), (seed, bot, path)
    p = intake_paths
    assert p["intake"] == [path == "driver"], p
    if path == "driver":
        assert not p["tc"] and not p["driver_tc"] and p["unsat"] == [True] * bot, p
    else:
        assert sorted(p["tc"]) == ["sc", "sp"] and not p["driver_tc"] and p["unsat"] == [True], p
    assert p["packable"] == [seed != 3], p


def test_intake_falls_back_on_a_null_token(spark, intake_paths):
    """A null token in a told hierarchy sends round 0 to Spark: property_star
    closes the property hierarchy in transitive_closure's driver pass, which
    refuses the class hierarchy, and unsat is computed. The null edge leads
    to a class of no other row, so no SQL join composes it (a composing
    null keeps the distributed closure from converging), and the output
    equals the oracle of the other rows."""
    rows = _ontology(1, defs=False)
    tables = told_tables(decode_axioms(FX._rows_to_df(spark, rows, "n")))
    tables["sc"] = tables["sc"].unionByName(
        spark.createDataFrame([(None, 999)], "sub int, sup int")
    )
    got = triples(M.assemble_output(M.materialize_edges(tables, CFG), CFG))
    assert got == materialize_py(rows)
    p = intake_paths
    assert p["intake"] == [False] and p["tc"] == ["sp", "sc"] and p["unsat"] == [True], p
    assert p["driver_tc"] == [True, False], p


def test_stream_on_random_ontology_equals_batch(spark, tmp_path):
    import __spark_entry__ as entry

    rows = _ontology(2)
    k = len(rows) // 3
    batches = [rows[:k], rows[k : 2 * k], rows[2 * k :]]
    inp = str(tmp_path / "in")
    os.makedirs(inp)
    entry._write_token_batches(inp, batches, "k")
    job = IncrementalClosureJob(spark, inp, str(tmp_path / "work"), CFG)
    job.run_available(max_files_per_trigger=1)
    assert len(job.metrics()) == 3
    want = triples(materialize(FX._rows_to_df(spark, rows, "k"), CFG))
    assert triples(job.result_edges()) == want == materialize_py(rows)
