"""The R4 feedback kernel (incremental.feedback_rounds) that the batch and
the stream share, on seeded random ontologies with definitions, named-class
cycles, a named equivalence and an owl:Nothing edge: batch materialize
equals the Python oracle under every fork of the kernel — driver rounds
over the class closure's index, or Spark rounds (distributed TC and the
one-sided passes, fused or staged) — and a 3-batch stream's live sink
equals the batch output. The class closure's driver state is pulled only
by a round that needs it."""

import os
import random
from dataclasses import replace

import pytest
from pyoracle import materialize_py

from relation_graph_spark import fixtures as FX
from relation_graph_spark import incremental as inc
from relation_graph_spark import tokens as T
from relation_graph_spark.config import RGConfig
from relation_graph_spark.materialize import materialize
from relation_graph_spark.streaming.pipeline import IncrementalClosureJob

from conftest import triples

CFG = RGConfig(output_subclasses=True, reflexive_subclasses=False)


def _ontology(seed):
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
    return rows


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
    """Record the R3 plan of each kernel round, each incremental TC call
    (served by the index?) and the staged flag of each Spark derive."""
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
        out = real_tc(*args, **kw)
        paths["tc"].append(out[2] is not None)
        return out

    def passes(*args, **kw):
        paths["staged"].append(kw["staged"])
        return real_passes(*args, **kw)

    monkeypatch.setattr(inc, "feedback_rounds", rounds)
    monkeypatch.setattr(inc, "incremental_tc", tc)
    monkeypatch.setattr(inc, "derive_delta_passes", passes)
    return paths


@pytest.mark.parametrize("fork", list(FORKS))
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_batch_feedback_forks_equal_oracle(spark, kernel_paths, seed, fork):
    overrides, plan, staged = FORKS[fork]
    rows = _ontology(seed)
    got = triples(materialize(FX._rows_to_df(spark, rows, "k"), replace(CFG, **overrides)))
    assert got == materialize_py(rows), (seed, fork)
    # R4 fired, the rounds ran, and every one of them took this fork
    assert kernel_paths["plans"] and set(kernel_paths["plans"]) == {plan}, kernel_paths
    if plan == "driver":
        # the rounds extend the index directly: no TC call, no Spark derive
        assert not kernel_paths["tc"] and not kernel_paths["staged"], kernel_paths
    else:
        assert kernel_paths["tc"] and not any(kernel_paths["tc"]), kernel_paths
        assert set(kernel_paths["staged"]) == {staged}, kernel_paths


def test_no_driver_pull_without_a_round(spark, monkeypatch):
    """A definition no class satisfies fires nothing: the batch runs no
    feedback round, so it pulls neither the class closure's index nor the
    driver rules."""
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
