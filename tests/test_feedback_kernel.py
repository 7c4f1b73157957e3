"""The R4 feedback kernel (incremental.feedback_rounds) that the batch and
the stream share, on seeded random ontologies with definitions, named-class
cycles, a named equivalence and an owl:Nothing edge: batch materialize
equals the Python oracle under every fork of the kernel — the class
closure's index or the distributed TC, the shared-scan derive or the
one-sided passes, fused or staged — and a 3-batch stream's live sink
equals the batch output."""

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


# fork -> (config overrides, TC calls served by the index?, derive taken)
FORKS = {
    "index_shared_scan": ({}, True, ("derive_delta_relations", None)),
    "index_shared_scan_staged_r0": (
        {"incremental_feedback_threshold": 0},
        True,
        ("derive_delta_relations", None),
    ),
    "distributed_fused_passes": (
        {"broadcast_row_threshold": 0},
        False,
        ("derive_delta_passes", False),
    ),
    "distributed_staged_passes": (
        {"broadcast_row_threshold": 0, "incremental_feedback_threshold": 0},
        False,
        ("derive_delta_passes", True),
    ),
}


@pytest.fixture()
def kernel_paths(monkeypatch):
    """Record each TC call of the kernel (served by the index?) and each
    derive it takes (name, staged)."""
    paths = {"tc": [], "derive": []}
    real_tc = inc.incremental_tc

    def tc(*args, **kw):
        out = real_tc(*args, **kw)
        paths["tc"].append(out[2] is not None)
        return out

    monkeypatch.setattr(inc, "incremental_tc", tc)
    for name in ("derive_delta_relations", "derive_delta_passes"):

        def derive(*args, _real=getattr(inc, name), _name=name, **kw):
            paths["derive"].append((_name, kw.get("staged")))
            return _real(*args, **kw)

        monkeypatch.setattr(inc, name, derive)
    return paths


@pytest.mark.parametrize("fork", list(FORKS))
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_batch_feedback_forks_equal_oracle(spark, kernel_paths, seed, fork):
    overrides, served, derive = FORKS[fork]
    rows = _ontology(seed)
    got = triples(materialize(FX._rows_to_df(spark, rows, "k"), replace(CFG, **overrides)))
    assert got == materialize_py(rows), (seed, fork)
    # R4 fired, the rounds ran, and every one of them took this fork
    assert kernel_paths["tc"] and kernel_paths["derive"], kernel_paths
    assert all(s == served for s in kernel_paths["tc"]), kernel_paths
    assert set(kernel_paths["derive"]) == {derive}, kernel_paths


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
