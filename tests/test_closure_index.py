"""The driver-resident ClosureIndex and both sides of incremental_tc's fork.

On seeded random graphs with cycles, self-loops, edges already entailed and
edges into owl:Nothing, over multi-step delta sequences: `extend` equals a
plain set closure, the index-served incremental_tc returns the same closure
and delta as the distributed path, the index equals the distributed closure
after every step, and a null token or a closure past the bound falls back
to the distributed path."""

import random

import numpy as np
import pytest

from relation_graph_spark import closure as C
from relation_graph_spark import tokens as T
from relation_graph_spark.closure import ClosureIndex, incremental_tc, transitive_closure


def _closure(edges):
    """Reference: non-reflexive transitive closure by a search per node."""
    succ = {}
    for a, b in edges:
        succ.setdefault(a, set()).add(b)
    out = set()
    for x in succ:
        seen, todo = set(), [x]
        while todo:
            for y in succ.get(todo.pop(), ()):
                if y not in seen:
                    seen.add(y)
                    todo.append(y)
        out |= {(x, y) for y in seen}
    return out


def _arrays(pairs):
    pairs = sorted(pairs)
    return (
        np.array([a for a, _ in pairs], np.int32),
        np.array([b for _, b in pairs], np.int32),
    )


def _index_pairs(index):
    sub, sup = index.pairs()
    return set(zip(sub.tolist(), sup.tolist()))


def _deltas(rng, nodes, closed, k):
    """k random edges plus a self-loop, an entailed edge when there is one,
    and an edge into owl:Nothing."""
    d = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(k)]
    d.append((n := rng.choice(nodes), n))
    if closed:
        d.append(rng.choice(sorted(closed)))
    d.append((rng.choice(nodes), T.BOT))
    return d


def test_extend_equals_set_closure():
    for seed in range(200):
        rng = random.Random(seed)
        # negative tokens too: the packed key must keep every int32
        nodes = list(range(-3 if seed % 5 == 0 else 11, 11 + rng.randint(2, 25)))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(rng.randint(0, 40))]
        closed = _closure(edges)
        index = ClosureIndex.of_pairs(*_arrays(closed))
        for step in range(4):
            d = _deltas(rng, nodes, closed, rng.randint(0, 8))
            edges += d
            want = _closure(edges)
            index = index.extend(*_arrays(d), max_pairs=10**9)
            assert _index_pairs(index) == want, (seed, step)
            sub, sup = C._unpack(index.added)
            assert set(zip(sub.tolist(), sup.tolist())) == want - closed
            assert len(index.added) == len(want - closed)
            sup, sub = index.bwd >> 32, index.bwd.astype(np.int32)
            assert set(zip(sub.tolist(), sup.tolist())) == want and len(index.bwd) == len(want)
            assert np.all(np.diff(index.fwd) > 0) and np.all(np.diff(index.bwd) > 0)
            closed = want


def test_extend_refuses_past_max_pairs(monkeypatch):
    chain = _closure([(i, i + 1) for i in range(11, 30)])
    index = ClosureIndex.of_pairs(*_arrays(chain))
    # closing the chain into a cycle makes every pair reachable
    cycle = np.array([30], np.int32), np.array([11], np.int32)
    assert index.extend(*cycle, max_pairs=len(chain) + 10) is None
    assert len(index.extend(*cycle, max_pairs=20 * 20)) == 20 * 20

    # a long chain of new edges in one delta: the closure over the chained
    # edges (~k^2/2 pairs) is itself bounded and refuses first
    closes = []
    real = C._close_packed

    def spy(*args):
        closes.append(real(*args))
        return closes[-1]

    monkeypatch.setattr(C, "_close_packed", spy)
    tails = np.arange(1000, 1200, dtype=np.int32)
    assert index.extend(tails, tails + 1, max_pairs=5_000) is None
    assert closes == [None]
    assert len(index.extend(tails, tails + 1, max_pairs=10**6)) == len(chain) + 200 * 201 // 2


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_index_served_incremental_tc_equals_distributed(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(11, 31))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(25)]
    old = transitive_closure(
        spark.createDataFrame(edges, "sub int, sup int"), child="sub", parent="sup"
    )
    index = ClosureIndex.pull(old)
    assert _index_pairs(index) == _rows(old)
    tc_i = tc_d = old
    for step in range(3):
        delta = spark.createDataFrame(
            _deltas(rng, nodes, _rows(tc_d), 4), "sub int, sup int"
        )
        tc_i, d_i, index = incremental_tc(tc_i, delta, index=index)
        assert index is not None, (seed, step)  # the index served the call
        tc_d, d_d, dropped = incremental_tc(tc_d, delta)
        assert dropped is None
        assert _rows(tc_i) == _rows(tc_d), (seed, step)
        assert _rows(d_i) == _rows(d_d), (seed, step)
        assert _index_pairs(index) == _rows(tc_d), (seed, step)
        assert dict(tc_i.dtypes) == dict(tc_d.dtypes) == {"sub": "int", "sup": "int"}


def test_index_falls_back_on_nulls_and_past_the_bound(spark):
    old = transitive_closure(
        spark.createDataFrame([(11, 12), (12, 13)], "sub int, sup int"), child="sub", parent="sup"
    )
    index = ClosureIndex.pull(old)
    with_null = spark.createDataFrame([(13, 14), (None, 11)], "sub int, sup int")
    want = incremental_tc(old, with_null)
    got = incremental_tc(old, with_null, index=index)
    # SQL joins never compose the null edge; the fallback keeps that
    assert got[2] is None
    assert _rows(got[0]) == _rows(want[0]) and _rows(got[1]) == _rows(want[1])

    cycle = spark.createDataFrame([(13, 11)], "sub int, sup int")
    want = incremental_tc(old, cycle)
    got = incremental_tc(old, cycle, broadcast_row_threshold=len(index) + 1, index=index)
    assert got[2] is None
    assert _rows(got[0]) == _rows(want[0]) and _rows(got[1]) == _rows(want[1])
    assert (11, 11) in _rows(got[1])

    nulls = spark.createDataFrame([(11, None)], "sub int, sup int")
    assert ClosureIndex.pull(nulls) is None


def test_packed_closure_bound_counts_distinct_pairs():
    """The bound is on the deduplicated closure, not on the pairs a round
    generates: a 1000-node chain closes to 499,500 pairs, and its rounds
    generate far more before deduplication."""
    keys = np.unique(C._pack(*_arrays([(i, i + 1) for i in range(999)])))
    closed = C._close_packed(keys, 499_500, 200)
    assert closed is not None and len(closed) == 499_500
    assert C._close_packed(keys, 499_499, 200) is None

    # a 300-edge chain of new edges: ~45,000 chained pairs, served at 1M
    index = ClosureIndex.of_pairs(*_arrays(_closure([(i, i + 1) for i in range(11, 30)])))
    tails = np.arange(1000, 1300, dtype=np.int32)
    extended = index.extend(tails, tails + 1, max_pairs=10**6)
    assert extended is not None and len(extended) == len(index) + 300 * 301 // 2


def test_extend_sizes_ancestor_expansions_before_running_them(monkeypatch):
    """New edges under a deep ancestry: the ancestor expansion would
    generate (edges x ancestors) pairs past the bound, so extend refuses
    before it runs any expansion."""
    chain = _closure([(i, i + 1) for i in range(11, 61)])  # 11 has 50 ancestors
    index = ClosureIndex.of_pairs(*_arrays(chain))
    tails = np.arange(1000, 1100, dtype=np.int32)
    heads = np.full(100, 11, np.int32)
    expanded = []
    real = C._expand

    def spy(keys, nodes):
        expanded.append(len(nodes))
        return real(keys, nodes)

    monkeypatch.setattr(C, "_expand", spy)
    assert index.extend(tails, heads, max_pairs=4_000) is None
    assert expanded == []
    # with room for it, the same delta is served
    extended = index.extend(tails, heads, max_pairs=10**6)
    assert extended is not None and len(extended) == len(chain) + 100 * 51
    assert expanded
