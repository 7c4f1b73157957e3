"""Round-7 optimization equivalence tests: every plan-shape change must be
result-identical to the path it replaced.

- driver-side transitive closure (closure._driver_tc fast path) vs the
  distributed semi-naive loop vs a plain set closure, on a graph with
  cycles, diamonds and chains and on seeded random graphs; the fallback on
  null, non-integer and non-int32 tokens and past the pair bound;
- index-served incremental_tc (closure.ClosureIndex) vs the distributed
  two-sided delta composition;
- fused (staged=False) vs staged derive_relations;
- single-pass told_tables classes/props vs the per-branch union definition.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest
from test_closure_index import _closure

import relation_graph_spark.closure as C
from relation_graph_spark.closure import ClosureIndex, incremental_tc, transitive_closure


@pytest.fixture()
def force_paths(monkeypatch):
    """Flip the driver-TC row threshold per test, and record whether each
    _driver_tc call served its closure (True) or fell back (False)."""
    served = []
    real = C._driver_tc

    def spy(*args):
        out = real(*args)
        served.append(out is not None)
        return out

    monkeypatch.setattr(C, "_driver_tc", spy)

    def _set(edges_threshold: int):
        monkeypatch.setattr(C, "_DRIVER_TC_EDGES", edges_threshold)
        return served

    return _set


def _both_paths(force_paths, edges, **kw):
    """(driver-side closure, distributed closure, whether the driver served)
    of one edge frame; both keep the input's column types."""
    served = force_paths(10_000)
    driver = transitive_closure(edges, **kw)
    force_paths(0)
    dist = transitive_closure(edges, **kw)
    assert dict(driver.dtypes) == dict(dist.dtypes) == dict(edges.dtypes)
    return {tuple(r) for r in driver.collect()}, {tuple(r) for r in dist.collect()}, served


GRAPH = [
    # cycle a<->b<->c, diamond d->{e,f}->g, chain h->i->j->k, self-loop m
    (1, 2), (2, 3), (3, 1),
    (4, 5), (4, 6), (5, 7), (6, 7),
    (8, 9), (9, 10), (10, 11),
    (12, 12),
]


def _random_graph(seed):
    """Edges with cycles, self-loops and (every third seed) negative tokens."""
    rng = random.Random(seed)
    nodes = list(range(-6 if seed % 3 == 0 else 0, rng.randint(4, 30)))
    edges = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(rng.randint(1, 45))}
    edges.add((n := rng.choice(nodes), n))
    return sorted(edges)


def test_driver_tc_equals_distributed(spark, force_paths):
    # the fixed graph, then seeded random ones
    for seed in [None, *range(8)]:
        graph = GRAPH if seed is None else _random_graph(seed)
        edges = spark.createDataFrame(graph, "child: int, parent: int")
        driver, dist, calls = _both_paths(force_paths, edges)
        assert calls == [True], seed
        assert driver == dist == _closure(graph), seed
        calls.clear()
        if seed is None:
            # cycle nodes must contain their self-pairs; chain must reach the end
            assert (1, 1) in driver and (8, 11) in driver


@pytest.mark.parametrize(
    "graph, schema, served",
    [
        ([(1, 2), (2, -(1 << 31)), (-(1 << 31), (1 << 31) - 1)], "bigint", True),
        # a bigint token past int32 would be truncated by packing
        ([(1, 2), (2, 1 << 31), (1 << 31, 3)], "bigint", False),
        ([("a", "b"), ("b", "c"), ("c", "a")], "string", False),
    ],
    ids=["bigint_in_int32", "bigint_past_int32", "string"],
)
def test_driver_tc_token_types(spark, force_paths, graph, schema, served):
    edges = spark.createDataFrame(graph, f"child: {schema}, parent: {schema}")
    driver, dist, calls = _both_paths(force_paths, edges)
    assert calls == [served]
    assert driver == dist == _closure(graph)


def test_driver_tc_falls_back_on_nulls(spark, force_paths):
    graph = [(1, 2), (2, 3), (None, 4)]
    edges = spark.createDataFrame(graph, "child: bigint, parent: bigint")
    got, want, calls = _both_paths(force_paths, edges)
    assert calls == [False]
    # SQL join semantics: the null edge appears as a base pair but never
    # composes — both paths must agree
    assert got == want == _closure(graph)


def test_driver_tc_pair_bound(spark, force_paths):
    """A closure of exactly broadcast_row_threshold pairs is served on the
    driver; one pair more falls back to the distributed path."""
    # 4 tails -> hub -> 6 heads: 10 edges, 24 composed pairs, 34 in all
    graph = [(10 + i, 100) for i in range(4)] + [(100, 200 + j) for j in range(6)]
    edges = spark.createDataFrame(graph, "child: int, parent: int")
    want = _closure(graph)
    assert len(want) == 34
    for bound, served in ((34, True), (33, False)):
        driver, dist, calls = _both_paths(force_paths, edges, broadcast_row_threshold=bound)
        assert calls == [served], bound
        assert driver == dist == want
        calls.clear()


def test_driver_incremental_tc_equals_distributed(spark):
    old = transitive_closure(
        spark.createDataFrame([(1, 2), (2, 3)], "sub: int, sup: int"),
        child="sub",
        parent="sup",
    )
    delta = spark.createDataFrame([(3, 4), (0, 1), (4, 1)], "sub: int, sup: int")
    tc_a, d_a, index = incremental_tc(old, delta, old_tc_rows=3, index=ClosureIndex.pull(old))
    assert index is not None  # the index served the call
    tc_b, d_b, dropped = incremental_tc(old, delta, old_tc_rows=3)
    assert dropped is None
    assert {tuple(r) for r in tc_a.collect()} == {tuple(r) for r in tc_b.collect()}
    assert {tuple(r) for r in d_a.collect()} == {tuple(r) for r in d_b.collect()}
    sub, sup = index.pairs()
    assert set(zip(sub.tolist(), sup.tolist())) == {tuple(r) for r in tc_b.collect()}
    # the 3->4->1 edges close a cycle through 1..4: self-pairs must appear
    assert (1, 1) in {tuple(r) for r in d_a.collect()}


def test_derive_relations_fused_equals_staged(spark):
    from relation_graph_spark.materialize import derive_relations

    sc_star = spark.createDataFrame(
        [(11, 11), (12, 12), (12, 11), (13, 13), (13, 12), (13, 11), (14, 14)],
        "sub: int, sup: int",
    )
    sp_star = spark.createDataFrame([(21, 21), (21, 22), (22, 22)], "sub: int, sup: int")
    some = spark.createDataFrame(
        [(11, 21, 13), (12, 22, 14), (13, 21, 11)], "s: int, p: int, f: int"
    )
    a = derive_relations(sc_star, some, sp_star, 5_000_000, staged=True)
    b = derive_relations(sc_star, some, sp_star, 5_000_000, staged=False)
    sa = {tuple(r) for r in a.collect()}
    sb = {tuple(r) for r in b.collect()}
    assert sa == sb and len(sa) > 0


def test_driver_cc_equals_distributed(spark, monkeypatch):
    """Union-find fast path vs min-label loop: chain components (multi-round
    propagation), singletons, and an edge through a node NOT in docs (inert
    in the distributed loop — must be inert on the driver too)."""
    import relation_graph_spark.ops.dedup as D

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 6, 7, 10, 11]], "doc_id: bigint"
    )
    pairs = spark.createDataFrame(
        # chain 4-3-2-1, pair 5-6, edge 10-99-11 through unknown node 99
        [(3, 4), (2, 3), (1, 2), (5, 6), (10, 99), (99, 11)],
        "doc_a: bigint, doc_b: bigint",
    )
    got = {tuple(r) for r in D.duplicate_clusters(docs, pairs).collect()}
    monkeypatch.setattr(D, "_DRIVER_CC_PAIRS", -1)  # force distributed
    want = {tuple(r) for r in D.duplicate_clusters(docs, pairs).collect()}
    assert got == want
    assert (4, 1) in got and (6, 5) in got and (7, 7) in got
    # 99 blocks propagation in both paths: 10 and 11 stay singletons
    assert (10, 10) in got and (11, 11) in got


def test_told_tables_single_pass_vocabularies(spark):
    from relation_graph_spark import fixtures as FX
    from relation_graph_spark import tokens as T
    from relation_graph_spark.decode import decode_axioms, told_tables

    a = decode_axioms(FX.materialize_test(spark))
    told = told_tables(a)
    # reference (per-branch union) definition, recomputed here explicitly
    sc, some = told["sc"], told["some"]
    want_classes = {
        r["c"]
        for r in (
            a.where(F.col("atype") == T.AX_DECL_CLASS)
            .select(F.col("s").alias("c"))
            .unionByName(sc.select(F.col("sub").alias("c")))
            .unionByName(sc.select(F.col("sup").alias("c")))
            .unionByName(some.select(F.col("s").alias("c")))
            .unionByName(some.select(F.col("f").alias("c")))
            .unionByName(
                a.where(F.col("atype") == T.AX_CLASS_ASSERTION).select(
                    F.col("s").alias("c")
                )
            )
            .distinct()
            .collect()
        )
    }
    want_props = {
        r["p"]
        for r in (
            a.where(F.col("atype") == T.AX_DECL_PROP)
            .select(F.col("s").alias("p"))
            .unionByName(some.select("p"))
            .unionByName(told["sp"].select(F.col("sub").alias("p")))
            .unionByName(told["sp"].select(F.col("sup").alias("p")))
            .distinct()
            .collect()
        )
    }
    assert {r["c"] for r in told["classes"].collect()} == want_classes
    assert {r["p"] for r in told["props"].collect()} == want_props
