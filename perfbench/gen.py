"""Seeded input generator for the benchmark workloads.

Every input the engine sees is written here as parquet in the engine's
sequence layout (doc_id, tokens, n_tok, source, ts); the same seed always
gives byte-identical tables.

The class hierarchy is hub-skewed like the frozen ``bench.py`` generator but
regular in depth: a complete ``branching``-ary tree of hub classes
``hub_levels`` deep, with every other class hung under a bottom-level hub
chosen with Zipf weights (a few hubs take most of the fan-in). Properties form
a chain p0 <= p1 <= ... <= p(n-1).

Stream deltas describe *fresh* classes, so what each delta adds to the closure
is fixed by the generator rather than by which history it happens to overlap
(``delta_yield``):

- a delta row ``new subClassOf p0 some f`` (f a non-hub class that no
  definition subsumes) adds N_PROPS * (hub_levels + 2) existential edges;
- with standing definitions ``D(k, h) EquivalentTo p_k some h`` (h a level-1
  hub, k < def_props) each such row also fires def_props of them (R4);
- subclass edits ``new' subClassOf new`` hang under the delta's own fresh
  subjects.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# token layout of the engine's input format (relation_graph_spark/tokens.py)
AX_SUBCLASS = 101
AX_SOME = 102
AX_EQUIV_SOME = 103
AX_SUBPROP = 104
AX_DECL_CLASS = 105
AX_DECL_PROP = 106

PROP_BASE = 11  # first entity token; property j is PROP_BASE + j
CLASS_BASE = 100  # class i is CLASS_BASE + i
N_PROPS = 8
# bottom-hub fan-in weight of rank r is r**-ZIPF. A steeper skew puts a
# seed-dependent share of the classes in one hash partition, which moved
# batch op times by ~25% between seeds on 4 shuffle partitions.
ZIPF = 0.5
EPOCH = datetime(2026, 1, 1)

SEQ_ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("tokens", pa.list_(pa.field("element", pa.int32(), nullable=False)), nullable=False),
        pa.field("n_tok", pa.int32(), nullable=False),
        pa.field("source", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Size knobs of one generated ontology plus its delta stream."""

    n_classes: int
    n_some: int
    branching: int = 4
    hub_levels: int = 3
    hub_some: bool = True  # one existential per bottom hub
    def_props: int = 0  # definitions per level-1 hub (0: no R4 feedback)
    delta_some: int = 5  # existentials per delta
    delta_edits: int = 0  # subclass edits per delta


@dataclass
class Ontology:
    """A generated ontology as index arrays (tokens via CLASS_BASE/PROP_BASE)."""

    shape: Shape
    parent: np.ndarray  # parent class index per class, -1 for the root
    n_hubs: int
    some: np.ndarray  # (n, 3) class, prop, class indices
    defs: np.ndarray  # (n, 3) defined class, prop, level-1 hub indices
    n_base_classes: int  # hierarchy classes + defined classes
    clean: np.ndarray  # non-hub classes no definition subsumes (delta fillers)


def _hub_tree(branching: int, levels: int) -> tuple[np.ndarray, np.ndarray]:
    """Parents and levels of a complete `branching`-ary tree, BFS-numbered."""
    parents, lvl = [-1], [0]
    start, width = 0, 1
    for level in range(1, levels + 1):
        for k in range(width * branching):
            parents.append(start + k // branching)
            lvl.append(level)
        start, width = start + width, width * branching
    return np.array(parents, np.int64), np.array(lvl, np.int64)


def generate(shape: Shape, seed: int) -> Ontology:
    rng = np.random.default_rng(seed)
    hub_parent, hub_level = _hub_tree(shape.branching, shape.hub_levels)
    n_hubs = len(hub_parent)
    if shape.n_classes <= n_hubs:
        raise ValueError(f"n_classes must exceed the {n_hubs} hub classes")
    bottom = np.flatnonzero(hub_level == shape.hub_levels)
    n_leaf = shape.n_classes - n_hubs
    # Zipf fan-in with fixed per-rank counts: the seed decides which hub
    # holds which rank and which classes hang where, not how skewed it is
    weights = 1.0 / np.arange(1, len(bottom) + 1) ** ZIPF
    counts = np.floor(n_leaf * weights / weights.sum()).astype(np.int64)
    counts[: n_leaf - counts.sum()] += 1
    by_rank = bottom[rng.permutation(len(bottom))]
    parent = np.concatenate([hub_parent, rng.permutation(np.repeat(by_rank, counts))])
    # one existential per bottom hub, its property fixed by the hub's rank
    # (hub-subject rows expand to whole subtrees, so their mix is pinned);
    # the rest hang off uniform non-hub subjects
    n_hub_some = len(bottom) if shape.hub_some else 0
    n_rest = shape.n_some - n_hub_some
    some = np.concatenate(
        [
            np.stack(
                [
                    by_rank[:n_hub_some],
                    np.arange(n_hub_some) % N_PROPS,
                    rng.integers(n_hubs, shape.n_classes, n_hub_some),
                ],
                axis=1,
            ),
            np.stack(
                [
                    rng.integers(n_hubs, shape.n_classes, n_rest),
                    rng.integers(0, N_PROPS, n_rest),
                    rng.integers(0, shape.n_classes, n_rest),
                ],
                axis=1,
            ),
        ]
    )
    level1 = np.flatnonzero(hub_level == 1)
    defs = np.array(
        [
            (shape.n_classes + i * shape.def_props + k, k, h)
            for i, h in enumerate(level1)
            for k in range(shape.def_props)
        ],
        np.int64,
    ).reshape(-1, 3)
    # a class falls under a definition D(k, h) when it or an ancestor has a
    # told existential on p_j, j <= k (the filler side decides h); delta
    # fillers avoid all of them so a delta's yield stays fixed
    fires = np.zeros(shape.n_classes, bool)
    fires[some[some[:, 1] < shape.def_props, 0]] = True
    for i in range(1, n_hubs):  # hubs precede their children (BFS order)
        fires[i] |= fires[parent[i]]
    fires[n_hubs:] |= fires[parent[n_hubs:]]
    clean = np.flatnonzero(~fires[n_hubs:]) + n_hubs
    return Ontology(shape, parent, n_hubs, some, defs, shape.n_classes + len(defs), clean)


def base_rows(o: Ontology) -> list[list[int]]:
    """Told axioms of the base ontology, as token rows."""
    s = o.shape
    rows: list[list[int]] = []
    for j in range(N_PROPS):
        rows.append([AX_DECL_PROP, PROP_BASE + j])
        if j + 1 < N_PROPS:
            rows.append([AX_SUBPROP, PROP_BASE + j, PROP_BASE + j + 1])
    for i, p in enumerate(o.parent.tolist()):
        rows.append([AX_DECL_CLASS, CLASS_BASE + i])
        if p >= 0:
            rows.append([AX_SUBCLASS, CLASS_BASE + i, CLASS_BASE + p])
    for c, p, f in o.some.tolist():
        rows.append([AX_SOME, CLASS_BASE + c, PROP_BASE + p, CLASS_BASE + f])
    for d, k, h in o.defs.tolist():
        rows.append([AX_DECL_CLASS, CLASS_BASE + d])
        rows.append([AX_EQUIV_SOME, CLASS_BASE + d, PROP_BASE + k, CLASS_BASE + h])
    return rows


def delta_rows(o: Ontology, seed: int, index: int) -> list[list[int]]:
    """Told axioms of stream delta `index`: fresh subjects under p0, plus the
    shape's subclass edits among them. Independent of every other delta."""
    s = o.shape
    rng = np.random.default_rng([seed, index])
    per = s.delta_some + s.delta_edits
    first = CLASS_BASE + o.n_base_classes + index * per
    fillers = o.clean[rng.integers(0, len(o.clean), s.delta_some)]
    rows: list[list[int]] = []
    for k, f in enumerate(fillers.tolist()):
        rows.append([AX_DECL_CLASS, first + k])
        rows.append([AX_SOME, first + k, PROP_BASE, CLASS_BASE + f])
    targets = rng.integers(0, s.delta_some, s.delta_edits)
    for k, t in enumerate(targets.tolist()):
        rows.append([AX_DECL_CLASS, first + s.delta_some + k])
        rows.append([AX_SUBCLASS, first + s.delta_some + k, first + t])
    return rows


def rows_table(rows: list[list[int]], source: str, ts_seconds: int = 0) -> pa.Table:
    offsets = np.zeros(len(rows) + 1, np.int32)
    np.cumsum([len(r) for r in rows], out=offsets[1:])
    values = np.fromiter((t for r in rows for t in r), np.int32, int(offsets[-1]))
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))
    ts = np.datetime64(EPOCH, "us") + np.timedelta64(ts_seconds, "s")
    return pa.Table.from_arrays(
        [
            pa.array([f"{source}:{i}" for i in range(len(rows))]),
            tokens.cast(SEQ_ARROW_SCHEMA.field("tokens").type),
            pa.array(np.diff(offsets), pa.int32()),
            pa.array([source] * len(rows)),
            pa.array(np.full(len(rows), ts)),
        ],
        schema=SEQ_ARROW_SCHEMA,
    )


def write_table(table: pa.Table, path: str) -> None:
    """Write one parquet file atomically (the stream source must never list
    a half-written file): write beside the target, then rename."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def delta_yield(shape: Shape) -> int:
    """Output rows one stream delta commits. A fresh subject of
    ``p0 some f`` gets every property (p0 is the bottom of the chain) times
    f and its hub_levels + 1 ancestors, plus a subClassOf row to each
    definition on f's level-1 hub; an edited class additionally gets a row
    to its fresh superclass."""
    per_subject = N_PROPS * (shape.hub_levels + 2) + shape.def_props
    return shape.delta_some * per_subject + shape.delta_edits * (per_subject + 1)
