"""Semi-naive transitive closure over DataFrames.

This is the Spark-first re-creation of what the reference delegates to the
Whelk EL saturation (reference RelationGraph.scala:57) restricted to the
hierarchy fragment: the least fixpoint of ``tc(x,z) <- tc(x,y), edge(y,z)``
(SURVEY.md section 7.0, R1/R2). The reference holds the closure as in-memory
hash maps (``closureSubsBySuperclass``, RelationGraph.scala:163); we hold it
as a distributed DataFrame and iterate the classic semi-naive delta:

    delta_0  = edges
    delta_i  = project(delta_{i-1} join closure) anti-join closure
    closure  = closure union delta_i

Properties that matter at 100 TB:
- the per-iteration join shuffles on the single int join key; the small side
  (the base edge relation, i.e. the told hierarchy) is broadcast when under
  a threshold — ontology hierarchies are tiny relative to the edge stream;
- ``localCheckpoint`` after every iteration truncates lineage, otherwise the
  logical plan grows linearly with iterations and Catalyst analysis time
  explodes (well-known iterative-Spark pitfall, SURVEY.md section 4.1);
- each round composes the delta with the ACCUMULATED closure, so reachable
  path length doubles per round: O(log diameter) rounds, not one round per
  edge of the longest path;
- cycles (e.g. from named-class equivalences) terminate naturally: the
  anti-join makes every delta strictly new.

A vocabulary-sized closure is computed on the driver instead, over sorted
packed int64 arrays (the reference's in-memory maps, packed): a batch
``transitive_closure`` of a small edge set closes there in one pass, and
the stream keeps its class closure as a ``ClosureIndex``, which only its
driver R4 rounds extend (``incremental.DriverRules``); a stream round the
driver cannot serve runs the distributed ``incremental_tc``. Both are
bounded by ``broadcast_row_threshold`` pairs. ``incremental_tc`` keeps
its ``index`` argument (served by ``_driver_incremental_tc``, which
perfbench's tracer wraps by name), though the engine no longer passes
one.
The star closures both engines build (``star_closure``, ``property_star``)
live here too.
"""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from relation_graph_spark import tokens as T


class FixpointDidNotConverge(RuntimeError):
    pass


# Driver fast path of transitive_closure: an ungrouped edge set at or below
# this row count is pulled to the driver and closed there over packed int64
# keys (_close_packed, the algorithm ClosureIndex is built on) instead of in
# distributed semi-naive rounds. Each distributed round costs a broadcast
# build, a dedup shuffle, an anti-join and a count job, ~0.5-1 s of fixed
# cost on any cluster, while a vocabulary-sized hierarchy (ontology class or
# property graphs, which the reference holds in Whelk's in-memory maps)
# closes in milliseconds in one process. The closure is bounded by
# broadcast_row_threshold pairs, the bound the stream's ClosureIndex uses
# too (a closure that fits was going to be broadcast anyway); past it, or on
# a null or non-int32 token, the distributed path runs unchanged.
# Group-scoped closures (per-window / per-session over event data) never
# take this path.
_DRIVER_TC_EDGES = int(os.environ.get("RGS_DRIVER_TC_EDGES", "50000"))

_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
_INT32 = np.iinfo(np.int32)


def _driver_tc(
    base: DataFrame, child: str, parent: str, max_iterations: int, max_pairs: int
) -> DataFrame | None:
    """Driver-side closure of a (deduplicated, materialized) edge frame: pull
    it, close it over packed keys, ship it back with the frame's schema.
    None to fall back: a token that is null (SQL joins never compose one),
    not of an integer type, or outside int32 (packing would truncate it), or
    a closure past `max_pairs`."""
    types = dict(base.dtypes)
    if types[child] not in _INT_TYPES or types[parent] not in _INT_TYPES:
        return None
    pairs = _pull_pairs(base, child, parent)
    if pairs is None or any(np.any((a < _INT32.min) | (a > _INT32.max)) for a in pairs):
        return None
    closure = _close_packed(np.unique(_pack(*pairs)), max_pairs, max_iterations)
    if closure is None:
        return None
    return _pairs_frame(base.sparkSession, closure, base, child, parent)


def ensure_iteration_confs(df: DataFrame) -> None:
    """Disable constraint propagation for iterative localCheckpoint plans.

    Spark 4.1's LogicalRDD.fromDataset -> Union.rewriteConstraints throws
    'key not found: <attr>' when checkpointing a union whose children share
    checkpointed lineage (exactly the semi-naive shape). Constraints buy us
    nothing here (all filters are explicit), so turn propagation off for the
    session running the fixpoint. Runtime-settable; applied defensively in
    case the caller's session didn't set it at build time.
    """
    df.sparkSession.conf.set("spark.sql.constraintPropagation.enabled", "false")


def transitive_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_iterations: int = 200,
    broadcast_row_threshold: int = 5_000_000,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Non-reflexive transitive closure of an edge DataFrame.

    `edges` has two columns named by `child`/`parent`; returns a DataFrame
    with the same two columns containing every pair (x, z) such that a
    directed path x -> ... -> z exists. Result is deduplicated.

    `group_cols` scopes the closure: paths never cross groups (the
    per-window fixpoint of the north star — one tumbling/sliding window per
    group value — computed for ALL groups in one distributed job: the join
    key is simply (group..., node), no per-window driver loop).

    Each round composes the delta with the FULL accumulated closure, so
    reachable path length doubles per round — O(log diameter) rounds. Right
    for Spark, where per-round fixed cost (shuffle + checkpoint +
    scheduling) dominates: a depth-40 chain closes in ~6 rounds instead of
    40.
    """
    ensure_iteration_confs(edges)
    groups = list(group_cols or [])
    cols = groups + [child, parent]
    base = edges.select(*[F.col(c) for c in cols]).dropDuplicates().localCheckpoint(eager=False)
    total_rows = base.count()
    if not groups and 0 < total_rows <= _DRIVER_TC_EDGES:
        out = _driver_tc(base, child, parent, max_iterations, broadcast_row_threshold)
        if out is not None:
            return out

    closure = base
    delta = base
    for _ in range(max_iterations):
        small = total_rows <= broadcast_row_threshold
        join_side = F.broadcast(closure) if small else closure
        cond = F.col(f"d.{parent}") == F.col(f"e.{child}")
        for g in groups:
            cond = cond & (F.col(f"d.{g}") == F.col(f"e.{g}"))
        grown = delta.alias("d").join(join_side.alias("e"), cond)
        new_pairs = grown.select(
            *[F.col(f"d.{g}") for g in groups],
            F.col(f"d.{child}").alias(child),
            F.col(f"e.{parent}").alias(parent),
        )
        # seen-set anti-join: broadcast the closure side below the threshold
        # (the same broadcast the compose join builds — one exchange, reused)
        # so the round costs ONE shuffle (the delta dedup) instead of three
        # (dedup + both SMJ exchanges + their sorts). Anti-before-dedup when
        # broadcasting: the anti is then a narrow map-side filter and the
        # dedup shuffles only genuinely-new rows (guide §2.3/2.4).
        if small:
            delta = (
                new_pairs.join(F.broadcast(closure), on=cols, how="left_anti")
                .dropDuplicates()
                .localCheckpoint(eager=False)
            )
        else:
            delta = (
                new_pairs.dropDuplicates()
                .join(closure, on=cols, how="left_anti")
                .localCheckpoint(eager=False)
            )
        n_new = delta.count()
        if n_new == 0:
            return closure
        total_rows += n_new
        closure = closure.unionByName(delta).localCheckpoint(eager=False)
    raise FixpointDidNotConverge(
        f"transitive_closure did not converge in {max_iterations} iterations"
    )


# Packed pair keys: sub in the high 32 bits, sup's two's-complement bits in
# the low 32, so sorted keys order by (sub, sup) and the keys of one sub are
# one contiguous range. Every int32 token packs, negative ones included.
_LOW32 = np.int64(0xFFFFFFFF)


def _pack(hi: np.ndarray, lo: np.ndarray) -> np.ndarray:
    return (hi.astype(np.int64) << 32) | (lo.astype(np.int64) & _LOW32)


def _unpack(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return (keys >> 32).astype(np.int32), _low(keys)


def _low(keys: np.ndarray) -> np.ndarray:
    # the int32 cast keeps the low 32 bits: the original signed token
    return keys.astype(np.int32)


def _member(keys: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Which of `q` are in the sorted `keys`."""
    pos = np.searchsorted(keys, q)
    return keys[np.minimum(pos, len(keys) - 1)] == q if len(keys) else np.zeros(len(q), bool)


def _ranges(
    keys: np.ndarray, nodes: np.ndarray, shift: int = 32
) -> tuple[np.ndarray, np.ndarray]:
    """(start, length) of the range of sorted `keys` whose bits above the
    low `shift` (the high half, by default) are each of `nodes`."""
    base = nodes.astype(np.int64) << shift
    lo = np.searchsorted(keys, base, "left")
    return lo, np.searchsorted(keys, base | ((1 << shift) - 1), "right") - lo


def _spread(lo: np.ndarray, n: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(index into the ranges, position) of every position of the ranges
    [lo, lo + n)."""
    owner = np.repeat(np.arange(len(n)), n)
    return owner, np.arange(int(n.sum())) + np.repeat(lo - (np.cumsum(n) - n), n)


def _expand(keys: np.ndarray, nodes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(index into nodes, position in keys) of every key of sorted `keys`
    whose high half is one of `nodes`: one range lookup per node."""
    return _spread(*_ranges(keys, nodes))


def _expand_within(
    keys: np.ndarray, nodes: np.ndarray, max_pairs: int
) -> tuple[np.ndarray, np.ndarray] | None:
    """_expand, or None, without expanding, if it would yield more than
    `max_pairs` pairs."""
    if int(_ranges(keys, nodes)[1].sum()) > max_pairs:
        return None
    return _expand(keys, nodes)


def _slices(n: np.ndarray, size: int):
    """Consecutive slices of the indices of `n`, each summing to at most
    `size` (or a single index past it)."""
    cum = np.cumsum(n)
    start = 0
    while start < len(n):
        base = cum[start - 1] if start else 0
        end = max(int(np.searchsorted(cum, base + size, "right")), start + 1)
        yield slice(start, end)
        start = end


def _close_packed(keys: np.ndarray, max_pairs: int, max_iterations: int) -> np.ndarray | None:
    """Transitive closure of packed edges (sorted, unique): each round
    composes the delta with the accumulated closure, as transitive_closure
    does, so `max_iterations` bounds the same O(log diameter) rounds. None,
    to fall back, once the closure passes `max_pairs`. A round composes its
    delta in slices of at most `max_pairs` generated pairs, each
    deduplicated against the closure and the round's earlier slices, so no
    array outgrows the bound while a closure that fits it is served."""
    if len(keys) > max_pairs:
        return None
    closure = delta = keys
    for _ in range(max_iterations):
        x, y = _unpack(delta)
        fresh = delta[:0]
        for part in _slices(_ranges(closure, y)[1], max_pairs):
            owner, pos = _expand(closure, y[part])
            grown = np.unique(_pack(x[part][owner], _low(closure[pos])))
            fresh = np.union1d(fresh, grown[~_member(closure, grown)])
            if len(closure) + len(fresh) > max_pairs:
                return None
        if not len(fresh):
            return closure
        closure = np.union1d(closure, fresh)
        delta = fresh
    raise FixpointDidNotConverge(
        f"driver transitive closure did not converge in {max_iterations} iterations"
    )


class ClosureIndex:
    """A transitively closed (sub, sup) relation held on the driver as two
    sorted packed int64 arrays: `fwd` (sub<<32|sup) and `bwd` (sup<<32|sub),
    16 bytes per pair. Ancestors of a class are one range of `fwd`,
    descendants one range of `bwd`. Immutable: `extend` returns a new index,
    whose `added` holds the packed (sub<<32|sup) pairs it added over the
    index it extended (every pair, for an index built by `of_pairs`)."""

    def __init__(self, fwd: np.ndarray, bwd: np.ndarray, added: np.ndarray):
        self.fwd, self.bwd, self.added = fwd, bwd, added

    @classmethod
    def of_pairs(cls, sub: np.ndarray, sup: np.ndarray) -> ClosureIndex:
        fwd = np.unique(_pack(sub, sup))
        s, p = _unpack(fwd)
        return cls(fwd, np.sort(_pack(p, s)), fwd)

    @classmethod
    def pull(cls, tc: DataFrame) -> ClosureIndex | None:
        """The index of a closed (sub, sup) frame: one job. None if a token
        is null."""
        pairs = _pull_pairs(tc, "sub", "sup")
        return None if pairs is None else cls.of_pairs(*pairs)

    def __len__(self) -> int:
        return len(self.fwd)

    def pairs(self) -> tuple[np.ndarray, np.ndarray]:
        """(sub, sup) token arrays of every pair."""
        return _unpack(self.fwd)

    def extend(self, sub: np.ndarray, sup: np.ndarray, max_pairs: int) -> ClosureIndex | None:
        """The closure of this relation plus the edges (sub[i], sup[i]).

        A new pair's path uses at least one new edge u->v; since the old
        relation is closed, it is x ->* u -> v ->* y with old paths (or none)
        at both ends, so one new edge adds ({u} + desc(u)) x ({v} + anc(v)).
        Several new edges chain through old paths: an edge i is followed by
        every edge whose tail is v_i or one of its ancestors, and the first
        tail u and last head v of each chain span the pairs above. The pairs
        already present are dropped.

        None, to fall back, if an expansion would generate, or the grown
        closure hold, more than `max_pairs` pairs: each expansion is sized
        before it runs."""
        keys = np.unique(_pack(sub, sup))
        keys = keys[~_member(self.fwd, keys)]  # entailed edges add nothing
        if not len(keys):
            return ClosureIndex(self.fwd, self.bwd, keys)
        u, v = _unpack(keys)
        # chains of new edges: i -> j when u_j is v_i or an ancestor of v_i
        # (keys sort by tail, so the edges of one tail are one range of keys)
        anc = _expand_within(self.fwd, v, max_pairs)
        if anc is None:
            return None
        via = np.concatenate([np.arange(len(v)), anc[0]])
        steps = _expand_within(keys, np.concatenate([v, _low(self.fwd[anc[1]])]), max_pairs)
        if steps is None:
            return None
        step, nxt = steps
        # chains over k edges close within ceil(log2 k) + 1 rounds
        chains = _close_packed(
            np.unique(_pack(via[step], nxt)), max_pairs, len(keys).bit_length() + 1
        )
        if chains is None:
            return None
        every = np.arange(len(keys))
        first = np.concatenate([every, chains >> 32])
        last = np.concatenate([every, _low(chains)])
        # (first tail, last head or an ancestor of it) ...
        spans = np.unique(_pack(u[first], v[last]))
        t, h = _unpack(spans)
        up = _expand_within(self.fwd, h, max_pairs - len(spans))
        if up is None:
            return None
        spans = np.union1d(spans, _pack(t[up[0]], _low(self.fwd[up[1]])))
        # ... with the tail or any of its descendants in front
        t, y = _unpack(spans)
        down = _expand_within(self.bwd, t, max_pairs - len(spans))
        if down is None:
            return None
        new = np.union1d(spans, _pack(_low(self.bwd[down[1]]), y[down[0]]))
        new = new[~_member(self.fwd, new)]
        if len(self) + len(new) > max_pairs:
            return None
        return self.union(new)

    def union(self, new: np.ndarray) -> ClosureIndex:
        """This relation plus the packed pairs `new` (sorted, unique and
        absent from it), which become `added`. Not closed again."""
        s, p = _unpack(new)
        rev = np.sort(_pack(p, s))
        return ClosureIndex(
            np.insert(self.fwd, np.searchsorted(self.fwd, new), new),
            np.insert(self.bwd, np.searchsorted(self.bwd, rev), rev),
            new,
        )


def _pull_pairs(df: DataFrame, child: str, parent: str) -> tuple[np.ndarray, np.ndarray] | None:
    """(child, parent) token arrays of a frame, through Arrow: one job. None
    if a token is null (SQL joins never compose a null; packed keys would)."""
    t = df.select(child, parent).toArrow()
    if t.column(child).null_count or t.column(parent).null_count:
        return None
    return t.column(child).to_numpy(), t.column(parent).to_numpy()


def _pairs_frame(spark, keys: np.ndarray, template: DataFrame, child: str, parent: str) -> DataFrame:
    """Packed pairs as a local relation with `template`'s (child, parent)
    schema: built from an Arrow table, so no Python row objects and no job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = template.select(child, parent).schema
    arrow = to_arrow_schema(schema)
    cols = [pa.array(c).cast(f.type) for c, f in zip(_unpack(keys), arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema=schema)


def _driver_incremental_tc(
    old_tc: DataFrame, delta_edges: DataFrame, index: ClosureIndex, max_pairs: int
) -> tuple[DataFrame, DataFrame, ClosureIndex] | None:
    """The index-served incremental_tc: pull the delta-sized edge frame (the
    call's one job), extend the index, and ship only the new pairs back, as
    a local relation unioned onto the old frame, so the persisted anchoring
    of the accumulated closure is untouched. None to fall back (a null
    token, or a closure past `max_pairs`)."""
    edges = _pull_pairs(delta_edges, "sub", "sup")
    new_index = None if edges is None else index.extend(*edges, max_pairs)
    if new_index is None:
        return None
    delta_df = _pairs_frame(old_tc.sparkSession, new_index.added, old_tc, "sub", "sup")
    return old_tc.unionByName(delta_df), delta_df, new_index


def incremental_tc(
    old_tc: DataFrame,
    delta_edges: DataFrame,
    max_iterations: int = 200,
    broadcast_row_threshold: int = 5_000_000,
    old_tc_rows: int | None = None,
    index: ClosureIndex | None = None,
) -> tuple[DataFrame, DataFrame, ClosureIndex | None]:
    """(new_tc, delta_pairs, new_index): extend an already-closed relation
    (columns sub/sup) with new edges — new pairs are exactly those with
    >= 1 new edge on some path. delta_pairs = new_tc minus old_tc.

    With `index` (old_tc's ClosureIndex) the call is served on the driver:
    one job, no distributed round, and new_index is the extended index. If
    that path falls back (a null token, or a closure past
    broadcast_row_threshold pairs) or no index is given, the distributed
    two-sided delta composition runs and new_index is None: the old index
    no longer matches the closure.

    `old_tc_rows` (a caller-supplied row count or upper bound, e.g. the
    streaming engine's running _n_sc_star stat) replaces the per-round
    closure count behind the broadcast decision. Per-round work on the
    distributed path is delta x closure joins plus a delta-sized dedup; the
    closure itself is only ever UNIONED (the delta is anti-joined disjoint
    first), never re-deduplicated — no O(closure) shuffle per round."""
    if index is not None:
        out = _driver_incremental_tc(old_tc, delta_edges, index, broadcast_row_threshold)
        if out is not None:
            return out
    rows = old_tc_rows if old_tc_rows is not None else old_tc.count()
    side0 = F.broadcast(old_tc) if (
        0 < broadcast_row_threshold and rows <= broadcast_row_threshold
    ) else old_tc
    delta = (
        delta_edges.dropDuplicates()
        .join(side0, on=["sub", "sup"], how="left_anti")
        .localCheckpoint(eager=False)
    )
    closure = old_tc.unionByName(delta).localCheckpoint(eager=False)
    all_delta = delta
    for _ in range(max_iterations):
        n_new = delta.count()
        if n_new == 0:
            return closure, all_delta, None
        rows += n_new
        small = 0 < broadcast_row_threshold and rows <= broadcast_row_threshold
        side = F.broadcast(closure) if small else closure
        fwd = (
            delta.alias("d")
            .join(side.alias("c"), F.col("d.sup") == F.col("c.sub"))
            .select(F.col("d.sub").alias("sub"), F.col("c.sup").alias("sup"))
        )
        bwd = (
            side.alias("c")
            .join(delta.alias("d"), F.col("c.sup") == F.col("d.sub"))
            .select(F.col("c.sub").alias("sub"), F.col("d.sup").alias("sup"))
        )
        grown = fwd.unionByName(bwd)
        if small:
            # anti-before-dedup against the (reused) broadcast closure: one
            # shuffle per round (see transitive_closure)
            delta = (
                grown.join(side, on=["sub", "sup"], how="left_anti")
                .dropDuplicates()
                .localCheckpoint(eager=False)
            )
        else:
            delta = (
                grown.dropDuplicates()
                .join(side, on=["sub", "sup"], how="left_anti")
                .localCheckpoint(eager=False)
            )
        closure = closure.unionByName(delta).localCheckpoint(eager=False)
        all_delta = all_delta.unionByName(delta).localCheckpoint(eager=False)
    raise FixpointDidNotConverge("incremental_tc did not converge")


def reflexive(nodes: DataFrame, node_col: str, child: str, parent: str) -> DataFrame:
    """(x, x) pairs for every node — the reflexive part of a closure."""
    return nodes.select(
        F.col(node_col).alias(child), F.col(node_col).alias(parent)
    ).dropDuplicates()


def star_closure(tc: DataFrame, classes: DataFrame, broadcast: bool = False) -> DataFrame:
    """The class star closure: tc (sub, sup) plus every class's reflexive
    pair plus its implicit (c, TOP) pair.

    Built as a DISJOINT union instead of deduplicated: tc overlaps the
    reflexive rows only on cycle self-pairs and the top rows only on told
    (x, TOP) pairs, both vocabulary-rare and anti-joined away, and the
    reflexive and top rows overlap each other only at (TOP, TOP), excluded
    from the top side. No O(closure) dropDuplicates exchange. Each overlap
    side holds at most one pair per class: `broadcast` (the caller's class
    count fits its broadcast bound) hints both; otherwise the session's
    byte threshold decides."""
    refl = reflexive(classes, "c", "sub", "sup")
    top = classes.where(F.col("c") != T.TOP).select(
        F.col("c").alias("sub"), F.lit(T.TOP).cast("int").alias("sup")
    )
    self_pairs = tc.where(F.col("sub") == F.col("sup"))
    top_pairs = tc.where((F.col("sup") == T.TOP) & (F.col("sub") != T.TOP))
    if broadcast:
        self_pairs, top_pairs = F.broadcast(self_pairs), F.broadcast(top_pairs)
    return tc.unionByName(
        refl.join(self_pairs, on=["sub", "sup"], how="left_anti")
    ).unionByName(top.join(top_pairs, on=["sub", "sup"], how="left_anti"))


def property_star(
    sp: DataFrame, props: DataFrame, max_iterations: int, broadcast_row_threshold: int
) -> DataFrame:
    """R2: the reflexive-transitive property closure sp* (sub, sup) of the
    told sub-property edges over every property, deduplicated and
    checkpointed (vocabulary-sized)."""
    return (
        transitive_closure(
            sp,
            child="sub",
            parent="sup",
            max_iterations=max_iterations,
            broadcast_row_threshold=broadcast_row_threshold,
        )
        .unionByName(reflexive(props, "p", "sub", "sup"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )


def reflexive_transitive_closure(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str,
    child: str = "child",
    parent: str = "parent",
    **kwargs,
) -> DataFrame:
    """tc(edges) union {(x,x) : x in nodes}.

    The two components only overlap on CYCLE nodes (tc contains (x,x) iff x
    lies on a cycle — vocabulary-rare), so instead of an O(closure)
    dropDuplicates shuffle the reflexive side is broadcast-anti-joined
    against tc's self-pairs and unioned disjoint (same set, one less
    closure-sized exchange)."""
    tc = transitive_closure(edges, child=child, parent=parent, **kwargs)
    refl = reflexive(nodes, node_col, child, parent)
    self_pairs = tc.where(F.col(child) == F.col(parent))
    return tc.unionByName(
        refl.join(F.broadcast(self_pairs), on=[child, parent], how="left_anti")
    )
