"""Delta-restricted incremental materialization across micro-batches.

The streaming pipeline's scale path: instead of re-running the full R1-R4
fixpoint over all accumulated told axioms per micro-batch, maintain a
ClosureState and extend it with just the batch's delta:

- incremental transitive closure: new pairs are exactly those with >= 1 new
  edge on some path. While the star closure fits broadcast_row_threshold, a
  driver-resident closure.ClosureIndex serves each call at one job (it
  extends sorted packed int64 arrays by range lookups); past the bound, the
  distributed path composes the delta against the accumulated closure from
  BOTH sides until fixpoint (O(log diameter) rounds, same 'smart'
  discipline as closure.transitive_closure);
- delta-restricted R3: a new relation row needs >= 1 new input among
  {subject-closure pair, told existential, filler-closure pair, property-
  closure pair}. While the class closure is index-served and the rule
  inputs fit broadcast_row_threshold, each round derives those rows on the
  driver (DriverRules: packed int64 arrays next to the ClosureIndex), and
  Spark only checks them against the accumulated rel, in one probe per
  batch; otherwise the one-sided passes run in Spark (derive_delta_passes)
  and an anti-join against the accumulated rel keeps only genuinely new
  rows (_settle).

- delta-sized R4 equivalence feedback: sc facts derived from rel rows
  matching an AX_EQUIV_SOME definition re-enter R1/R3 as semi-naive rounds
  (feedback_rounds over a ClassFixpoint, reference
  RelationGraph.scala:217-230) — the one round body materialize_edges runs
  too, whose first round is this engine's late-definition case. Steady-state
  batches under existing definitions pay delta-sized work — only NEW rel
  rows can fire a definition they have not fired before. A batch that
  introduces a NEW definition additionally pays one broadcast-join scan
  (never a shuffle) over the accumulated rel to activate the definition
  against history — a vocabulary-rare event, not a per-batch cost.

Output effects that RETRACT rows (late unsatisfiability suppressing rows
whose object turned unsat; late mutual subsumption upgrading an emitted
subClassOf row to reciprocal owl:equivalentClass rows under
equivalence_as_subclass=False) are first-class: `assemble_delta` returns
(new_rows, retracted_rows) and the sink tombstones the retractions, so the
live sink contents always equal the one-shot batch materialization.
Retractions are permanent (entailment, unsatisfiability and mutuality all
grow monotonically with told input), so a tombstoned edge hash can never be
legitimately re-emitted — tombstones compose safely across batches.

State frames persist as a snapshot plus per-batch deltas under the
pipeline's work dir, versioned by batch id and made visible by the same
manifest protocol as the sink, so crash/replay rebuilds identical state
without O(history) writes per batch. Each snapshot or delta is ONE tagged
parquet dataset (a `frame` partition column over positional int32 token
columns), written in one job and read back under a pinned schema.

Per-batch Spark job budget: under AQE every exchange a plan contains is a
job of its own, even behind a lazy `localCheckpoint` (the checkpoint
materializes every shuffle and broadcast stage of its plan up front), and
each job costs a driver round trip whatever its size. So each phase of
`apply_delta` folds its frames into one tagged plan (the told fold, the
history anti-join plus the R4 probe) followed by ONE stats job, instead of
one plan and one probe per frame, and the driver rounds start no job but
one pull of the told fold and one history probe. A probe whose
whole input stage is known to be delta-sized (the told fold, the closure
delta, a steady batch's candidates against a broadcast history) reads it
through `coalesce(1)`: a single partition satisfies the aggregate's
required distribution, so the probe is one job, not a shuffle job plus a
result job. Anywhere a history-sized stage could feed the probe, it keeps
the parallel plan.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field, replace
from functools import reduce

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from relation_graph_spark import tokens as T
from relation_graph_spark.closure import (
    ClosureIndex,
    FixpointDidNotConverge,
    _low,
    _member,
    _pack,
    _ranges,
    _spread,
    _unpack,
    property_star,
    star_closure,
)
from relation_graph_spark.config import RGConfig
from relation_graph_spark.materialize import (
    _PACK_BITS,
    _PACK_MASK,
    _distinct3,
    _fire,
    derive_relations,
    materialize_edges,
)

# every persisted frame -> its int32 token columns, in tagged-column order
FRAME_COLUMNS = {
    "sc": ("sub", "sup"),  # told subclass edges incl. R4-derived (post-feedback)
    "some": ("s", "p", "f"),
    "def_some": ("f", "p", "o"),
    "sp": ("sub", "sup"),
    "classes": ("c",),
    "props": ("p",),
    "assertions": ("ind", "c"),
    "sc_tc": ("sub", "sup"),  # transitive closure of sc
    "rel": ("s", "p", "o"),  # accumulated R3 output
    "sc_star": ("sub", "sup"),
    "sp_star": ("sub", "sup"),
}

# Derived closure frames persisted ALONGSIDE the told frames (frame name ->
# in-memory state key), so a running job can re-point EVERY frame at the
# on-disk store after each batch's persist (repoint_state). Re-pointing is
# load-bearing beyond ~15 batches: chaining localCheckpointed Datasets
# across batches carries each batch's Catalyst statistics forward
# (LogicalRDD originStats), and join-stat PRODUCTS make the sizeInBytes
# BigInt double its digit count per batch — planning time then grows
# exponentially (measured: minutes per batch by batch ~20, all of it in
# BigInteger.multiply under SizeInBytesOnlyStatsPlanVisitor). Parquet-backed
# frames re-anchor statistics at real file sizes every batch — which is
# also the honest cluster architecture: state lives in the bucketed store,
# not in driver-chained Dataset lineage.
DERIVED_FRAMES = {"sc_star": "_sc_star", "sp_star": "_sp_star"}

PERSISTED_FRAMES = list(FRAME_COLUMNS)

# state frames proper (the derived closures rebuild cheaply on load)
STATE_FRAMES = [n for n in FRAME_COLUMNS if n not in DERIVED_FRAMES]

# told frames folded by the per-batch tagged anti-join (apply_delta)
_TOLD_FRAMES = [n for n in STATE_FRAMES if n not in ("sc_tc", "rel")]

# The accumulated `rel` frame — the only state frame that grows with the
# input stream rather than the vocabulary — is persisted HASH-BUCKETED by
# pmod(xxhash64(s, p, o), REL_BUCKETS) (a `bucket` partition column, the
# offline analog of a bucket-partitioned Iceberg state table). The per-batch
# rel-delta dedup anti-join then reads ONLY the buckets the delta touches
# (partition pruning at the parquet scan), so the history side of the one
# O(|rel|) join in the fast path is bounded by delta-touched buckets, not
# total history. At cluster scale the same layout makes the anti-join a
# storage-partitioned join.
REL_BUCKETS = int(os.environ.get("RGS_REL_BUCKETS", "32"))

# Tagged state layout: every snapshot/delta dir holds ONE dataset of
# positional token columns t0..t2 (frames with fewer columns pad with
# _NO_TOKEN), partitioned by `frame`. A snapshot is also partitioned by
# `bucket` (the rel hash bucket for `rel` rows, 0 for every other frame); a
# delta is not — it is delta-sized, so one file per frame beats 32 tiny
# bucket files, and its rows read back with a null bucket and are never
# pruned. Reads pass this schema, so no read launches a footer-inference
# job. Version 1 was one parquet dir per frame.
STATE_FORMAT = 2
_TAG_COLS = ("t0", "t1", "t2")
_NO_TOKEN = -1
_STATE_SCHEMA = "t0 int, t1 int, t2 int, frame string, bucket int"


# Expressions on the per-batch path are SQL strings (selectExpr / where /
# join on column names) rather than Column objects: with PySpark's
# DataFrame debugging on (the default), every Column method call costs
# several extra driver round trips to record its Python call site.


def _rel_bucket(s: str = "s", p: str = "p", o: str = "o") -> str:
    """SQL: the rel hash bucket of an (s, p, o) row."""
    return (
        f"CAST(pmod(xxhash64(CAST({s} AS INT), CAST({p} AS INT), "
        f"CAST({o} AS INT)), {REL_BUCKETS}) AS INT)"
    )


def _conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size session conf ("10m", "64MB", "-1") in bytes."""
    m = re.fullmatch(r"(-?\d+)\s*([kmgtp]?)i?b?", spark.conf.get(key).strip().lower())
    if m is None:
        raise ValueError(f"{key}: not a byte size")
    return int(m[1]) * 1024 ** " kmgtp".index(m[2] or " ")


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def _tagged(df: DataFrame, name: str, tag: str | None = None) -> DataFrame:
    """(frame, t0, t1, t2) view of one frame: its token columns in
    FRAME_COLUMNS order as int32, padded with _NO_TOKEN, tagged `tag`
    (default: the frame's name)."""
    cols = FRAME_COLUMNS[name]
    return df.selectExpr(
        f"'{tag or name}' AS frame",
        *[
            f"CAST({cols[i] if i < len(cols) else _NO_TOKEN} AS INT) AS {t}"
            for i, t in enumerate(_TAG_COLS)
        ],
    )


def _untag(tagged: DataFrame, name: str, *keep: str) -> DataFrame:
    """Inverse of _tagged: one frame's rows under its own column names (plus
    the `keep` columns as they are)."""
    return tagged.where(f"frame = '{name}'").selectExpr(
        *[f"{t} AS {c}" for t, c in zip(_TAG_COLS, FRAME_COLUMNS[name])], *keep
    )


def _no_state(spark: SparkSession) -> DataFrame:
    """An empty frame of the stored schema (a zero-row range, so no task
    ever starts a Python worker for it)."""
    return spark.range(0).selectExpr(
        *[f"CAST(NULL AS INT) AS {t}" for t in _TAG_COLS],
        "CAST(NULL AS STRING) AS frame",
        "CAST(NULL AS INT) AS bucket",
    )


def _read_state(spark: SparkSession, root: str) -> DataFrame:
    """One snapshot/delta dir under the pinned schema (no inference job);
    an absent `frame` partition reads as empty. Only parquet files are
    data: a consolidated delta also holds its folded.json marker."""
    return (
        spark.read.schema(_STATE_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .parquet(root)
    )


def _read_tagged(spark: SparkSession, roots: list[str]) -> DataFrame:
    """The whole store as one tagged frame: one scan per snapshot/delta
    root, unioned (partition discovery refuses multiple roots in a single
    read). Filters on `frame` / `bucket` above the union prune every scan,
    so each frame is one filter over this frame, not one read per root."""
    reads = [_read_state(spark, r) for r in roots if os.path.isdir(r)]
    return _union(reads or [_no_state(spark)])


def _touched_bytes(roots: list[str], touched: list[int]) -> int:
    """Bytes of stored rel rows the pruned history anti-join reads: the
    touched buckets of a snapshot's rel, and all of a delta's (unbucketed)
    rel."""
    size = 0
    for root in roots:
        rel_dir = os.path.join(root, "frame=rel")
        for d in [rel_dir, *(os.path.join(rel_dir, f"bucket={b}") for b in touched)]:
            if os.path.isdir(d):
                with os.scandir(d) as entries:
                    size += sum(e.stat().st_size for e in entries if e.name.endswith(".parquet"))
    return size


def _fits(cfg: RGConfig, rows: int) -> bool:
    """Whether `rows` rows fit the broadcast row bound."""
    return 0 < cfg.broadcast_row_threshold and rows <= cfg.broadcast_row_threshold


def _bounded_broadcast(cfg: RGConfig, df: DataFrame, rows: int) -> DataFrame:
    return F.broadcast(df) if _fits(cfg, rows) else df


def initial_state(told: dict[str, DataFrame], cfg: RGConfig) -> dict[str, DataFrame]:
    m = materialize_edges(told, cfg)
    return {
        "sc": m["sc_final"],
        "some": m["some"],
        "def_some": told["def_some"].dropDuplicates(),
        "sp": told["sp"].dropDuplicates(),
        "classes": m["classes"],
        "props": told["props"],
        "assertions": told["assertions"].dropDuplicates(),
        "sc_tc": m["sc_closure"],
        "rel": m["rel"],
        # derived carry-forward, seeded from the fixpoint's own frames
        "_sc_star": m["sc_star"],
        "_sp_star": m["sp_star"],
        "_n_some": m["_n_some"],
        "_n_def": m["_n_def"],
        "_has_bot": m["_has_bot"],
        "_r3_plans": m["_r3_plans"],
        # the class closure's index and the driver rules, when the
        # bootstrap's R4 rounds seeded them: the first delta batch then
        # needs no pull
        **m["_driver_state"],
    }


def _ensure_derived(state: dict[str, DataFrame], cfg: RGConfig) -> None:
    """Populate the in-memory derived-frame/stat cache if absent (fresh
    restart or the first batch after the bootstrap). One-time O(closure)
    cost per process, not per batch: every missing running stat comes from
    ONE union-aggregate job. The class closure's ClosureIndex and the
    driver rules are seeded by the first round that needs them
    (ClassFixpoint.pull). A star closure rebuilt here (only for a state
    without its stored star) leaves its broadcasts to the session's byte
    threshold: no class count is known yet."""
    if "_sc_star" not in state:
        state["_sc_star"] = star_closure(state["sc_tc"], state["classes"]).localCheckpoint(
            eager=False
        )
    if "_sp_star" not in state:
        state["_sp_star"] = property_star(
            state["sp"], state["props"], cfg.max_iterations, cfg.broadcast_row_threshold
        )
    counted = {
        "_n_sc_star": "_sc_star",
        "_n_sp_star": "_sp_star",
        "_n_some": "some",
        "_n_def": "def_some",
        "_n_assertions": "assertions",
    }
    probes = [
        state[frame]
        .agg(F.count(F.lit(1)).alias("n"), F.lit(None).cast("bigint").alias("m"))
        .select(F.lit(key).alias("key"), "n", "m")
        for key, frame in counted.items()
        if key not in state
    ]
    if "_max_token" not in state:
        # packability bound: every token a closure side or `some` carries
        probes += [
            state[frame]
            .agg(F.max(F.greatest(*cols)).cast("bigint").alias("m"))
            .select(F.lit("_max_token").alias("key"), F.lit(0).cast("bigint").alias("n"), "m")
            for frame, cols in (
                ("_sc_star", ("sub", "sup")),
                ("_sp_star", ("sub", "sup")),
                ("some", ("s", "p", "f")),
            )
        ]
    if probes:
        rows = _union(probes).collect()
        for r in rows:
            if r["key"] != "_max_token":
                state[r["key"]] = r["n"]
        if "_max_token" not in state:
            state["_max_token"] = max(
                (r["m"] for r in rows if r["key"] == "_max_token" and r["m"] is not None),
                default=None,
            )


def output_frames(state: dict[str, DataFrame], cfg: RGConfig) -> dict[str, DataFrame]:
    """Reconstruct the frame dict assemble_output expects from a state.

    When the running `_has_bot` stat proves no (x, owl:Nothing) pair has
    ever entered the closure, unsat is a STATICALLY-empty frame (a
    where(false) filter, not a checkpoint) — Catalyst's
    PropagateEmptyRelation then folds every downstream unsat anti-join out
    of the per-batch plans, and the bottom-rule fixpoint is skipped
    entirely. `_has_bot is None` (restart, legacy state) falls back to the
    full computation."""
    from relation_graph_spark.materialize import compute_unsat

    sc_star = state.get("_sc_star")
    if sc_star is None:
        sc_star = star_closure(state["sc_tc"], state["classes"])
    if state.get("_has_bot") is False:
        unsat = sc_star.where(F.lit(False)).select(F.col("sub").alias("c"))
    else:
        unsat = compute_unsat(sc_star, state["some"], cfg)
    return {
        "rel": state["rel"],
        "sc_closure": state["sc_tc"],
        "sc_star": sc_star,
        "unsat": unsat,
        "classes": state["classes"],
        "assertions": state["assertions"],
    }


def incremental_tc(
    old_tc: DataFrame,
    delta_edges: DataFrame,
    cfg: RGConfig,
    old_tc_rows: int | None = None,
    index: ClosureIndex | None = None,
) -> tuple[DataFrame, DataFrame, ClosureIndex | None]:
    """cfg-shaped wrapper over closure.incremental_tc (ClassFixpoint.close,
    the TC step of both engines' R4 rounds). `index` (old_tc's ClosureIndex)
    serves the call on the driver; `old_tc_rows` (or an upper bound, e.g.
    the running _n_sc_star stat) makes the distributed path's broadcast
    decision count-free."""
    from relation_graph_spark.closure import incremental_tc as _itc

    return _itc(
        old_tc,
        delta_edges,
        max_iterations=cfg.max_iterations,
        broadcast_row_threshold=cfg.broadcast_row_threshold,
        old_tc_rows=old_tc_rows,
        index=index,
    )


def derive_delta_passes(
    sc_star: DataFrame,
    some: DataFrame,
    sp_star: DataFrame,
    d_star: DataFrame | None,
    full_some: DataFrame | None,
    broadcast_row_threshold: int,
    sides_broadcast: bool,
    staged: bool,
    max_token: int | None = None,
) -> DataFrame:
    """R3 rows with >= 1 new input, as one-sided derive_relations passes
    unioned under one distinct: subject side over the closure delta
    `d_star`, filler side over `d_star`, and a full pass over `full_some`
    (the batch's new told existentials, or every told existential when the
    property hierarchy grew). The Spark plan of a round the driver does
    not serve (DriverRules.derive returns the same rows). `staged` keeps
    the intermediate dedups (measured 1.7x faster than a fused chain at 44M
    edges, see derive_relations); sides that do not fit the broadcast bound
    join through the hub-salted path. The filler-delta pass only expands
    the told existentials whose filler gained a closure pair."""
    kw = {
        "sides_broadcast": sides_broadcast,
        # a known bound skips derive_relations' own max-token scan
        "max_token": max_token if max_token is not None else 1 << _PACK_BITS,
        "staged": staged,
    }
    passes = []
    if d_star is not None:
        passes.append(
            derive_relations(sc_star, some, sp_star, broadcast_row_threshold, subject_star=d_star, **kw)
        )
        fillers = d_star.selectExpr("sub AS f")
        filled = some.join(F.broadcast(fillers) if sides_broadcast else fillers, "f", "left_semi")
        passes.append(
            derive_relations(sc_star, filled, sp_star, broadcast_row_threshold, filler_star=d_star, **kw)
        )
    if full_some is not None:
        passes.append(derive_relations(sc_star, full_some, sp_star, broadcast_row_threshold, **kw))
    packable = max_token is not None and 0 <= max_token < (1 << _PACK_BITS)
    return _distinct3(_union(passes), "s", "p", "o", packable)


def _settle(
    cand: DataFrame | None,
    history: dict[str, DataFrame],
    prior: DataFrame | None,
    defs: DataFrame | None,
    sc_known: DataFrame,
    activated: DataFrame | None = None,
    narrow: bool = False,
) -> tuple[DataFrame, DataFrame | None, dict[str, int]]:
    """Deduplicate candidate rel rows against the ACCUMULATED rel of
    `history` (the one join against history in the per-batch path) and
    against `prior` (rows already added this batch), and derive the R4
    subclass facts the survivors fire. Returns (new_rel, new_sc,
    {"rel": rows, "sc": rows}); the counts are empty without definitions.

    With a persisted bucket layout the history side is pruned at the
    parquet scan to the buckets the candidates touch (input bytes bounded by
    the delta's bucket footprint, not total history), and broadcast while
    those bytes fit the session's broadcast threshold. Without one (the
    batch engine, direct apply_delta callers) the anti-join runs against
    the in-memory frame. `defs` (the definitions, R4's rule) is None
    without definitions; otherwise the survivors' subclass candidates, plus
    the `activated` ones of definitions new to the history, are anti-joined
    against `sc_known`, and the new rel rows and new sc facts leave as ONE
    tagged checkpoint plus ONE stats job — the R4 round's emptiness probe
    costs no job of its own.

    `narrow`: the caller vouches that `cand` is delta-sized, `prior` and
    `sc_known` are broadcast and nothing is `activated`. If the history
    side is broadcast too, every stage ending in a probe here is
    delta-sized, so the probes and the fired-fact dedup read one partition
    (one job each, no exchange). Otherwise they keep a parallel plan, one
    job more each: a single partition would pull a history-sized stage
    into one task."""
    stored: DataFrame | None = history.get("_state_tagged")  # type: ignore[assignment]
    if cand is None:
        rel_r = history["rel"].where("false").select("s", "p", "o")
    elif stored is not None:
        cand_b = cand.selectExpr("*", f"{_rel_bucket()} AS bucket").localCheckpoint(
            eager=False
        )
        probe = cand_b.coalesce(1) if narrow else cand_b
        touched = [r["bucket"] for r in probe.select("bucket").distinct().collect()]
        in_touched = ", ".join(str(b) for b in touched or [-1])
        hist = _untag(
            stored.where(f"bucket IN ({in_touched}) OR bucket IS NULL"), "rel"
        )
        spark = cand.sparkSession
        hist_bytes = _touched_bytes(history["_state_roots"], touched)
        if hist_bytes <= _conf_bytes(spark, "spark.sql.autoBroadcastJoinThreshold"):
            hist = F.broadcast(hist)
        else:
            narrow = False
        rel_r = cand_b.drop("bucket").join(hist, on=["s", "p", "o"], how="left_anti")
    else:
        rel_r = cand.join(history["rel"], on=["s", "p", "o"], how="left_anti")
        narrow = False
    if prior is not None:
        rel_r = rel_r.join(prior, on=["s", "p", "o"], how="left_anti")
    if defs is None:
        return rel_r.localCheckpoint(eager=False), None, {}
    sc_c = _fire(rel_r, defs)
    if activated is not None:
        sc_c = sc_c.unionByName(activated)
    sc_c = sc_c.join(sc_known, on=["sub", "sup"], how="left_anti")
    sc_c = (sc_c.coalesce(1) if narrow else sc_c).dropDuplicates()
    out = (
        _tagged(rel_r, "rel").unionByName(_tagged(sc_c, "sc")).localCheckpoint(eager=False)
    )
    n = {
        r["frame"]: r["count"]
        for r in (out.coalesce(1) if narrow else out).groupBy("frame").count().collect()
    }
    return _untag(out, "rel"), _untag(out, "sc"), {"rel": n.get("rel", 0), "sc": n.get("sc", 0)}


def _star_stats(d_star: DataFrame, index: ClosureIndex | None) -> tuple[int, int]:
    """(rows, rows reaching owl:Nothing) of a closure delta minus its self
    and TOP pairs: from the pairs `index` added when it served the TC call
    (no job), else one job."""
    if index is not None:
        sub, sup = index.added_pairs()
        star = (sub != sup) & (sup != T.TOP)
        return int(star.sum()), int((star & (sup == T.BOT)).sum())
    r = (
        d_star.coalesce(1)
        .selectExpr("count(1) AS n", f"sum(CASE WHEN sup = {T.BOT} THEN 1 ELSE 0 END) AS bot")
        .collect()[0]
    )
    return r["n"], int(r["bot"] or 0)


# ------------------------------------------------------------ driver rounds
#
# While the class closure is index-served and the told existentials and
# the property closure fit broadcast_row_threshold, the R4 rounds run on
# the driver (the reference's in-memory maps, packed): the R3 and R4 rule
# inputs are sorted int64 arrays next to the closure's ClosureIndex, and a
# rel row (s, p, o) is one key s<<42 | p<<21 | o, so every token must lie
# in [0, 2^21). Spark only checks the rows against the accumulated rel, in
# one probe per batch (ClassFixpoint.finish).

_KEY_BITS = 2 * _PACK_BITS
_PO_MASK = (1 << _KEY_BITS) - 1


def _key3(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    return (
        (a.astype(np.int64) << _KEY_BITS) | (b.astype(np.int64) << _PACK_BITS) | c.astype(np.int64)
    )


def _cols3(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    return keys >> _KEY_BITS, (keys >> _PACK_BITS) & _PACK_MASK, keys & _PACK_MASK


def _packable(*cols: np.ndarray) -> bool:
    return all(not len(c) or (c.min() >= 0 and c.max() <= _PACK_MASK) for c in cols)


def _merged(keys: np.ndarray, new: np.ndarray) -> np.ndarray:
    """Sorted unique `keys` plus `new`."""
    new = np.unique(new)
    new = new[~_member(keys, new)]
    return np.insert(keys, np.searchsorted(keys, new), new)


def _lookup(
    keys: np.ndarray, nodes: np.ndarray, shift: int, budget: int
) -> tuple[np.ndarray, np.ndarray] | None:
    """(index into nodes, position in keys) of every key of sorted `keys`
    whose bits above the low `shift` are one of `nodes`; None, without
    expanding, past `budget` keys."""
    lo, n = _ranges(keys, nodes, shift)
    return None if int(n.sum()) > budget else _spread(lo, n)


def _via(t: np.ndarray, col: int, keys: np.ndarray, shift: int, budget: int) -> np.ndarray | None:
    """Triple keys `t` with column `col` replaced by every value the sorted
    `keys` map it to (a key's bits above `shift` are the column's token, its
    low `shift` bits the value), deduplicated. None, without expanding, past
    `budget` rows."""
    cols = list(_cols3(t))
    got = _lookup(keys, cols[col], shift, budget)
    if got is None:
        return None
    owner, pos = got
    cols = [c[owner] for c in cols]
    cols[col] = keys[pos] & ((1 << shift) - 1)
    return np.unique(_key3(*cols))


@dataclass(frozen=True)
class DriverRules:
    """The R3 and R4 rule inputs of the class fixpoint on the driver, as
    sorted packed int64 arrays: the star closure `star` (a ClosureIndex of
    sc_tc plus every class's reflexive and TOP pair), the told existentials
    by subject (`some_s`: s<<42|q<<21|f) and by filler (`some_f`:
    f<<42|q<<21|s), the property closure `sp` (q<<21|p), the definitions
    `defs` (p<<42|o<<21|f, for `f ≡ p some o`) and the told plus
    R4-derived subclass edges `sc` (closure packing). Immutable."""

    star: ClosureIndex
    some_s: np.ndarray
    some_f: np.ndarray
    sp: np.ndarray
    defs: np.ndarray
    sc: np.ndarray

    @classmethod
    def of(cls, tc: ClosureIndex, classes, some, sp_star, sc, defs) -> DriverRules | None:
        """The rules over the pulled token columns of each frame. None if a
        token does not pack."""
        (c,) = classes
        sub, sup = tc.pairs()
        if not _packable(c, sub, sup):
            return None
        top = c[c != T.TOP]
        star = ClosureIndex.of_pairs(
            np.concatenate([sub, c, top]), np.concatenate([sup, c, np.full(len(top), T.TOP)])
        )
        empty = np.empty(0, np.int64)
        return cls(star, empty, empty, empty, empty, empty).grown(some, defs, sc, sp_star=sp_star)

    def grown(self, some, defs, sc, sp_star=None, props=()) -> DriverRules | None:
        """These rules plus told rows (each a tuple of token columns): the
        property closure replaced by `sp_star`, or grown by the reflexive
        pairs of new `props`. None if a token does not pack."""
        if not _packable(*some, *defs, *sc, *(sp_star or ()), *props):
            return None
        sp = self.sp if sp_star is None else np.unique((sp_star[0] << _PACK_BITS) | sp_star[1])
        if len(props):
            (p,) = props
            sp = _merged(sp, (p << _PACK_BITS) | p)
        s, q, f = some if len(some) else (np.empty(0, np.int64),) * 3
        return replace(
            self,
            some_s=_merged(self.some_s, _key3(s, q, f)),
            some_f=_merged(self.some_f, _key3(f, q, s)),
            sp=sp,
            defs=_merged(self.defs, _key3(defs[1], defs[2], defs[0])) if len(defs) else self.defs,
            sc=_merged(self.sc, _pack(*sc)) if len(sc) else self.sc,
        )

    def derive(self, d: np.ndarray, full: np.ndarray | None, budget: int) -> np.ndarray | None:
        """Packed keys of every R3 row with >= 1 new input: a new star pair
        of `d` (closure packing) on the subject or the filler side, or a
        told existential of `full` (s<<42|q<<21|f) — the rows
        derive_delta_passes returns, deduplicated. Each expansion is sized
        before it runs: None past `budget` rows."""
        fwd, bwd, q_p = (self.star.fwd, 32), (self.star.bwd, 32), (self.sp, _PACK_BITS)
        starts = []
        if len(d):
            x, y = (a.astype(np.int64) for a in _unpack(d))
            # subject side: x under a told subject y, then f -> o, q -> p
            got = _lookup(self.some_s, y, _KEY_BITS, budget)
            if got is None:
                return None
            owner, pos = got
            starts.append(((x[owner] << _KEY_BITS) | (self.some_s[pos] & _PO_MASK), [(2, *fwd), (1, *q_p)]))
            # filler side: y above a told filler x, then s -> x, q -> p
            got = _lookup(self.some_f, x, _KEY_BITS, budget)
            if got is None:
                return None
            owner, pos = got
            _, q, s = _cols3(self.some_f[pos])
            starts.append((_key3(s, q, y[owner]), [(0, *bwd), (1, *q_p)]))
        if full is not None:
            starts.append((full, [(0, *bwd), (2, *fwd), (1, *q_p)]))
        rows = [np.empty(0, np.int64)]
        for t, steps in starts:
            t = np.unique(t)
            for col, keys, shift in steps:
                t = _via(t, col, keys, shift, budget)
                if t is None:
                    return None
            rows.append(t)
        return np.unique(np.concatenate(rows))

    def fire(self, rel: np.ndarray, budget: int) -> np.ndarray | None:
        """R4 on packed rel keys: the facts `x subClassOf f` (closure
        packing) for each row (x, p, o) and definition `f ≡ p some o`, x !=
        f, that `sc` does not hold. None past `budget` facts."""
        got = _lookup(self.defs, rel & _PO_MASK, _PACK_BITS, budget)
        if got is None:
            return None
        owner, pos = got
        x, f = rel[owner] >> _KEY_BITS, self.defs[pos] & _PACK_MASK
        facts = np.unique(_pack(x[x != f], f[x != f]))
        return facts[~_member(self.sc, facts)]


# Spark's xxhash64 (seed 42) of int columns, as _rel_bucket computes it:
# XXH64.hashInt chained over the columns, in wrapping uint64 arithmetic
_XX = [np.uint64(v) for v in (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9)]
_XX5 = np.uint64(0x27D4EB2F165667C5 + 4)


def _rel_buckets(keys: np.ndarray) -> np.ndarray:
    """The rel hash bucket (_rel_bucket) of each packed rel key."""
    p1, p2, p3 = _XX
    h = np.full(len(keys), 42, np.uint64)
    for c in _cols3(keys):
        h = h + _XX5
        h ^= c.astype(np.uint64) * p1
        h = ((h << np.uint64(23)) | (h >> np.uint64(41))) * p2 + p3
        h ^= h >> np.uint64(33)
        h *= p2
        h ^= h >> np.uint64(29)
        h *= p3
        h ^= h >> np.uint64(32)
    return h.view(np.int64) % REL_BUCKETS


def _local(spark: SparkSession, schema: str, *cols: np.ndarray) -> DataFrame:
    """Token columns as a local relation of int columns: built from an
    Arrow table, so no Python row objects and no job."""
    import pyarrow as pa

    names = [f.split()[0] for f in schema.split(",")]
    table = pa.table({n: pa.array(c.astype(np.int32)) for n, c in zip(names, cols)})
    return spark.createDataFrame(table, schema=schema)


def _pull_tagged(tagged: DataFrame, widths: dict[str, int]) -> dict[str, tuple | None]:
    """Tagged rows on the driver, through Arrow (one job): each tag of
    `widths` -> its first `width` token columns as int64 arrays (empty if
    absent), or None if one holds a null."""
    import pyarrow as pa

    t = tagged.toArrow()
    frame = t.column("frame").to_numpy(zero_copy_only=False)
    out: dict[str, tuple | None] = {}
    for tag, width in widths.items():
        rows = t.filter(pa.array(frame == tag))
        cols = [rows.column(c) for c in _TAG_COLS[:width]]
        out[tag] = (
            None
            if any(c.null_count for c in cols)
            else tuple(c.to_numpy().astype(np.int64) for c in cols)
        )
    return out


@dataclass
class ClassFixpoint:
    """The class side of the R1-R4 fixpoint, as the R4 feedback rounds grow
    it in the batch (materialize_edges) and the stream (apply_delta) alike.

    `sc` holds the told plus R4-derived subclass edges, `tc` their
    transitive closure and `star` its star closure over `classes`; `rows`
    upper-bounds |star| (so |tc| too). The R3 inputs — told existentials
    `some` (`n_some` rows), property closure `sp_star` (`n_sp` rows),
    packability bound `max_token`, the `staged` plan choice — and the
    definitions `defs` (None without any) stay fixed. `history` holds the
    rel that new rel rows are deduplicated against (_settle, finish).

    On the driver: `index` is tc's ClosureIndex and `rules` the
    DriverRules, each None once unavailable (past the bound, a dropped
    index, an unpackable or null token) and seeded by the first round that
    needs them (pull) unless handed in. What the rounds add is recorded:
    rel rows disjoint from the history's (`rel`, `n_rel` of them), per call
    the R4 facts, tc and star deltas, and the R3 plan of each round
    (`plans`: driver / passes); `bot` counts new star pairs into
    owl:Nothing. Driver rounds keep their additions as arrays until
    _flush ships them, and their rel rows unchecked against the history
    until finish."""

    cfg: RGConfig
    history: dict[str, DataFrame]
    sc: DataFrame
    tc: DataFrame
    star: DataFrame
    classes: DataFrame
    rows: int
    some: DataFrame
    n_some: int
    sp_star: DataFrame
    n_sp: int
    max_token: int | None
    staged: bool
    defs: DataFrame | None
    index: ClosureIndex | None = None
    rules: DriverRules | None = None
    index_seeded: bool = False
    rules_seeded: bool = False
    rel: DataFrame | None = None
    n_rel: int = 0
    bot: int = 0
    plans: list[str] = field(default_factory=list)
    sc_parts: list[DataFrame] = field(default_factory=list)
    tc_parts: list[DataFrame] = field(default_factory=list)
    star_parts: list[DataFrame] = field(default_factory=list)
    _sc_new: list[np.ndarray] = field(default_factory=list)
    _tc_new: list[np.ndarray] = field(default_factory=list)
    _star_new: list[np.ndarray] = field(default_factory=list)
    _rel_new: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    _n_facts: int = 0  # rows of the last facts frame _settle returned

    # ------------------------------------------------------- driver state

    def driven(self) -> bool:
        """Whether the next round can run on the driver. The index and rules
        are dropped for good once their inputs pass the bound (the closure,
        the told existentials and the property closure only grow)."""
        if not _fits(self.cfg, self.rows):
            self.index, self.index_seeded = None, True
        if not (_fits(self.cfg, self.n_some) and _fits(self.cfg, self.n_sp)) or (
            self.index_seeded and self.index is None
        ):
            self.rules, self.rules_seeded = None, True
        return not self.rules_seeded or self.rules is not None

    def pull(self, extra: DataFrame, widths: dict[str, int]) -> dict[str, tuple | None]:
        """The tagged rows `extra` on the driver, in one job with whatever of
        the driver state is not seeded yet (sc_tc for the index; the rule
        inputs for the rules)."""
        frames = {"sc_tc": self.tc} if not self.index_seeded else {}
        if not self.rules_seeded:
            frames.update(classes=self.classes, some=self.some, sp_star=self.sp_star, sc=self.sc)
            if self.defs is not None:
                frames["def_some"] = self.defs
        got = _pull_tagged(
            _union([extra, *(_tagged(df, n) for n, df in frames.items())]),
            {**widths, **{n: len(FRAME_COLUMNS[n]) for n in frames}},
        )
        if not self.index_seeded:
            self.index = None if got["sc_tc"] is None else ClosureIndex.of_pairs(*got["sc_tc"])
            self.index_seeded = True
        if not self.rules_seeded:
            parts = [got.get(n, ()) for n in ("classes", "some", "sp_star", "sc", "def_some")]
            self.rules = (
                DriverRules.of(self.index, *parts)
                if self.index is not None and all(p is not None for p in parts)
                else None
            )
            self.rules_seeded = True
        return got

    def extend(self, edges: np.ndarray, classes: np.ndarray | None = None) -> np.ndarray | None:
        """Close the packed subclass edges `edges` into the index (no pull)
        and grow the star closure by its new pairs plus the reflexive and
        TOP pairs of new `classes`. Returns the new star pairs, or None when
        the closure passes the bound (index and rules are then dropped)."""
        index = self.index.extend(*_unpack(edges), self.cfg.broadcast_row_threshold)
        if index is None:
            self.index = self.rules = None
            return None
        new = [index.added]
        if classes is not None:
            top = classes[classes != T.TOP]
            new += [_pack(classes, classes), _pack(top, np.full(len(top), T.TOP))]
        d = np.unique(np.concatenate(new))
        d = d[~_member(self.rules.star.fwd, d)]
        self.index, self.rules = index, replace(self.rules, star=self.rules.star.union(d))
        self._tc_new.append(index.added)
        self._star_new.append(d)
        self.rows += len(d)
        self.bot += int((_low(d) == T.BOT).sum())
        return d

    def candidates(
        self, d: np.ndarray, full: np.ndarray | None = None, full_df: DataFrame | None = None
    ) -> np.ndarray | DataFrame | None:
        """A round's rel candidates from the new star pairs `d` and the told
        existentials `full` (packed keys; `full_df` as a frame): packed keys
        derived on the driver, or — when they would pass the bound — the
        derive_delta_passes frame; None when nothing is new."""
        if not len(d) and full is None:
            return None
        cand = self.rules.derive(d, full, self.cfg.broadcast_row_threshold)
        if cand is not None:
            self.plans.append("driver")
            return cand
        self._flush()
        if full is not None and full_df is None:
            full_df = _local(self._spark, "s int, p int, f int", *_cols3(full))
        return self.derive(self._pairs(d) if len(d) else None, full_df)

    @property
    def _spark(self) -> SparkSession:
        return self.tc.sparkSession

    def _pairs(self, keys: np.ndarray) -> DataFrame:
        return _local(self._spark, "sub int, sup int", *_unpack(keys))

    def _flush(self) -> None:
        """Ship the driver rounds' R4 facts, tc and star additions to Spark,
        one local relation each."""
        for new, parts, name in (
            (self._sc_new, self.sc_parts, "sc"),
            (self._tc_new, self.tc_parts, "tc"),
            (self._star_new, self.star_parts, "star"),
        ):
            keys = np.concatenate([np.empty(0, np.int64), *new])
            new.clear()
            if len(keys):
                df = self._pairs(keys)
                parts.append(df)
                setattr(self, name, getattr(self, name).unionByName(df))

    def driver_state(self) -> dict:
        """The index and rules to carry into the next batch: only those
        seeded (an absent key is seeded by the next round that needs it)."""
        return {
            **({"_sc_index": self.index} if self.index_seeded else {}),
            **({"_sc_rules": self.rules} if self.rules_seeded else {}),
        }

    # -------------------------------------------------------- Spark rounds

    def close(self, edges: DataFrame) -> tuple[DataFrame, int]:
        """Incremental TC of `edges` onto `tc` in Spark, served by `index`
        (seeded here by ClosureIndex.pull) while `rows` fits the broadcast
        bound. The rules miss these pairs: they are reseeded by the next
        round that runs on the driver. Returns the star delta — the tc delta
        minus its self and TOP pairs, which every class's reflexive and top
        rows already hold, so it is disjoint from `star` — and its row
        count; `grow` adds it."""
        fits = _fits(self.cfg, self.rows)
        if not self.index_seeded:
            self.index = ClosureIndex.pull(self.tc) if fits else None
            self.index_seeded = True
        if self.rules is not None:
            self.rules, self.rules_seeded = None, False
        self.tc, d_tc, self.index = incremental_tc(
            self.tc, edges, self.cfg, old_tc_rows=self.rows, index=self.index if fits else None
        )
        self.tc_parts.append(d_tc)
        d_star = d_tc.where(f"sub != sup AND sup != {T.TOP}")
        n, bot = _star_stats(d_star, self.index)
        self.bot += bot
        return d_star, n

    def grow(self, d_star: DataFrame, n: int) -> None:
        """Add `n` star rows disjoint from `star`: a plain union, no
        O(closure) dedup."""
        self.star = self.star.unionByName(d_star)
        self.star_parts.append(d_star)
        self.rows += n

    def derive(self, d_star: DataFrame | None, full: DataFrame | None) -> DataFrame:
        """R3 rows with >= 1 new input in Spark: the one-sided passes, hub
        salted past the broadcast bound."""
        self.plans.append("passes")
        return derive_delta_passes(
            self.star, self.some, self.sp_star, d_star, full, self.cfg.broadcast_row_threshold,
            sides_broadcast=_fits(self.cfg, self.rows + self.n_sp), staged=self.staged,
            max_token=self.max_token,
        )

    def known_sc(self) -> DataFrame:
        # |sc| <= |tc| <= rows
        return _bounded_broadcast(self.cfg, self.sc, self.rows)

    # ----------------------------------------------------------- a round

    def settle(
        self, cand: np.ndarray | DataFrame | None, activated: DataFrame | None, narrow: bool
    ) -> np.ndarray | DataFrame | None:
        """Keep the rel candidates `cand` this batch has not added yet and
        return the new R4 facts they fire (None if none). Driver keys
        without `activated` facts settle on the driver: their history check
        waits for finish, since a row of the history fired its facts when it
        was added (so sc already holds them). Otherwise _settle runs."""
        if cand is None and activated is None:
            return None
        if isinstance(cand, np.ndarray) and activated is None:
            cand = cand[~_member(self._rel_new, cand)]
            facts = self.rules.fire(cand, self.cfg.broadcast_row_threshold)
            if facts is not None:
                self._rel_new = _merged(self._rel_new, cand)
                if not len(facts):
                    return None
                self.rules = replace(self.rules, sc=_merged(self.rules.sc, facts))
                self._sc_new.append(facts)
                return facts
        if isinstance(cand, np.ndarray):
            self._flush()
            cand = _local(self._spark, "s int, p int, o int", *_cols3(cand))
        prior = ([self.rel] if self.rel is not None else []) + (
            [_local(self._spark, "s int, p int, o int", *_cols3(self._rel_new))]
            if len(self._rel_new)
            else []
        )
        rel, new_sc, n = _settle(
            cand, self.history,
            _bounded_broadcast(self.cfg, _union(prior), self.n_rel + len(self._rel_new))
            if prior else None,
            self.defs, self.known_sc(), activated, narrow=narrow,
        )
        self.rel = rel if self.rel is None else self.rel.unionByName(rel)
        self.n_rel += n.get("rel", 0)
        self._n_facts = n.get("sc", 0)
        return new_sc if self._n_facts else None

    def step(self, facts: np.ndarray | DataFrame) -> np.ndarray | DataFrame | None:
        """Add the R4 facts `facts` to sc, close them into the class closure
        and derive the rel candidates that use a new star pair: on the
        driver while it serves the round (a frame of facts that fits the
        bound is pulled, in one job with any unseeded driver state), else in
        Spark. None when no star pair is new."""
        keys = facts if isinstance(facts, np.ndarray) else None
        if keys is None:
            self.sc_parts.append(facts)
            self.sc = self.sc.unionByName(facts)
            if self.driven() and _fits(self.cfg, self._n_facts):
                got = self.pull(_tagged(facts, "sc", "facts"), {"facts": 2})["facts"]
                if got is not None and self.rules is not None:
                    keys = _pack(*got)
                    self.rules = replace(self.rules, sc=_merged(self.rules.sc, keys))
        if keys is not None and self.driven() and self.rules is not None:
            d = self.extend(keys)
            if d is not None:
                return self.candidates(d)
        if isinstance(facts, np.ndarray):
            self._flush()
            facts = self._pairs(facts)
        d_star, n = self.close(facts)
        if n == 0:
            return None  # facts were already entailed; no new rel can arise
        self.grow(d_star, n)
        return self.derive(d_star, None)

    def finish(self) -> None:
        """Ship the driver rounds' additions, checking their rel rows
        against the history in ONE Spark probe: the stored rel pruned to
        the rows' buckets (or the in-memory history rel), plus the rows
        _settle added, left-semi-joined with the rows as a local relation;
        the hits come back through Arrow and are dropped."""
        self._flush()
        keys, self._rel_new = self._rel_new, self._rel_new[:0]
        if len(keys):
            stored: DataFrame | None = self.history.get("_state_tagged")  # type: ignore[assignment]
            if stored is not None:
                touched = ", ".join(str(b) for b in np.unique(_rel_buckets(keys)))
                hist = _untag(stored.where(f"bucket IN ({touched}) OR bucket IS NULL"), "rel")
            else:
                hist = self.history["rel"].select("s", "p", "o")
            if self.rel is not None:
                hist = hist.unionByName(self.rel)
            rows = _local(self._spark, "s int, p int, o int", *_cols3(keys))
            hits = (
                hist.join(_bounded_broadcast(self.cfg, rows, len(keys)), ["s", "p", "o"], "left_semi")
                .toArrow()
            )
            keys = keys[~_member(np.unique(_key3(*(hits.column(c).to_numpy() for c in "spo"))), keys)]
        if len(keys):
            rel = _local(self._spark, "s int, p int, o int", *_cols3(keys))
            self.rel = rel if self.rel is None else self.rel.unionByName(rel)
            self.n_rel += len(keys)
        elif self.rel is None:
            self.rel = self.history["rel"].where("false").select("s", "p", "o")


def feedback_rounds(
    fx: ClassFixpoint,
    cand: np.ndarray | DataFrame | None,
    activated: DataFrame | None,
    narrow: bool,
) -> None:
    """R4 equivalence feedback to fixpoint (reference
    RelationGraph.scala:217-230): the one round body the batch and the
    stream share, semi-naive over the class closure.

    First the candidate rel rows `cand` (packed keys from a driver round,
    or a frame) settle, and the R4 facts they fire join the `activated`
    ones (definitions new to the history, fired against it; `narrow` as in
    _settle). Then each round adds the new facts to `sc`, extends the
    closure with them, derives the rel rows that use a new star pair and
    settles those, until a round fires no new fact (ClassFixpoint.step and
    settle: on the driver while it serves the round, else in Spark). Only
    new rel rows can fire a definition they have not fired before, so each
    round's work is the size of its delta, not of the fixpoint."""
    facts = fx.settle(cand, activated, narrow)
    for _round in range(fx.cfg.max_iterations):
        if facts is None:
            fx.finish()
            return
        cand = fx.step(facts)
        facts = (
            None
            if cand is None
            else fx.settle(
                cand, None,
                _fits(fx.cfg, fx.n_rel + len(fx._rel_new)) and _fits(fx.cfg, fx.rows),
            )
        )
    raise FixpointDidNotConverge(
        f"R4 feedback did not converge in {fx.cfg.max_iterations} rounds"
    )


def _driver_round0(
    fx: ClassFixpoint,
    fold: DataFrame,
    n_d: dict[str, int],
    full_some: DataFrame | None,
    sp_star: DataFrame | None,
) -> tuple[bool, np.ndarray | DataFrame | None]:
    """apply_delta's first round on the driver: the batch's told delta
    arrives through one pull of the checkpointed fold (with the grown
    property closure `sp_star`, if any, and any unseeded driver state),
    extends the rules and the index, and derives the rel candidates (as
    ClassFixpoint.candidates). (False, None) when the round runs in
    Spark."""
    told = ("sc", "some", "def_some", "classes", "props")
    if not (fx.driven() and _fits(fx.cfg, sum(n_d[n] for n in told))):
        return False, None
    tagged = fold.where("frame IN (" + ", ".join(f"'{n}'" for n in told) + ")").selectExpr(
        "concat('d_', frame) AS frame", *_TAG_COLS
    )
    widths = {f"d_{n}": len(FRAME_COLUMNS[n]) for n in told}
    if sp_star is not None:
        tagged = tagged.unionByName(_tagged(sp_star, "sp_star", "d_sp_star"))
        widths["d_sp_star"] = 2
    got = fx.pull(tagged, widths)
    if fx.rules is not None and all(got[n] is not None for n in widths):
        fx.rules = fx.rules.grown(
            got["d_some"], got["d_def_some"], got["d_sc"], got.get("d_sp_star"), got["d_props"]
        )
    else:
        fx.rules = None
    d = None if fx.rules is None else fx.extend(_pack(*got["d_sc"]), got["d_classes"][0])
    if d is None:
        return False, None
    full = fx.rules.some_s if sp_star is not None else (_key3(*got["d_some"]) if n_d["some"] else None)
    return True, fx.candidates(d, full, full_some)


def apply_delta(
    state: dict[str, DataFrame],
    delta_told: dict[str, DataFrame],
    cfg: RGConfig,
) -> tuple[dict[str, DataFrame], dict[str, DataFrame] | None]:
    """Fold a micro-batch's told delta into the state (see module doc).

    Returns (new_state, state_deltas). state_deltas maps each persisted
    frame to the rows ADDED this batch (disjoint from the old frame) — the
    basis for delta-sized emission and delta-sized state persistence.
    Equivalence feedback (AX_EQUIV_SOME) stays on this delta-sized path: R4
    rounds (feedback_rounds) run after the monotone fold.
    """
    # ------- monotone fold (everything except R4 feedback) --------------
    #
    # Every `X_new` below is a DISJOINT union: the delta is deduplicated at
    # its own (batch) size, anti-joined against the state frame, then
    # unioned plain — no O(state) dropDuplicates shuffle anywhere in the
    # per-batch path. Derived frames (sc_star, sp_star) and scalar stats
    # (side row counts, max token) are carried forward incrementally via
    # cache keys ("_sc_star", "_sp_star", "_n_*", "_max_token") instead of
    # being recomputed from the full state each batch.
    _ensure_derived(state, cfg)

    # ONE tagged anti-join folds every told frame: the delta frames as one
    # (frame, t0, t1, t2) union against the same union of the state frames,
    # then one checkpoint and one stats job (per-frame row count for the
    # emptiness decisions and running stats, max token for packability).
    # The state side is vocabulary-sized; its running row bound gates the
    # broadcast hint (classes, sc <= sc_star; props, sp <= sp_star).
    stored = state.get("_state_tagged")
    state_told = (
        stored.where("frame IN (" + ", ".join(f"'{n}'" for n in _TOLD_FRAMES) + ")")
        .select("frame", *_TAG_COLS)
        if stored is not None
        else _union([_tagged(state[n], n) for n in _TOLD_FRAMES])
    ).selectExpr("*", "true AS _known")
    told_rows = (
        2 * state["_n_sc_star"]
        + 2 * state["_n_sp_star"]
        + state["_n_some"]
        + state["_n_def"]
        + state["_n_assertions"]
    )
    state_told = _bounded_broadcast(cfg, state_told, told_rows)
    # (an outer join + null filter, not a left_anti: Catalyst pushes an
    # anti-join through the union into one join — and one broadcast job —
    # per frame)
    fold = (
        _union([_tagged(delta_told[n], n) for n in _TOLD_FRAMES])
        .join(state_told, on=["frame", *_TAG_COLS], how="left_outer")
        .where("_known IS NULL")
        .drop("_known")
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    stats = {
        r["frame"]: r
        for r in fold.coalesce(1)
        .groupBy("frame")
        .agg(
            F.expr("count(1) AS n"),
            # individuals never enter a closure side: no packability bound
            F.expr("max(CASE WHEN frame != 'assertions' THEN greatest(t0, t1, t2) END) AS mx"),
            # new classes among TOP / owl:Nothing: their star rows (below)
            F.expr(f"count(CASE WHEN t0 = {T.TOP} THEN 1 END) AS top"),
            F.expr(f"count(CASE WHEN t0 = {T.BOT} THEN 1 END) AS bot"),
        )
        .collect()
    }
    n_d = {n: stats[n]["n"] if n in stats else 0 for n in _TOLD_FRAMES}
    d_max = max((r["mx"] for r in stats.values() if r["mx"] is not None), default=None)
    d = {n: _untag(fold, n) for n in _TOLD_FRAMES}

    classes_new = state["classes"].unionByName(d["classes"])
    props_new = state["props"].unionByName(d["props"])

    sp_new = state["sp"].unionByName(d["sp"])
    sp_changed = n_d["sp"] > 0
    if sp_changed:
        # property edges arrived: re-close the (tiny, vocabulary-sized)
        # property hierarchy
        sp_star_new = property_star(
            sp_new, props_new, cfg.max_iterations, cfg.broadcast_row_threshold
        )
        n_sp_new = sp_star_new.count()
        d_sp_star = sp_star_new.join(state["_sp_star"], on=["sub", "sup"], how="left_anti")
    else:
        # new property tokens only extend the closure by reflexive pairs
        d_sp_star = d["props"].selectExpr("p AS sub", "p AS sup")
        sp_star_new = state["_sp_star"].unionByName(d_sp_star)
        n_sp_new = state["_n_sp_star"] + n_d["props"]

    some_new = state["some"].unionByName(d["some"])
    def_new = state["def_some"].unionByName(d["def_some"])

    # running side stats: broadcast decision + packability without a
    # per-batch O(closure) count/max scan
    n_some = state["_n_some"] + n_d["some"]
    n_def = state["_n_def"] + n_d["def_some"]
    max_tok = max(state["_max_token"] or -1, d_max if d_max is not None else -1)
    if max_tok < 0:
        max_tok = None

    fx = ClassFixpoint(
        cfg, state, sc=state["sc"].unionByName(d["sc"]), tc=state["sc_tc"],
        star=state["_sc_star"], classes=state["classes"], rows=state["_n_sc_star"],
        some=some_new, n_some=n_some, sp_star=sp_star_new, n_sp=n_sp_new, max_token=max_tok,
        staged=n_some > cfg.incremental_feedback_threshold,
        defs=_bounded_broadcast(cfg, def_new, n_def) if n_def else None,
        index=state.get("_sc_index"), rules=state.get("_sc_rules"),
        index_seeded="_sc_index" in state, rules_seeded="_sc_rules" in state,
    )
    # R3 over every new input at once: new closure pairs on either side, new
    # told existentials, or — when the property hierarchy grew — every told
    # existential against the full (tiny) property closure
    full_some = some_new if sp_changed else (d["some"] if n_d["some"] else None)
    d_classes = d["classes"]
    served, cand = _driver_round0(fx, fold, n_d, full_some, sp_star_new if sp_changed else None)
    if not served:
        if fx.rules is not None:
            # they miss this batch's told rows: the next driver round reseeds
            fx.rules, fx.rules_seeded = None, False
        if n_d["sc"]:
            d_star, n_star = fx.close(d["sc"])
        else:
            # no new edge, no new pair
            d_star, n_star = d["sc"], 0
            fx.tc_parts.append(d["sc"])

        # the star delta also holds the reflexive/top pairs of newly-seen
        # classes, disjoint from the tc delta's star pairs. Their stats come
        # from the told fold's: one (c, c) row per new class but TOP, one
        # (c, TOP) row per new class.
        d_star = d_star.unionByName(
            d_classes.where(f"c != {T.TOP}").selectExpr("c AS sub", "c AS sup")
        ).unionByName(d_classes.selectExpr("c AS sub", f"CAST({T.TOP} AS INT) AS sup"))
        if n_d["classes"]:
            new_classes = stats["classes"]
            n_star += 2 * new_classes["n"] - new_classes["top"]
            fx.bot += new_classes["bot"]
        fx.grow(d_star, n_star)
        cand = (
            fx.derive(d_star if n_star else None, full_some)
            if n_star or full_some is not None
            else None
        )
    fx.classes = classes_new

    # ------- R4 equivalence feedback, delta-sized -----------------------
    # Candidates come from the batch's NEW rel rows against all definitions,
    # plus — only when a NEW definition arrived — one broadcast-join scan of
    # the accumulated rel to activate it against history. Only a steady
    # batch's candidates are delta-sized: a grown property hierarchy
    # re-derives every told existential, and a late definition scans the
    # history.
    late = (
        _fire(state["rel"], _bounded_broadcast(cfg, d["def_some"], n_d["def_some"]))
        if n_d["def_some"]
        else None
    )
    feedback_rounds(
        fx, cand, late, narrow=not sp_changed and not n_d["def_some"] and _fits(cfg, fx.rows)
    )

    new_state = {
        "sc": fx.sc,
        "some": some_new,
        "def_some": def_new,
        "sp": sp_new,
        "classes": classes_new,
        "props": props_new,
        "assertions": state["assertions"].unionByName(d["assertions"]),
        "sc_tc": fx.tc,
        "rel": state["rel"].unionByName(fx.rel),
        # derived carry-forward (in-memory only; rebuilt lazily on restart)
        "_sc_star": fx.star,
        "_sp_star": sp_star_new,
        "_n_sc_star": fx.rows,
        "_n_sp_star": n_sp_new,
        "_n_some": n_some,
        "_n_def": n_def,
        "_n_assertions": state["_n_assertions"] + n_d["assertions"],
        # True once any (x, owl:Nothing) closure pair is seen; False only
        # when provably never seen; None = unknown -> callers fall back to
        # computing unsat
        "_has_bot": True if fx.bot > 0 else state.get("_has_bot"),
        "_max_token": max_tok,
        "_r3_plans": fx.plans,
        **fx.driver_state(),
    }
    for key in ("_state_roots", "_state_tagged"):
        if key in state:
            # stale until the caller persists this batch and re-points it
            new_state[key] = state[key]
    deltas = {
        # told delta + R4-derived feedback facts: the persisted sc frame must
        # reconstruct the same told-plus-derived set initial_state seeds
        "sc": _union([d["sc"], *fx.sc_parts]),
        "some": d["some"],
        "def_some": d["def_some"],
        "sp": d["sp"],
        "classes": d_classes,
        "props": d["props"],
        "assertions": d["assertions"],
        "sc_tc": _union(fx.tc_parts or [d["sc"].where("false")]),
        "rel": fx.rel,
        # derived-frame deltas, persisted so repoint_state can re-anchor the
        # carried-forward closures at the on-disk store each batch
        "sc_star": _union(fx.star_parts or [d["sc"].where("false")]),
        "sp_star": d_sp_star,
    }
    return new_state, deltas


def assemble_from_state(state: dict[str, DataFrame], cfg: RGConfig) -> DataFrame:
    from relation_graph_spark.materialize import assemble_output

    return assemble_output(output_frames(state, cfg), cfg)


def assemble_delta(
    state_new: dict[str, DataFrame],
    deltas: dict[str, DataFrame],
    prev_unsat: DataFrame,
    cfg: RGConfig,
) -> tuple[DataFrame, DataFrame, DataFrame, bool]:
    """Delta-sized output assembly for the monotone fast path.

    Returns (new_rows, retracted_rows, unsat_new, needs_dedup): `new_rows`
    are output rows the batch adds; `retracted_rows` are previously-valid
    rows the batch invalidates — late unsatisfiability suppresses rows whose
    object turned unsat, and (under equivalence_as_subclass=False) a late
    reverse subsumption upgrades an emitted subClassOf row to reciprocal
    owl:equivalentClass rows. Retraction inputs (unsat delta, mutual pairs)
    are vocabulary-sized, so the only history-sized work is a filter-scan of
    the accumulated rel when the unsat set actually grew — never a shuffle.
    unsat_new is handed back so the caller can carry it into the next batch
    without recomputing.

    Class-mode rows are exact (disjoint from committed history) —
    needs_dedup is False. With cfg.output_individuals the individual row
    families are derived from delta joins (new assertions x accumulated
    closure, accumulated assertions x closure delta); an individual row can
    gain a SECOND derivation from a new batch while already committed via
    an earlier one, so needs_dedup=True tells the caller to drop
    already-committed keys (the sink's bucket-pruned dedup_new) before
    appending. Individual retractions only arise from unsat growth on the
    existential family (rdf:type rows are not unsat-gated, mirroring
    assemble_output), and suppression is total per object class, so
    tombstoning remains sound under multiple derivations.
    """
    from relation_graph_spark.materialize import _not_builtin

    frames = output_frames(state_new, cfg)
    if state_new.get("_has_bot") is False:
        # no (x, owl:Nothing) pair has ever entered the closure: unsat is a
        # statically-empty frame (see output_frames) and unsat growth is
        # impossible — zero jobs here, and Catalyst folds the anti-joins
        # below away entirely
        unsat_new = frames["unsat"]
        unsat_delta = unsat_new
        grew_unsat = False
    else:
        unsat_new = frames["unsat"].localCheckpoint(eager=False)
        unsat_delta = unsat_new.join(prev_unsat, on="c", how="left_anti").localCheckpoint(eager=False)
        grew_unsat = not unsat_delta.isEmpty()
    unsat_b = F.broadcast(unsat_new)
    ud_b = F.broadcast(unsat_delta)

    def _spo(df, s, p_lit, o):
        return df.select(
            F.col(s).cast("int").alias("s"),
            F.lit(p_lit).cast("int").alias("p"),
            F.col(o).cast("int").alias("o"),
        )

    def _prop_filter(df):
        if cfg.properties is None:
            return df
        return df.where(
            F.col("p").isin(*[int(t) for t in cfg.properties])
            if cfg.properties
            else F.lit(False)
        )

    # statically empty (no RDD behind it, so no task ever starts for it)
    empty = state_new["rel"].where(F.lit(False)).select(
        *[F.col(c).cast("int") for c in ("s", "p", "o")]
    )
    new_rows, retracted = empty, empty

    # ---- existential rows -------------------------------------------------
    def _rel_rows(rel_df):
        out = rel_df.where(_not_builtin("s") & _not_builtin("o") & _not_builtin("p"))
        out = out.join(unsat_b, out["o"] == unsat_b["c"], "left_anti")
        return _prop_filter(out).select(
            F.col("s").cast("int").alias("s"),
            F.col("p").cast("int").alias("p"),
            F.col("o").cast("int").alias("o"),
        )

    if cfg.output_classes:
        new_rows = new_rows.unionByName(_rel_rows(deltas["rel"]))
        if grew_unsat:
            # previously-emitted existential rows whose object turned unsat
            old_rel = state_new["rel"].join(deltas["rel"], on=["s", "p", "o"], how="left_anti")
            bad = old_rel.join(ud_b, old_rel["o"] == ud_b["c"], "left_semi")
            bad = _prop_filter(
                bad.where(_not_builtin("s") & _not_builtin("o") & _not_builtin("p"))
            )
            retracted = retracted.unionByName(
                bad.select(
                    F.col("s").cast("int"), F.col("p").cast("int"), F.col("o").cast("int")
                )
            )

    # ---- individual existential rows ---------------------------------------
    # ind : C and C subClassOf (p some O)  =>  ind p O (assemble_output's
    # `ind` family). New pairs come from (new assertions x all valid rel) and
    # (all assertions x new valid rel); the union can re-derive an
    # already-committed row through a second class, so needs_dedup=True.
    needs_dedup = False
    if cfg.output_individuals:
        needs_dedup = True
        a_all = state_new["assertions"]
        d_a = deltas["assertions"]

        def _ind_from(assertions, rel_rows):
            return (
                assertions.alias("a")
                .join(rel_rows.alias("r"), F.col("a.c") == F.col("r.s"))
                .select(
                    F.col("a.ind").cast("int").alias("s"),
                    F.col("r.p").cast("int").alias("p"),
                    F.col("r.o").cast("int").alias("o"),
                )
            )

        ind_exist = _ind_from(a_all, _rel_rows(deltas["rel"]))
        if not d_a.isEmpty():
            ind_exist = ind_exist.unionByName(
                _ind_from(d_a, _rel_rows(state_new["rel"]))
            )
        new_rows = new_rows.unionByName(ind_exist.dropDuplicates())
        if grew_unsat:
            # individual rows whose underlying rel row was suppressed —
            # suppression is per-object, so EVERY derivation of the row dies
            # with it and the tombstone is total
            old_rel = state_new["rel"].join(
                deltas["rel"], on=["s", "p", "o"], how="left_anti"
            )
            bad_i = old_rel.join(ud_b, old_rel["o"] == ud_b["c"], "left_semi")
            bad_i = _prop_filter(
                bad_i.where(_not_builtin("s") & _not_builtin("o") & _not_builtin("p"))
            )
            retracted = retracted.unionByName(
                _ind_from(a_all, bad_i).dropDuplicates()
            )

    # ---- taxonomy rows ------------------------------------------------------
    if cfg.output_subclasses:
        def _taxo_base(df):
            out = df.where(
                _not_builtin("sub") & _not_builtin("sup") & (F.col("sub") != F.col("sup"))
            )
            return out.join(unsat_b, out["sup"] == unsat_b["c"], "left_anti")

        scc_delta = _taxo_base(deltas["sc_tc"]).localCheckpoint(eager=False)
        if cfg.equivalence_as_subclass:
            new_rows = new_rows.unionByName(_spo(scc_delta, "sub", T.SUBCLASSOF, "sup"))
        else:
            # mutual pairs only exist between CYCLE nodes (nodes whose
            # self-pair is in the closure — same restriction as
            # assemble_output): reduce the closure to that vocabulary-rare
            # set with broadcast semi-joins before any pair matching, so no
            # O(closure) shuffle happens per batch
            cyc = F.broadcast(
                state_new["sc_tc"]
                .where(F.col("sub") == F.col("sup"))
                .select(F.col("sub").alias("cyc_c"))
                .dropDuplicates()
            )
            tc_cyc = (
                state_new["sc_tc"]
                .where(
                    _not_builtin("sub")
                    & _not_builtin("sup")
                    & (F.col("sub") != F.col("sup"))
                )
                .join(cyc, F.col("sub") == F.col("cyc_c"), "left_semi")
                .join(cyc, F.col("sup") == F.col("cyc_c"), "left_semi")
                .localCheckpoint(eager=False)
            )
            rev_cyc = F.broadcast(
                tc_cyc.select(F.col("sup").alias("sub"), F.col("sub").alias("sup"))
            )
            # delta pairs: mutual ones emit as EQUIVALENTCLASS
            d_mutual = scc_delta.join(rev_cyc, on=["sub", "sup"], how="left_semi")
            d_plain = scc_delta.join(rev_cyc, on=["sub", "sup"], how="left_anti")
            new_rows = new_rows.unionByName(_spo(d_plain, "sub", T.SUBCLASSOF, "sup"))
            new_rows = new_rows.unionByName(
                _spo(d_mutual, "sub", T.EQUIVALENTCLASS, "sup")
            )
            # reverse activation: an OLD pair whose reverse just arrived was
            # emitted as subClassOf and is now an equivalence -> emit the EQ
            # row, tombstone the SUB row. Activated pairs are mutual, hence
            # inside the (tiny) cycle-restricted closure.
            rev_delta = deltas["sc_tc"].select(
                F.col("sup").alias("sub"), F.col("sub").alias("sup")
            )
            activated = (
                _taxo_base(
                    tc_cyc.join(deltas["sc_tc"], on=["sub", "sup"], how="left_anti")
                )
                .join(rev_delta, on=["sub", "sup"], how="left_semi")
                .localCheckpoint(eager=False)
            )
            new_rows = new_rows.unionByName(
                _spo(activated, "sub", T.EQUIVALENTCLASS, "sup")
            )
            retracted = retracted.unionByName(
                _spo(activated, "sub", T.SUBCLASSOF, "sup")
            )
        if grew_unsat:
            # previously-emitted taxonomy rows whose sup turned unsat
            old_tc = state_new["sc_tc"].join(
                deltas["sc_tc"], on=["sub", "sup"], how="left_anti"
            )
            bad_tc = (
                old_tc.where(
                    _not_builtin("sub")
                    & _not_builtin("sup")
                    & (F.col("sub") != F.col("sup"))
                )
                .join(ud_b, old_tc["sup"] == ud_b["c"], "left_semi")
                .localCheckpoint(eager=False)
            )
            if cfg.equivalence_as_subclass:
                retracted = retracted.unionByName(
                    _spo(bad_tc, "sub", T.SUBCLASSOF, "sup")
                )
            else:
                # retract whichever predicate the row was emitted under; a
                # previously-mutual pair lives inside the cycle-restricted
                # closure (tc_cyc from the emission branch above)
                tc_prev = tc_cyc.join(
                    deltas["sc_tc"], on=["sub", "sup"], how="left_anti"
                )
                bad_mut = bad_tc.join(
                    F.broadcast(
                        tc_prev.select(
                            F.col("sup").alias("sub"), F.col("sub").alias("sup")
                        )
                    ),
                    on=["sub", "sup"],
                    how="left_semi",
                )
                bad_plain = bad_tc.join(bad_mut, on=["sub", "sup"], how="left_anti")
                retracted = retracted.unionByName(
                    _spo(bad_plain, "sub", T.SUBCLASSOF, "sup")
                ).unionByName(_spo(bad_mut, "sub", T.EQUIVALENTCLASS, "sup"))
        if cfg.reflexive_subclasses:
            refl_pred = (
                T.SUBCLASSOF if cfg.equivalence_as_subclass else T.EQUIVALENTCLASS
            )
            d_refl = (
                deltas["classes"]
                .where(_not_builtin("c"))
                .join(unsat_b, on="c", how="left_anti")
            )
            new_rows = new_rows.unionByName(_spo(d_refl, "c", refl_pred, "c"))
            if grew_unsat:
                old_classes = state_new["classes"].join(
                    deltas["classes"], on="c", how="left_anti"
                )
                dead_refl = old_classes.join(ud_b, on="c", how="left_semi")
                retracted = retracted.unionByName(_spo(dead_refl, "c", refl_pred, "c"))
        if cfg.output_individuals:
            # ind : C and C subClassOf* O => ind rdf:type O. Mirrors
            # assemble_output's ityped family: NOT unsat-gated, builtin
            # objects excluded. New pairs: (new assertions x full sc_star)
            # union (all assertions x closure delta incl. reflexive pairs of
            # new classes); may re-derive committed rows -> needs_dedup.
            a_all = state_new["assertions"]
            d_a = deltas["assertions"]
            d_star_t = deltas["sc_tc"].unionByName(
                deltas["classes"].select(
                    F.col("c").alias("sub"), F.col("c").alias("sup")
                )
            )

            def _ityped_from(assertions, pairs):
                return (
                    assertions.alias("a")
                    .join(pairs.alias("h"), F.col("a.c") == F.col("h.sub"))
                    .where(_not_builtin("h.sup"))
                    .select(
                        F.col("a.ind").cast("int").alias("s"),
                        F.lit(T.RDF_TYPE).cast("int").alias("p"),
                        F.col("h.sup").cast("int").alias("o"),
                    )
                )

            ityped = _ityped_from(a_all, d_star_t)
            if not d_a.isEmpty():
                ityped = ityped.unionByName(_ityped_from(d_a, frames["sc_star"]))
            new_rows = new_rows.unionByName(ityped.dropDuplicates())

    return new_rows, retracted, unsat_new, needs_dedup


# ------------------------------------------------------------- persistence
#
# State persists as SNAPSHOTS (full frames, dir `snap-<id>/`) plus DELTAS
# (only the rows added by one batch, dir `delta-<id>/`). The streaming
# pipeline writes a delta per fast-path batch and a snapshot on the first
# batch / every `compact_every` batches — so per-batch state I/O is
# delta-sized, not O(total history) (round-1 VERDICT item 2). Loading
# unions the newest snapshot with all later deltas (they are disjoint by
# construction, no dedup needed). Replayed batches rewrite identical content
# (deterministic), keeping crash/replay exactly-once.
#
# Each dir is ONE tagged dataset (see STATE_FORMAT): all its frames leave in
# one write job and an absent `frame` partition reads as empty, so a delta
# needs no emptiness probe and no per-frame job.


def _write_state(frames: dict[str, DataFrame], path: str, bucketed: bool) -> None:
    """Write frames as one tagged dataset (bucketed: a snapshot, see
    _STATE_SCHEMA). The repartition on the partition columns puts every
    partition dir's rows in one task, so each dir gets exactly ONE file
    (without it every task writes its own file into every dir it touches,
    and state scans degrade linearly in accumulated file count — the
    measured 4-10x per-batch ramp at constant workload, BENCH/BASELINE.md
    4.13). The explicit partition count keeps AQE from coalescing a
    delta-sized write into a single task that writes every file serially.
    At cluster scale the file-size knob stays RGS_REL_BUCKETS."""
    df = _union([_tagged(df, name) for name, df in frames.items()])
    keys = ["frame"]
    if bucketed:
        df = df.selectExpr(
            "*", f"CASE WHEN frame = 'rel' THEN {_rel_bucket(*_TAG_COLS)} ELSE 0 END AS bucket"
        )
        keys.append("bucket")
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df.repartition(n, *keys).write.mode("overwrite").partitionBy(*keys).parquet(path)


def _pin_layout(root: str) -> None:
    """Persist the state format and bucket count on first write and REFUSE
    to continue under different ones: pruned anti-joins assume every file in
    the store was bucketed with the same modulus (a silent change would skip
    history buckets and re-emit duplicates), and the reader only knows the
    tagged layout."""
    path = os.path.join(root, "layout.json")
    if os.path.exists(path):
        with open(path) as fh:
            pinned = json.load(fh)
        fmt = pinned.get("state_format", 1)
        if fmt != STATE_FORMAT:
            raise RuntimeError(
                f"state store at {root} is in state format {fmt} (one parquet "
                f"dir per frame); this engine reads state format {STATE_FORMAT} "
                "(one tagged dataset per snapshot/delta) — rebuild the state by "
                "replaying the stream into a fresh work dir"
            )
        if pinned["rel_buckets"] != REL_BUCKETS:
            raise RuntimeError(
                f"state store at {root} was written with "
                f"rel_buckets={pinned['rel_buckets']}; "
                f"current RGS_REL_BUCKETS={REL_BUCKETS} would mis-prune the "
                "history anti-join — restart with the pinned value (or "
                "rewrite the store)"
            )
        return
    os.makedirs(root, exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"rel_buckets": REL_BUCKETS, "state_format": STATE_FORMAT}, fh)


def save_state_snapshot(
    state: dict[str, DataFrame], root: str, batch_id: int
) -> list[str]:
    """Persist all frames (told + derived closures) as one tagged dataset;
    rel rows are hash-bucketed (see REL_BUCKETS). Returns the state roots
    for repoint_state."""
    _pin_layout(root)
    path = os.path.join(root, f"snap-{batch_id}")
    _write_state(
        {name: state[DERIVED_FRAMES.get(name, name)] for name in PERSISTED_FRAMES},
        path,
        bucketed=True,
    )
    return [path]


def save_state_delta(
    deltas: dict[str, DataFrame], root: str, batch_id: int
) -> dict[str, str]:
    """Persist one batch's frame deltas as one tagged dataset (one write
    job, no emptiness probe: an empty frame simply leaves no partition).
    Returns {frame: delta dir} for every frame written."""
    _pin_layout(root)
    # a crashed consolidation attempt may have left delta-<batch_id> with a
    # folded.json whose coverage the sink never committed; if THIS replay
    # takes the plain-delta path (fold cadence can differ across restarts),
    # the stale marker would make live_delta_batches wrongly exclude the
    # still-live superseded dirs — clear it before any write (round-5
    # ADVICE, low)
    stale_marker = os.path.join(root, f"delta-{batch_id}", "folded.json")
    if os.path.exists(stale_marker):
        os.remove(stale_marker)
    present = {n: deltas[n] for n in PERSISTED_FRAMES if n in deltas}
    if not present:
        return {}  # nothing persistable: no write job at all
    path = os.path.join(root, f"delta-{batch_id}")
    _write_state(present, path, bucketed=False)
    return {name: path for name in present}


def consolidate_state_deltas(
    spark: SparkSession,
    deltas: dict[str, DataFrame],
    root: str,
    batch_id: int,
    fold_batch_ids: list[int],
) -> dict[str, str]:
    """Write batch `batch_id`'s delta CONSOLIDATED with the on-disk deltas
    of `fold_batch_ids` (earlier deltas since the last snapshot or fold
    point). Bounds the path count between snapshots: without it, every
    per-batch job that scans state pays file-listing + small-file overhead
    growing linearly with deltas-since-snapshot. (The dominant term of that
    overhead is files-per-write — fixed at the write site by partition-
    repartitioned single-file writes; consolidation bounds the remaining
    per-DIR growth. Constant-workload measurement of both effects:
    BENCH/BASELINE.md 4.13.) Cost is the folded DELTAS' bytes, never
    O(state) — the state-store analog of the sink's inline minor fold.

    Crash-safety: the superseded dirs are NOT deleted here. The pipeline
    deletes them only after the batch's sink commit, so a crash in between
    leaves the old chain for load_state (which ignores the uncommitted
    consolidated dir) and the replay rewrites it. A `folded.json` marker
    inside the consolidated dir records which batch ids it covers
    (transitively, through earlier consolidated dirs), so a crash AFTER the
    commit but BEFORE the post-commit expiry cannot double-read the
    superseded dirs on restart — the state-store analog of the sink's
    summary-covered manifest exclusion (sinks.py)."""
    covered: set[int] = set(fold_batch_ids)
    for b in fold_batch_ids:
        covered |= set(folded_delta_ids(root, b))
    old = _read_tagged(spark, [os.path.join(root, f"delta-{b}") for b in fold_batch_ids])
    merged = {
        name: _untag(old, name).unionByName(deltas[name])
        if name in deltas
        else _untag(old, name)
        for name in PERSISTED_FRAMES
    }
    written = save_state_delta(merged, root, batch_id)
    ddir = os.path.join(root, f"delta-{batch_id}")
    os.makedirs(ddir, exist_ok=True)
    tmp = os.path.join(ddir, "folded.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"folded": sorted(covered)}, f)
    os.replace(tmp, os.path.join(ddir, "folded.json"))
    return written


def folded_delta_ids(root: str, batch_id: int) -> list[int]:
    """Batch ids a consolidated delta dir covers ([] for plain deltas)."""
    p = os.path.join(root, f"delta-{batch_id}", "folded.json")
    try:
        with open(p) as f:
            return [int(b) for b in json.load(f)["folded"]]
    except (FileNotFoundError, KeyError, ValueError):
        return []


def live_delta_batches(root: str, committed: set[int], base: int) -> list[int]:
    """Committed delta batches above snapshot `base`, EXCLUDING any id
    covered by a committed consolidated delta's folded.json — a crash after
    that delta's commit but before the superseded dirs' expiry must not
    double-read them."""
    ids = [b for b in delta_batches(root) if b in committed and b > base]
    covered: set[int] = set()
    for b in ids:
        covered |= set(folded_delta_ids(root, b))
    return [b for b in ids if b not in covered]


def expire_state_deltas(root: str, batch_ids: list[int]) -> None:
    """Post-commit removal of delta dirs superseded by a committed
    consolidated delta (idempotent; replays just redo it)."""
    import shutil

    for b in batch_ids:
        shutil.rmtree(os.path.join(root, f"delta-{b}"), ignore_errors=True)


def repoint_state(
    spark: SparkSession, state: dict[str, DataFrame], roots: list[str]
) -> None:
    """Re-anchor every persisted frame at the on-disk store: the snapshot
    plus later delta dirs, each read ONCE under the pinned schema and split
    by `frame` (partition pruning, no job). Called after each batch's
    persist: keeps per-batch plans one level deep over parquet leaves with
    REAL file statistics — see the DERIVED_FRAMES comment for why chaining
    in-memory Datasets across batches is an exponential planning-time
    cliff. Scalar caches (_n_*, _max_token, _has_bot) are carried in the
    dict untouched."""
    state["_state_roots"] = [r for r in roots if os.path.isdir(r)]
    state["_state_tagged"] = stored = _read_tagged(spark, state["_state_roots"])
    for name in PERSISTED_FRAMES:
        # snapshot and deltas are disjoint by construction: plain union
        state[DERIVED_FRAMES.get(name, name)] = _untag(stored, name)


def snapshot_batches(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d.split("-", 1)[1]) for d in os.listdir(root) if d.startswith("snap-")
    )


def delta_batches(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    return sorted(
        int(d.split("-", 1)[1]) for d in os.listdir(root) if d.startswith("delta-")
    )


def gc_state(root: str, keep_batch: int) -> None:
    """Expire snapshot/delta dirs superseded by the snapshot at `keep_batch`.
    Call only AFTER the sink committed `keep_batch`: load_state reads the
    newest COMMITTED snapshot plus later deltas, so everything at or below
    it is unreachable — deleting earlier is a crash-recovery hazard (the
    pre-commit snapshot could be orphaned by a crash, leaving the old dirs
    as the only committed state)."""
    import shutil

    for b in snapshot_batches(root):
        if b < keep_batch:
            shutil.rmtree(os.path.join(root, f"snap-{b}"), ignore_errors=True)
    for b in delta_batches(root):
        if b <= keep_batch:
            shutil.rmtree(os.path.join(root, f"delta-{b}"), ignore_errors=True)


def load_state(
    spark: SparkSession, root: str, committed: list[int]
) -> tuple[dict[str, DataFrame], int] | None:
    """Reconstruct the state as of the newest committed batch: newest
    committed snapshot + every later committed delta. Returns (state,
    batch_id) or None if no committed state exists. Uncommitted orphan dirs
    (crash between state write and sink commit) are ignored; the replay
    rewrites them."""
    committed_set = set(committed)
    snaps = [b for b in snapshot_batches(root) if b in committed_set]
    if not snaps:
        return None
    _pin_layout(root)
    base = max(snaps)
    # live_delta_batches excludes dirs covered by a committed consolidated
    # delta (crash between its commit and the superseded dirs' expiry would
    # otherwise double-read their rows)
    deltas = live_delta_batches(root, committed_set, base)
    state: dict[str, DataFrame] = {}
    repoint_state(
        spark,
        state,
        [os.path.join(root, f"snap-{base}")]
        + [os.path.join(root, f"delta-{b}") for b in deltas],
    )
    return state, max([base] + deltas)
