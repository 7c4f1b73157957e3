"""Independent reference closure for the batch workload's golden.

For a tree-shaped hierarchy without definitions, the engine's output (with
output_subclasses=True, reflexive_subclasses=False) is exactly:

- (x, subClassOf, a) for every strict ancestor a of x;
- (x, q, g) for every told ``c subClassOf p some f`` with x a descendant-or-
  self of c, q a super-property-or-self of p and g an ancestor-or-self of f.

Computed with NumPy only, so the golden never depends on the engine. An edge
set is summarized order-independently as (row count, XOR of Spark's
``xxhash64`` of the packed edge), the same digest ``digest_df`` takes in Spark.
"""

from __future__ import annotations

import numpy as np

from gen import CLASS_BASE, N_PROPS, PROP_BASE, Ontology

SUBCLASSOF = 3
P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)
SPARK_HASH_SEED = 42


def pack(s: np.ndarray, p: np.ndarray, o: np.ndarray) -> np.ndarray:
    """(s << 42) | (p << 21) | o as int64; every token is below 2**21."""
    return (s.astype(np.int64) << 42) | (p.astype(np.int64) << 21) | o.astype(np.int64)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64_long(v: np.ndarray, seed: int = SPARK_HASH_SEED) -> np.ndarray:
    """Spark's XXH64.hashLong, vectorized (uint64 arithmetic wraps)."""
    with np.errstate(over="ignore"):
        x = v.astype(np.int64).view(np.uint64)
        h = np.uint64(seed) + P5 + np.uint64(8)
        h = h ^ (_rotl(x * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        h ^= h >> np.uint64(33)
        h *= P2
        h ^= h >> np.uint64(29)
        h *= P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def digest(packed: np.ndarray) -> dict:
    packed = np.unique(packed)
    return {
        "edges": int(len(packed)),
        "hash": int(np.bitwise_xor.reduce(xxhash64_long(packed))) if len(packed) else 0,
    }


def digest_df(df) -> dict:
    """The same digest of an (s, p, o) Spark frame, in one job."""
    import pyspark.sql.functions as F

    packed = (
        F.shiftleft(F.col("s").cast("long"), 42)
        + F.shiftleft(F.col("p").cast("long"), 21)
        + F.col("o").cast("long")
    )
    row = df.select(packed.alias("k")).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("k")).alias("h")
    ).collect()[0]
    return {"edges": int(row["n"]), "hash": int(row["h"] or 0)}


def _repeat_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of arange(s, s + c) for each (s, c)."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, np.int64)
    offs = np.repeat(np.cumsum(counts) - counts, counts)
    return np.repeat(starts, counts) + (np.arange(total) - offs)


def closure_digest(o: Ontology) -> dict:
    if len(o.defs):
        raise ValueError("the reference closure covers definition-free ontologies only")
    n = o.shape.n_classes
    # ancestors-or-self, one column per hop (-1 past the root)
    cols = [np.arange(n, dtype=np.int64)]
    while (cols[-1] >= 0).any():
        prev = cols[-1]
        cols.append(np.where(prev >= 0, o.parent[np.maximum(prev, 0)], -1))
    anc = np.stack(cols[:-1], axis=1)
    n_anc = (anc >= 0).sum(axis=1)

    parts = []
    # subclass rows: strict ancestors
    x, k = np.nonzero(anc[:, 1:] >= 0)
    parts.append(pack(x + CLASS_BASE, np.full(len(x), SUBCLASSOF), anc[x, k + 1] + CLASS_BASE))

    # existential rows: for each x and each ancestor-or-self a of x, every
    # told existential on a, widened by super-properties and filler ancestors
    some = np.unique(o.some, axis=0)
    some = some[np.argsort(some[:, 0], kind="stable")]
    first = np.searchsorted(some[:, 0], np.arange(n))
    count = np.searchsorted(some[:, 0], np.arange(n), side="right") - first
    xs, hop = np.nonzero(anc >= 0)
    a = anc[xs, hop]
    told = _repeat_ranges(first[a], count[a])
    subj = np.repeat(xs, count[a])
    p, f = some[told, 1], some[told, 2]
    # widen the property: p .. N_PROPS-1
    n_q = N_PROPS - p
    q = _repeat_ranges(p, n_q)
    subj, f = np.repeat(subj, n_q), np.repeat(f, n_q)
    # widen the filler: its ancestors-or-self
    n_g = n_anc[f]
    g = anc[np.repeat(f, n_g), _repeat_ranges(np.zeros(len(f), np.int64), n_g)]
    subj, q = np.repeat(subj, n_g), np.repeat(q, n_g)
    parts.append(pack(subj + CLASS_BASE, q + PROP_BASE, g + CLASS_BASE))
    return digest(np.concatenate(parts))
