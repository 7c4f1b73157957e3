"""Token decode: sequences(doc_id, tokens, ...) -> axiom rows.

This is the analog of the reference's Bridge.ontologyToAxioms call site
(RelationGraph.scala:55): raw input becomes normalized told-axiom records.

Two implementations, equal by construction (tested against each other):

- ``decode_axioms``: pure JVM column expressions (``element_at``) — axioms are
  fixed-width per type, so decode is a single narrow projection that stays
  inside whole-stage codegen, pushes column pruning into the parquet scan,
  and needs no Python worker at all. This is the default/hot path.
- ``decode_axioms_arrow``: ``mapInArrow`` over pyarrow RecordBatches — the
  vectorized-UDF decode required by BASELINE.json's input_hint ("vectorized
  pandas/Arrow UDFs, no per-row Python"). Used to demonstrate/exercise the
  Arrow path and for future variable-width encodings.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from relation_graph_spark import tokens as T
from relation_graph_spark.schema import AXIOM_SCHEMA

_KNOWN_ATYPES = sorted(T.AXIOM_WIDTH)


def decode_axioms(seq_df: DataFrame) -> DataFrame:
    """Decode fixed-width token layouts with JVM expressions only.

    Unknown axiom types and malformed (too-short) rows are dropped, mirroring
    the reference's tolerance of unsupported axioms (Whelk ignores axioms
    outside EL).
    """
    toks = F.col("tokens")
    out = seq_df.select(
        F.col("doc_id"),
        # try_element_at: out-of-range -> null (ANSI-safe); widths 2/3 leave
        # p/o null, which is exactly AXIOM_SCHEMA's contract.
        F.try_element_at(toks, F.lit(1)).alias("atype"),
        F.try_element_at(toks, F.lit(2)).alias("s"),
        F.try_element_at(toks, F.lit(3)).alias("p"),
        F.try_element_at(toks, F.lit(4)).alias("o"),
        F.size(toks).alias("_w"),
    )
    width = F.create_map(
        *[x for k, w in T.AXIOM_WIDTH.items() for x in (F.lit(k), F.lit(w))]
    )
    return (
        out.where(F.col("atype").isin(_KNOWN_ATYPES))
        .where(F.col("_w") >= width[F.col("atype")])
        .drop("_w")
    )


def decode_axioms_arrow(seq_df: DataFrame) -> DataFrame:
    """Arrow-vectorized decode via mapInArrow (no per-row Python).

    Operates on whole pyarrow RecordBatches; token-array access uses
    ``pyarrow.compute.list_element`` on the column, never a Python loop over
    rows.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    known = list(_KNOWN_ATYPES)
    widths = dict(T.AXIOM_WIDTH)

    def decode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            toks = batch.column("tokens")
            n = pc.list_value_length(toks)
            atype = pc.list_element(toks, 0)

            def elem(i: int, lens=n, col=toks):
                # list_element raises on out-of-range; mask short lists first
                # by flattening through a null-padded take.
                safe = pc.if_else(pc.greater(lens, i), col, pa.nulls(len(col), col.type))
                # list_element on a null list yields null.
                return pc.list_element(safe, i)

            s = elem(1)
            p = elem(2)
            o = elem(3)
            ok = pc.is_in(atype, value_set=pa.array(known, pa.int32()))
            min_w = pa.array([2**30] * len(batch), pa.int32())
            for k in known:
                min_w = pc.if_else(
                    pc.equal(atype, k), pa.scalar(widths[k], pa.int32()), min_w
                )
            keep = pc.and_kleene(ok, pc.greater_equal(n, min_w))
            keep = pc.fill_null(keep, False)
            result = pa.record_batch(
                [
                    pc.filter(batch.column("doc_id"), keep),
                    pc.filter(pc.cast(atype, pa.int32()), keep),
                    pc.filter(pc.cast(s, pa.int32()), keep),
                    pc.filter(pc.cast(p, pa.int32()), keep),
                    pc.filter(pc.cast(o, pa.int32()), keep),
                ],
                names=["doc_id", "atype", "s", "p", "o"],
            )
            yield result

    return seq_df.select("doc_id", "tokens").mapInArrow(decode_batches, AXIOM_SCHEMA)


def told_tables(axioms: DataFrame) -> dict[str, DataFrame]:
    """Split the decoded axiom frame into the told relations of SURVEY.md 7.0.

    Returns dict with:
      sc(sub, sup)        — told SubClassOf edges, incl. both directions of
                            named equivalences (AX_EQUIV_NAMED)
      some(s, p, f)       — told existentials: AX_SOME plus the F => (p some D)
                            direction of AX_EQUIV_SOME
      def_some(f, p, o)   — definitional existentials (AX_EQUIV_SOME), used by
                            the equivalence-feedback rule R4
      sp(sub, sup)        — told SubObjectPropertyOf edges
      classes(c)          — declared + mentioned class tokens
      props(p)            — declared + mentioned property tokens
      assertions(ind, c)  — ClassAssertion rows (individual, class)

    No frame is deduplicated: a token or an axiom may repeat.
    """
    a = axioms
    sc_plain = a.where(F.col("atype") == T.AX_SUBCLASS).select(
        F.col("s").alias("sub"), F.col("p").alias("sup")
    )
    eq_named = a.where(F.col("atype") == T.AX_EQUIV_NAMED)
    sc = sc_plain.unionByName(
        eq_named.select(F.col("s").alias("sub"), F.col("p").alias("sup"))
    ).unionByName(eq_named.select(F.col("p").alias("sub"), F.col("s").alias("sup")))

    some_plain = a.where(F.col("atype") == T.AX_SOME).select(
        F.col("s"), F.col("p"), F.col("o").alias("f")
    )
    def_some = a.where(F.col("atype") == T.AX_EQUIV_SOME).select(
        F.col("s").alias("f"), F.col("p"), F.col("o")
    )
    some = some_plain.unionByName(
        def_some.select(F.col("f").alias("s"), F.col("p"), F.col("o").alias("f"))
    )

    sp = a.where(F.col("atype") == T.AX_SUBPROP).select(
        F.col("s").alias("sub"), F.col("p").alias("sup")
    )

    # declared + mentioned vocabularies in ONE scan each via a per-axiom-type
    # token array + explode, instead of a union of 6 (classes) / 5 (props)
    # re-scans of the axiom frame — the same token sets by construction, but
    # the input is read once per vocabulary instead of once per union branch
    # (guide §2.4: remove redundant passes; measured 5.1s -> ~1s on the
    # 140k-row bench ontology). Width filtering in decode_axioms guarantees
    # the selected slots are non-null for each type. Like every told frame
    # they may repeat a row: their consumers deduplicate the tagged union of
    # all told frames in one pass (incremental.fold_told).
    at = F.col("atype")
    cls_tokens = (
        F.when(at.isin(T.AX_DECL_CLASS, T.AX_CLASS_ASSERTION), F.array("s"))
        .when(at.isin(T.AX_SUBCLASS, T.AX_EQUIV_NAMED), F.array("s", "p"))
        .when(at.isin(T.AX_SOME, T.AX_EQUIV_SOME), F.array("s", "o"))
        .otherwise(F.array().cast("array<int>"))
    )
    classes = a.select(F.explode(cls_tokens).alias("c"))

    prop_tokens = (
        F.when(at == T.AX_DECL_PROP, F.array("s"))
        .when(at == T.AX_SUBPROP, F.array("s", "p"))
        .when(at.isin(T.AX_SOME, T.AX_EQUIV_SOME), F.array("p"))
        .otherwise(F.array().cast("array<int>"))
    )
    props = a.select(F.explode(prop_tokens).alias("p"))

    assertions = a.where(F.col("atype") == T.AX_CLASS_ASSERTION).select(
        F.col("p").alias("ind"), F.col("s").alias("c")
    )

    return {
        "sc": sc,
        "some": some,
        "def_some": def_some,
        "sp": sp,
        "classes": classes,
        "props": props,
        "assertions": assertions,
    }
