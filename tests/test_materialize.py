"""Golden tests ported from the reference test suite
(/root/reference/core/src/test/scala/org/renci/relationgraph/TestRelationGraph.scala)
per FIXTURES.md sections 3-6. Comparison is order-insensitive token equality —
the reference's own discipline (set-union of stream batches,
TestRelationGraph.scala:38).
"""

import pytest

from relation_graph_spark import fixtures as FX
from relation_graph_spark import tokens as T
from relation_graph_spark.config import RGConfig
from relation_graph_spark.materialize import materialize

from conftest import triples

# Reference test config (TestRelationGraph.scala:20-28): RDF mode,
# outputSubclasses=true, reflexiveSubclasses=false, equivalenceAsSubclass=false.
TEST_CFG = RGConfig(
    output_subclasses=True,
    reflexive_subclasses=False,
    equivalence_as_subclass=False,
)


def test_materialized_relations_full_golden(spark):
    out = triples(materialize(FX.materialize_test(spark), TEST_CFG))
    assert out == FX.GOLDEN_A_EXISTENTIAL | FX.GOLDEN_A_SUBCLASS


def test_mutual_pairs_via_cycle_nodes_no_closure_self_join(spark):
    """equivalence_as_subclass=False: mutual subsumption detection must come
    from the (tiny) cycle-node set, not an O(closure) self-join — the
    closure relation appears in the optimized plan a bounded number of
    times, and the semantics still match the golden equivalence rows."""
    rows = [
        [T.AX_SUBCLASS, 11, 12],
        [T.AX_SUBCLASS, 12, 13],
        [T.AX_SUBCLASS, 13, 11],  # 3-cycle: all pairs mutually subsumed
        [T.AX_SUBCLASS, 14, 11],  # plain edge into the cycle
    ]
    out = materialize(FX._rows_to_df(spark, rows, "cyc"), TEST_CFG)
    got = triples(out)
    eq = {(a, T.EQUIVALENTCLASS, b) for a in (11, 12, 13) for b in (11, 12, 13) if a != b}
    sub = {(14, T.SUBCLASSOF, c) for c in (11, 12, 13)}
    assert got == eq | sub


def test_deep_feedback_chain_semi_naive_rounds(spark):
    """An equivalence-definition chain forcing k=4 R4 feedback rounds
    (A subClassOf E1 unlocks E1's told existential, which entails E2, ...):
    the semi-naive feedback rounds (feedback_rounds: incremental TC and a
    delta-restricted R3 per round) must reach the same fixpoint as the
    naive full recompute of the Python oracle."""
    from pyoracle import materialize_py

    A, p = 11, 21
    D = [31, 32, 33, 34]
    E = [41, 42, 43, 44]
    rows = [[T.AX_SOME, A, p, D[0]]]
    rows += [[T.AX_EQUIV_SOME, E[i], p, D[i]] for i in range(4)]
    rows += [[T.AX_SOME, E[i], p, D[i + 1]] for i in range(3)]
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    got = triples(materialize(FX._rows_to_df(spark, rows, "chain"), cfg))
    assert got == materialize_py(rows)
    # the chain actually fired through all four rounds
    for e in E:
        assert (A, T.SUBCLASSOF, e) in got
    assert (E[0], T.SUBCLASSOF, E[3]) in got


def test_negative_assertion_f_p_c_not_entailed(spark):
    # TestRelationGraph.scala:44 — the equivalence must not leak
    # subclass-of-filler entailments through the definition.
    out = triples(materialize(FX.materialize_test(spark), TEST_CFG))
    assert FX.GOLDEN_A_NEGATIVE not in out


def test_existential_only_when_subclasses_off(spark):
    cfg = RGConfig(output_subclasses=False)
    out = triples(materialize(FX.materialize_test(spark), cfg))
    assert out == FX.GOLDEN_A_EXISTENTIAL


def test_reflexive_subclasses(spark):
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=True)
    out = triples(materialize(FX.materialize_test(spark), cfg))
    refl = {(c, T.SUBCLASSOF, c) for c in (11, 12, 13, 14, 15, 16)}
    assert out == FX.GOLDEN_A_EXISTENTIAL | FX.GOLDEN_A_SUBCLASS | refl


def test_apo_like_terminates_with_zero_properties(spark):
    # Port of exitProperlyWhenNoObjectPropertiesAreDeclared
    # (TestRelationGraph.scala:48-57): no object properties -> no existential
    # edges, non-empty subclass closure, bounded wall-clock.
    out = materialize(FX.apo_like(spark), TEST_CFG)
    rows = triples(out)
    assert rows, "subclass closure must be non-empty"
    assert all(p == T.SUBCLASSOF or p == T.EQUIVALENTCLASS for _, p, _ in rows)


def test_apo_like_matches_duckdb_recursive_oracle(spark):
    import duckdb

    rows = FX.apo_like_rows()
    edges = [(r[1], r[2]) for r in rows if r[0] == T.AX_SUBCLASS]
    con = duckdb.connect()
    con.execute("CREATE TABLE e(child INT, parent INT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    oracle = set(
        con.execute(
            """
            WITH RECURSIVE tc(child, parent) AS (
              SELECT DISTINCT child, parent FROM e
              UNION
              SELECT tc.child, e.parent FROM tc JOIN e ON tc.parent = e.child
            )
            SELECT DISTINCT child, parent FROM tc WHERE child <> parent
            """
        ).fetchall()
    )
    cfg = RGConfig(output_subclasses=True, reflexive_subclasses=False)
    got = triples(materialize(FX.apo_like(spark), cfg))
    got_sc = {(s, o) for s, p, o in got if p == T.SUBCLASSOF}
    got_eq = {(s, o) for s, p, o in got if p == T.EQUIVALENTCLASS}
    # oracle pairs = subclass rows plus both directions of equivalent pairs
    assert got_sc | got_eq == oracle


def test_undefined_property_restriction(spark):
    # Port of properlyHandleUndefinedRelation (TestRelationGraph.scala:58-67):
    # restricting to {p, nonexistent} must not error; output = A's existential
    # edges (outputSubclasses=false per the reference's config copy).
    cfg = RGConfig(output_subclasses=False).with_properties({FX.P_, 9999})
    out = triples(materialize(FX.materialize_test(spark), cfg))
    assert out == FX.GOLDEN_A_EXISTENTIAL


def test_property_hierarchy_inheritance(spark):
    cfg = RGConfig(output_subclasses=False)
    out = triples(materialize(FX.property_hierarchy(spark), cfg))
    assert out == FX.GOLDEN_D


def test_property_hierarchy_restricted_to_superproperty(spark):
    cfg = RGConfig(output_subclasses=False).with_properties({FX.R_})
    out = triples(materialize(FX.property_hierarchy(spark), cfg))
    assert out == {(FX.X_, FX.R_, FX.Y_)}


def test_named_equivalence_cycles(spark):
    # EquivalentClasses(C1, C2) among named classes forms a 2-cycle; with
    # equivalence_as_subclass=False they surface as EQUIVALENTCLASS rows.
    rows = [
        [T.AX_DECL_CLASS, 51],
        [T.AX_DECL_CLASS, 52],
        [T.AX_DECL_CLASS, 53],
        [T.AX_EQUIV_NAMED, 51, 52],
        [T.AX_SUBCLASS, 53, 51],
    ]
    df = FX._rows_to_df(spark, rows, "equiv_test")
    cfg = RGConfig(
        output_subclasses=True, reflexive_subclasses=False, equivalence_as_subclass=False
    )
    out = triples(materialize(df, cfg))
    assert out == {
        (51, T.EQUIVALENTCLASS, 52),
        (52, T.EQUIVALENTCLASS, 51),
        (53, T.SUBCLASSOF, 51),
        (53, T.SUBCLASSOF, 52),
    }


def test_named_equivalence_cycles_as_subclass_default(spark):
    # reference default equivalenceAsSubclass=true: mutual pairs emit two
    # reciprocal subClassOf rows (RelationGraph.scala:218-227)
    rows = [
        [T.AX_DECL_CLASS, 51],
        [T.AX_DECL_CLASS, 52],
        [T.AX_EQUIV_NAMED, 51, 52],
    ]
    df = FX._rows_to_df(spark, rows, "equiv_test2")
    out = triples(materialize(df, RGConfig(output_subclasses=True, reflexive_subclasses=False)))
    assert out == {(51, T.SUBCLASSOF, 52), (52, T.SUBCLASSOF, 51)}


def test_reflexive_rows_use_equivalentclass_when_not_as_subclass(spark):
    # adjustedEquivs includes the concept itself (RelationGraph.scala:217-221):
    # with equivalenceAsSubclass=false the reflexive row is
    # C owl:equivalentClass C, not C subClassOf C
    rows = [[T.AX_DECL_CLASS, 51]]
    df = FX._rows_to_df(spark, rows, "refl_eq_test")
    out = triples(
        materialize(
            df,
            RGConfig(
                output_subclasses=True,
                reflexive_subclasses=True,
                equivalence_as_subclass=False,
            ),
        )
    )
    assert out == {(51, T.EQUIVALENTCLASS, 51)}


def test_unsatisfiable_class_suppressed(spark):
    # class 61 subClassOf owl:Nothing: the reference suppresses rows whose
    # OBJECT is unsatisfiable (processSubclasses unsat gate,
    # RelationGraph.scala:213-215) but keeps unsat SUBJECTS under their
    # satisfiable ancestors / restrictions.
    rows = [
        [T.AX_DECL_CLASS, 61],
        [T.AX_DECL_CLASS, 62],
        [T.AX_DECL_CLASS, 63],
        [T.AX_DECL_PROP, 71],
        [T.AX_SUBCLASS, 61, T.BOT],
        [T.AX_SUBCLASS, 61, 63],  # unsat subject, sat object: KEPT
        [T.AX_SOME, 61, 71, 62],  # unsat subject existential: KEPT
        [T.AX_SOME, 62, 71, 62],
    ]
    df = FX._rows_to_df(spark, rows, "unsat_test")
    out = triples(materialize(df, RGConfig(output_subclasses=True)))
    assert out == {
        (61, 71, 62),
        (62, 71, 62),
        (61, T.SUBCLASSOF, 63),
        # reflexive rows only for satisfiable classes (61 gets none)
        (62, T.SUBCLASSOF, 62),
        (63, T.SUBCLASSOF, 63),
    }


def test_bottom_rule_filler_unsat_propagates(spark):
    # EL bottom rule: A subClassOf (p some B), B subClassOf Nothing => A unsat
    # (whelk saturation does this internally; RelationGraph.scala:57).
    rows = [
        [T.AX_DECL_CLASS, 61],  # A
        [T.AX_DECL_CLASS, 62],  # B (unsat)
        [T.AX_DECL_CLASS, 63],  # C: A subClassOf C (kept, sat object)
        [T.AX_DECL_CLASS, 64],  # D subClassOf A -> D unsat transitively
        [T.AX_DECL_PROP, 71],
        [T.AX_SUBCLASS, 62, T.BOT],
        [T.AX_SOME, 61, 71, 62],
        [T.AX_SUBCLASS, 61, 63],
        [T.AX_SUBCLASS, 64, 61],
    ]
    df = FX._rows_to_df(spark, rows, "bottom_test")
    out = triples(
        materialize(df, RGConfig(output_subclasses=True, reflexive_subclasses=False))
    )
    # rows with unsat objects (62, 61, 64) suppressed; unsat subjects kept
    assert out == {(61, T.SUBCLASSOF, 63), (64, T.SUBCLASSOF, 63)}


def test_individuals_mode(spark):
    rows = list(FX.MATERIALIZE_TEST_ROWS) + [[T.AX_CLASS_ASSERTION, FX.C_, 91]]
    df = FX._rows_to_df(spark, rows, "ind_test")
    cfg = RGConfig(output_subclasses=False, output_individuals=True)
    out = triples(materialize(df, cfg))
    # individual 91 : C, and C subClassOf (p some D) -> 91 p D
    assert (91, FX.P_, FX.D_) in out
    assert out == FX.GOLDEN_A_EXISTENTIAL | {(91, FX.P_, FX.D_)}


def test_individuals_taxonomy_rows(spark):
    # with outputSubclasses AND outputIndividuals the reference also emits
    # `ind rdf:type class` for every superclass in the closure
    # (processSubclasses individualsTriples, RelationGraph.scala:206-210)
    rows = list(FX.MATERIALIZE_TEST_ROWS) + [[T.AX_CLASS_ASSERTION, FX.C_, 91]]
    df = FX._rows_to_df(spark, rows, "ind_tax_test")
    cfg = RGConfig(
        output_subclasses=True, reflexive_subclasses=False, output_individuals=True
    )
    out = triples(materialize(df, cfg))
    type_rows = {(s, p, o) for (s, p, o) in out if p == T.RDF_TYPE}
    # 91 : C, C subClassOf* {C, B, A}
    assert type_rows == {
        (91, T.RDF_TYPE, FX.C_),
        (91, T.RDF_TYPE, FX.B_),
        (91, T.RDF_TYPE, FX.A_),
    }
    assert (91, FX.P_, FX.D_) in out


def test_defaults_match_reference():
    # field-by-field parity with reference Config defaults
    # (core RelationGraph.scala:35-42 Config case class)
    from relation_graph_spark.config import OutputMode

    cfg = RGConfig()
    assert cfg.mode == OutputMode.RDF
    assert cfg.output_subclasses is False
    assert cfg.reflexive_subclasses is True
    assert cfg.equivalence_as_subclass is True
    assert cfg.output_classes is True
    assert cfg.output_individuals is False
    assert cfg.disable_owl_nothing is False
    assert cfg.properties is None
