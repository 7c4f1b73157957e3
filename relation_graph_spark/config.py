"""Engine configuration — the analog of the reference's Config case class
(reference cli Config.scala:10-52). Booleans select plan branches
(SURVEY.md P7); `properties` is the query-time property restriction
(reference Main.scala:33-34, 85-88) and tolerates unknown tokens
(TestRelationGraph.scala:58-67: undefined properties must not error).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class OutputMode(str, Enum):
    RDF = "RDF"  # plain triples (s, p, o)
    OWL = "OWL"  # reified: 1 existential edge -> 4 triples (RelationGraph.scala:235-245)
    TSV = "TSV"  # prefix-compacted s\tp\to


@dataclass(frozen=True)
class RGConfig:
    mode: OutputMode = OutputMode.RDF
    # emit the subclass closure alongside existential edges
    # (reference Config.scala:28 default false; tests run with true)
    output_subclasses: bool = False
    # include C subClassOf C rows (reference reflexiveSubclasses, default true)
    reflexive_subclasses: bool = True
    # emit mutually-subsumed named pairs as two subclass rows (true) or one
    # owl:equivalentClass row (false) (reference equivalenceAsSubclass,
    # default TRUE: Config.scala:34 / RelationGraph.scala:38)
    equivalence_as_subclass: bool = True
    output_classes: bool = True
    output_individuals: bool = False
    # suppress owl:Nothing handling entirely (reference disableOwlNothing)
    disable_owl_nothing: bool = False
    # restrict output to these property tokens; None = all properties.
    properties: frozenset[int] | None = None
    # --- Spark-plan knobs (ours, not in the reference) ---
    # broadcast hierarchy sides below this row count; above it, let
    # Catalyst/AQE pick a shuffled join (the 100-TB path).
    broadcast_row_threshold: int = 5_000_000
    # semi-naive safety valve: abort if the closure hasn't converged.
    max_iterations: int = 200
    # localCheckpoint the accumulated closure every k iterations to truncate
    # lineage (SURVEY.md section 4.1: plan-lineage truncation).
    checkpoint_every: int = 1
    # R3 derives through the staged plan (a dedup between closure
    # expansions) only when the told-existential table exceeds this row
    # count; below it the staged plan's extra Spark jobs cost more than the
    # intermediate rows they save, so tiny ontologies take the fused chain
    # (same cost-based shape as broadcast_row_threshold).
    incremental_feedback_threshold: int = 20_000

    def with_properties(self, tokens) -> "RGConfig":
        from dataclasses import replace

        return replace(self, properties=frozenset(tokens))
