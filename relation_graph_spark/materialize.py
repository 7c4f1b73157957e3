"""Batch materialization of OWL existential relations — the engine core.

Re-creates, Spark-first, what the reference computes via Whelk saturation +
queue traversal (reference RelationGraph.scala:54-135, 159-170): the least
fixpoint of (SURVEY.md section 7.0)

    R1  sc+(x,z)   <- sc+(x,y), sc(y,z)          class-hierarchy closure
    R2  sp+(p,r)   <- sp+(p,q), sp(q,r)          property closure (reflexive)
    R3  rel(x,p,o) <- sc*(x,s), some(s,q,f), sp*(q,p), sc*(f,o)
    R4  sc(x,f)    <- rel(x,p,y), def_some(f,p,y)   equivalence feedback

over the told tables produced by decode.told_tables. R4 feeds back into
R1/R3, so the outer loop is itself a (small) fixpoint. Round 0 closes the
told hierarchy and derives R3 in full; the feedback rounds after it are
semi-naive, and the same ones the streaming engine runs
(incremental.feedback_rounds): each extends the class closure with just the
newly derived subclass facts and derives just the relation rows that use a
new closure pair, until no new fact appears. The golden `E subClassOf F`
entailment of the reference's materialize_test.ofn requires exactly one
feedback round (TestRelationGraph.scala:41-46).

Physical shape (the 100-TB story):
- `some` (told existentials) is the fact table: it scales with the input
  stream. `sc_star`/`sp_star` (hierarchy closures) scale with the ontology
  vocabulary and are broadcast below a threshold — this makes R3 a chain of
  broadcast hash joins over one pass of the fact table, no fact-table
  shuffle at all. Above the threshold Catalyst/AQE picks shuffled joins and
  splits skewed partitions (hub classes with huge fan-in).
- every round localCheckpoints its delta (lineage truncation).
- the property-hierarchy closure is computed once outside the loop — R4 only
  ever adds *class* subsumptions (mirrors the reference's separate tiny
  property saturation, RelationGraph.scala:184-200).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from relation_graph_spark import tokens as T
from relation_graph_spark.closure import (
    FixpointDidNotConverge,
    property_star,
    star_closure,
    transitive_closure,
)
from relation_graph_spark.config import OutputMode, RGConfig
from relation_graph_spark.decode import decode_axioms, told_tables


# token-packing width: 3 tokens fit one int64 when every token < 2^21 (~2M
# vocabulary). The distinct then hashes one 8-byte key instead of a 3-column
# row — 2.6x faster at 44M groups (less hash-table memory traffic).
_PACK_BITS = 21
_PACK_MASK = (1 << _PACK_BITS) - 1


def _packed_distinct(df: DataFrame, c1: str, c2: str, c3: str) -> DataFrame:
    """distinct over three token columns via one packed int64 key. Caller
    guarantees every value is in [0, 2^21). Exact bit ops (no FP). Unpacked
    columns are cast back to the INPUT dtypes: without this the packed path
    silently widens int32 token columns to bigint while the unpacked path
    keeps them — a per-batch type flip that in-memory unions coerce away
    but multi-path parquet reads of the persisted state store reject."""
    types = dict(df.dtypes)
    packed = df.select(
        (
            F.shiftleft(F.col(c1).cast("bigint"), 2 * _PACK_BITS)
            + F.shiftleft(F.col(c2).cast("bigint"), _PACK_BITS)
            + F.col(c3).cast("bigint")
        ).alias("k")
    ).dropDuplicates()
    return packed.select(
        F.shiftright(F.col("k"), 2 * _PACK_BITS).cast(types[c1]).alias(c1),
        F.shiftright(F.col("k"), _PACK_BITS)
        .bitwiseAND(F.lit(_PACK_MASK))
        .cast(types[c2])
        .alias(c2),
        F.col("k").bitwiseAND(F.lit(_PACK_MASK)).cast(types[c3]).alias(c3),
    )


def _distinct3(df: DataFrame, c1: str, c2: str, c3: str, packable: bool) -> DataFrame:
    if packable:
        return _packed_distinct(df, c1, c2, c3)
    return df.select(c1, c2, c3).dropDuplicates()


def derive_relations(
    sc_star: DataFrame,
    some: DataFrame,
    sp_star: DataFrame,
    broadcast_row_threshold: int,
    subject_star: DataFrame | None = None,
    filler_star: DataFrame | None = None,
    hot_key_threshold: int = 1_000_000,
    n_salts: int = 16,
    sides_broadcast: bool | None = None,
    max_token: int | None = None,
    staged: bool = True,
) -> DataFrame:
    """R3: one declarative join chain; Catalyst plans the physical strategy.

    This is the whole-relation equivalent of the reference's per-restriction
    existential query (RelationGraph.scala:159-170, "a faster way"): where the
    reference probes hash maps once per (property, filler) work item, we
    compute every (x, p, o) in distributed passes over `some`.

    The three closure expansions are STAGED with a distinct between each:
    different told rows frequently derive the same intermediate tuple, and
    deduping before the next multiplier (e.g. an 8-deep property chain
    multiplies every row by ~8) keeps the join inputs minimal — measured
    1.7x faster than a single fused join pass at 44M output edges, identical
    result. Each stage is still scan -> broadcast hash join -> hash
    aggregate, so the fact table never shuffles except for the dedups.

    subject_star / filler_star override the closure used on the subject /
    filler side respectively (default: sc_star for both) — the hook the
    incremental engine uses to restrict a derivation pass to delta closure
    pairs on one side only.

    staged=False fuses the three expansions into one join chain with a
    single final distinct — no intermediate dedups or checkpoints. The
    staged plan wins when the intermediates are large (the 1.7x measurement
    above); below the cost crossover (tiny told sets) the ~6 extra jobs of
    the staged plan dominate the work they save, so materialize_edges and
    the stream's derive_delta_passes pass staged=False while the told
    existentials number at most incremental_feedback_threshold (the stream's
    usual R3 rounds run on the driver instead, incremental.DriverRules).
    Result is identical either way — the stage distincts only dedup
    intermediates the final distinct removes anyway.

    Skew: below broadcast_row_threshold the hierarchy sides broadcast, so
    the fact table never shuffles by a (potentially hub-skewed) key —
    broadcast hash joins are skew-immune by construction. Above it each
    expansion stage routes through skew.hot_key_salted_join: keys whose
    closure multiplicity exceeds hot_key_threshold (hub classes) are salted
    across n_salts tasks, the rest join plain.
    """

    def _side(df: DataFrame) -> tuple[DataFrame, DataFrame, bool]:
        # sides_broadcast short-circuits the per-side count jobs when the
        # caller already knows the sizes (the incremental engine measures
        # its state once per batch, not once per derivation pass)
        if sides_broadcast is not None:
            return df, (F.broadcast(df) if sides_broadcast else df), sides_broadcast
        # checkpoint before counting: the count job materializes the side
        # once and the broadcast build / max-token scan / join stages below
        # all reuse it, instead of each re-running the side's closure-union
        # plan (a repeated-subtree recompute the exist-rel profile showed)
        df = df.localCheckpoint(eager=False)
        if broadcast_row_threshold > 0 and df.count() <= broadcast_row_threshold:
            return df, F.broadcast(df), True
        return df, df, False

    sub_plain = sc_star if subject_star is None else subject_star
    sub_plain, sub_side, sub_bcast = _side(sub_plain)
    if filler_star is None and subject_star is None:
        fill_plain, fill_side, fill_bcast = sub_plain, sub_side, sub_bcast
    else:
        fill_plain = sc_star if filler_star is None else filler_star
        fill_plain, fill_side, fill_bcast = _side(fill_plain)
    prop_plain, prop_side, prop_bcast = _side(sp_star)

    from relation_graph_spark.skew import hot_key_salted_join

    # token-packing eligibility: one cheap max() scan over the closure sides
    # (skipped when the caller hands in a pre-measured max_token). Reuses
    # the checkpointed side frames where they alias sc_star/sp_star.
    if max_token is None:
        sc_scan = (
            sub_plain
            if subject_star is None
            else (fill_plain if filler_star is None else sc_star)
        )
        max_token = (
            sc_scan.select(F.greatest(F.max("sub"), F.max("sup")).alias("m"))
            .unionByName(
                prop_plain.select(F.greatest(F.max("sub"), F.max("sup")).alias("m"))
            )
            .unionByName(
                some.select(
                    F.greatest(F.max("s"), F.max("p"), F.max("f")).alias("m")
                )
            )
            .agg(F.max("m"))
            .collect()[0][0]
        )
    packable = max_token is not None and 0 <= max_token < (1 << _PACK_BITS)

    # x is any subclass (refl.) of the told subject
    if sub_bcast:
        j1 = some.alias("t").join(
            sub_side.alias("xs"), F.col("t.s") == F.col("xs.sup")
        ).select(
            F.col("xs.sub").alias("x"), F.col("t.p").alias("q"), F.col("t.f").alias("f")
        )
    else:
        j1 = hot_key_salted_join(
            some, sub_plain, "s", "sup", n_salts, hot_key_threshold
        ).select(F.col("sub").alias("x"), F.col("p").alias("q"), F.col("f"))
    if staged:
        s1 = j1.transform(lambda d: _distinct3(d, "x", "q", "f", packable)).localCheckpoint(eager=False)
    else:
        s1 = j1

    # o is any superclass (refl.) of the told filler
    if fill_bcast:
        j2 = s1.join(fill_side.alias("fo"), F.col("f") == F.col("fo.sub")).select(
            "x", "q", F.col("fo.sup").alias("o")
        )
    else:
        j2 = hot_key_salted_join(
            s1, fill_plain, "f", "sub", n_salts, hot_key_threshold
        ).select("x", "q", F.col("sup").alias("o"))
    if staged:
        s2 = j2.transform(lambda d: _distinct3(d, "x", "q", "o", packable)).localCheckpoint(eager=False)
    else:
        s2 = j2

    # p is any superproperty (refl.) of the told property — highest average
    # fan-out, so expanded last over already-deduped rows. Stage boundaries
    # are materialized (localCheckpoint): measured 2.3x faster than the fused
    # plan at 44M edges and keeps every stage's input a flat in-memory RDD.
    if prop_bcast:
        s3 = s2.join(prop_side.alias("pq"), F.col("q") == F.col("pq.sub")).select(
            F.col("x").alias("s"), F.col("pq.sup").alias("p"), "o"
        )
    else:
        s3 = hot_key_salted_join(
            s2, prop_plain, "q", "sub", n_salts, hot_key_threshold
        ).select(F.col("x").alias("s"), F.col("sup").alias("p"), "o")
    return _distinct3(s3, "s", "p", "o", packable)


def _fire(rel_rows: DataFrame, defs: DataFrame) -> DataFrame:
    """R4: x subClassOf F whenever x satisfies F's definition (p some y).
    int casts pin the token dtype so feedback-derived sc facts never widen
    the persisted sc/sc_tc frames."""
    return (
        rel_rows.join(defs, ["p", "o"])
        .selectExpr("CAST(s AS INT) AS sub", "CAST(f AS INT) AS sup")
        .where("sub != sup")
    )


def materialize_edges(told: dict[str, DataFrame], cfg: RGConfig) -> dict[str, DataFrame]:
    """Run the R1-R4 fixpoint; return {'rel','sc_closure','sc_star','unsat',
    'classes','assertions'} frames (pre-output-config, already TOP/BOT-free
    where noted)."""
    from relation_graph_spark.closure import ensure_iteration_confs

    ensure_iteration_confs(told["classes"])
    classes = told["classes"].localCheckpoint(eager=False)
    props = told["props"]

    # R2 once: property closure is independent of the class feedback loop.
    sp_star = property_star(
        told["sp"], props, cfg.max_iterations, cfg.broadcast_row_threshold
    )

    some = told["some"].dropDuplicates().localCheckpoint(eager=False)
    def_some = told["def_some"].dropDuplicates().localCheckpoint(eager=False)
    sc = told["sc"].dropDuplicates().localCheckpoint(eager=False)

    # ONE combined stats job: told-existential / definition counts (cost-based
    # decisions below) + the global max token (packability for EVERY
    # derive_relations call — all closure-side tokens are classes, props or
    # the reserved TOP/BOT, so max(classes, props) bounds them; computing it
    # here once replaces a per-derivation-pass max scan)
    stats = (
        some.agg(F.count(F.lit(1)).alias("n"), F.lit(None).cast("bigint").alias("m"))
        .select(F.lit("some").alias("f"), "n", "m")
        .unionByName(
            def_some.agg(
                F.count(F.lit(1)).alias("n"), F.lit(None).cast("bigint").alias("m")
            ).select(F.lit("def").alias("f"), "n", "m")
        )
        .unionByName(
            classes.agg(
                F.count(F.lit(1)).alias("n"), F.max("c").cast("bigint").alias("m")
            ).select(F.lit("classes").alias("f"), "n", "m")
        )
        .unionByName(
            props.agg(
                F.count(F.lit(1)).alias("n"), F.max("p").cast("bigint").alias("m")
            ).select(F.lit("props").alias("f"), "n", "m")
        )
        .collect()
    )
    st = {r["f"]: r for r in stats}
    n_some, n_def = st["some"]["n"], st["def"]["n"]
    max_token = max(
        [m for m in (st["classes"]["m"], st["props"]["m"], T.TOP, T.BOT) if m is not None],
        default=None,
    )

    thr = cfg.broadcast_row_threshold
    staged = n_some > cfg.incremental_feedback_threshold
    # round 0: full class closure + full R3
    sc_tc = transitive_closure(
        sc, child="sub", parent="sup", max_iterations=cfg.max_iterations,
        broadcast_row_threshold=thr,
    )
    sc_star = star_closure(
        sc_tc, classes, broadcast=0 < thr and st["classes"]["n"] <= thr
    ).localCheckpoint(eager=False)
    rel = derive_relations(
        sc_star, some, sp_star, thr, staged=staged, max_token=max_token
    ).localCheckpoint(eager=False)

    driver_state, plans = {}, []
    if n_def:
        # R4 feedback: the stream's semi-naive rounds (feedback_rounds),
        # whose first round is the stream's late-definition case — every
        # definition fires against the round-0 rel. One job counts the
        # closure sides for the broadcast decisions. The class closure's
        # ClosureIndex and the driver rules are pulled by the first round
        # that fires a fact, only while they fit the broadcast bound, as in
        # the stream; the rounds run in Spark otherwise.
        from relation_graph_spark.incremental import (
            ClassFixpoint,
            _bounded_broadcast,
            feedback_rounds,
        )

        n = dict(
            sc_star.selectExpr("'star' AS f")
            .unionByName(sp_star.selectExpr("'sp' AS f"))
            .groupBy("f")
            .count()
            .collect()
        )
        defs = _bounded_broadcast(cfg, def_some, n_def)
        fx = ClassFixpoint(
            cfg, {"rel": rel}, sc=sc, tc=sc_tc, star=sc_star, classes=classes,
            rows=n.get("star", 0), some=some, n_some=n_some, sp_star=sp_star,
            n_sp=n.get("sp", 0), max_token=max_token, staged=staged, defs=defs,
        )
        feedback_rounds(fx, None, _fire(rel, defs), narrow=False)
        # the rounds' rel rows are disjoint from the round-0 rel
        rel = rel.unionByName(fx.rel)
        sc, sc_tc, sc_star = fx.sc, fx.tc, fx.star
        driver_state, plans = fx.driver_state(), fx.plans

    unsat = compute_unsat(sc_star, some, cfg)
    return {
        "rel": rel,
        # the rounds' TC already closes the post-R4 subclass graph
        "sc_closure": sc_tc,
        "sc_star": sc_star,
        "sp_star": sp_star,
        "unsat": unsat,
        "some": some,
        "classes": classes,
        "assertions": told["assertions"],
        # told subclass edges including R4-derived feedback facts — the
        # incremental engine's state seed
        "sc_final": sc,
        # scalar stats, the R3 plan of each feedback round, and the class
        # closure's index and driver rules if the rounds seeded them,
        # carried to the incremental engine (avoid re-counts and re-pulls)
        "_n_some": n_some,
        "_n_def": n_def,
        "_r3_plans": plans,
        "_driver_state": driver_state,
        # unsat is empty iff no (x, owl:Nothing) pair is in the closure (or
        # bottom handling is disabled — in which case downstream unsat
        # computation is a no-op too, so the stat stays truthful)
        "_has_bot": not unsat.isEmpty(),
    }


def compute_unsat(sc_star: DataFrame, some: DataFrame, cfg: RGConfig) -> DataFrame:
    """Unsatisfiable classes under the EL bottom rules (whelk's disableBottom
    semantics, reference RelationGraph.scala:57):

        c unsat <- c subClassOf* owl:Nothing
        x unsat <- x subClassOf* s, some(s, p, f), f unsat   (bottom-filler)

    The second rule iterates (an unsat filler can make a subject unsat whose
    own fillers sit elsewhere); unsat is class-domain-sized, so every
    iteration is one broadcast semi-join pass over the told existentials —
    no fact-table shuffle."""
    empty = sc_star.where(F.lit(False)).select(F.col("sub").alias("c"))
    if cfg.disable_owl_nothing:
        # STATICALLY empty (a where(false), not a checkpointed frame):
        # PropagateEmptyRelation then folds every downstream unsat anti-join
        # out of the plan instead of probing an empty broadcast per row
        return empty
    unsat = (
        sc_star.where(F.col("sup") == T.BOT)
        .select(F.col("sub").alias("c"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    if unsat.isEmpty():
        # common case: nothing under owl:Nothing — skip the bottom-rule loop
        # entirely AND hand back the statically-empty frame (see above)
        return empty
    for _ in range(cfg.max_iterations):
        bad_subjects = (
            some.join(F.broadcast(unsat), some["f"] == unsat["c"], "left_semi")
            .select(F.col("s").alias("bad_s"))
            .dropDuplicates()
        )
        new = (
            sc_star.join(
                F.broadcast(bad_subjects),
                sc_star["sup"] == F.col("bad_s"),
                "left_semi",
            )
            .select(F.col("sub").alias("c"))
            .dropDuplicates()
            .join(unsat, on="c", how="left_anti")
            .localCheckpoint(eager=False)
        )
        if new.isEmpty():
            return unsat
        unsat = unsat.unionByName(new).localCheckpoint(eager=False)
    raise FixpointDidNotConverge("bottom-rule unsat fixpoint did not converge")


def _not_builtin(col: str):
    return ~F.col(col).isin(T.TOP, T.BOT)


def materialize(seq_df: DataFrame, cfg: RGConfig | None = None) -> DataFrame:
    """sequences(doc_id, tokens, ...) -> materialized edges (s, p, o).

    Output rows (all int32 tokens, unordered set semantics, deduplicated —
    the reference's TriplesGroup set semantics, RelationGraph.scala:254):
    - existential: (S, p, D) for every entailed S SubClassOf (p some D)
    - if cfg.output_subclasses: (S, SUBCLASSOF, O) taxonomy rows and, when a
      pair is mutually subsumed and cfg.equivalence_as_subclass is false,
      (S, EQUIVALENTCLASS, O) rows in both directions
    - if cfg.output_individuals: (i, p, D) for asserted individuals
    """
    cfg = cfg or RGConfig()
    told = told_tables(decode_axioms(seq_df))
    m = materialize_edges(told, cfg)
    return assemble_output(m, cfg)


def assemble_output(
    m: dict[str, DataFrame], cfg: RGConfig, with_kind: bool = False
) -> DataFrame:
    """Apply the output-config gates (P1-P7) to the fixpoint frames — one
    linear pass, no joins beyond broadcast anti-joins; shared by the batch
    entry point and the incremental streaming engine.

    Unsatisfiability follows the reference exactly: rows whose OBJECT class
    is unsatisfiable are suppressed (processSubclasses emits nothing for an
    unsat superclass, RelationGraph.scala:213-215; restriction traversal
    never visits unsat fillers), while unsat SUBJECTS still appear under
    their satisfiable ancestors (they are in closureSubsBySuperclass of any
    told ancestor, which the reference emits verbatim).

    with_kind=True adds a `kind` column ('class' | 'individual') so the
    OWL-mode sink can reify individual-subject edges via rdf:type
    (owlTriples(..., RDFType), reference RelationGraph.scala:149-153).
    """
    unsat = F.broadcast(m["unsat"])

    def _object_sat(df: DataFrame, obj_col: str) -> DataFrame:
        return df.join(unsat, df[obj_col] == unsat["c"], "left_anti")

    rel = _object_sat(
        m["rel"].where(_not_builtin("s") & _not_builtin("o") & _not_builtin("p")), "o"
    )

    def _prop_filter(df: DataFrame) -> DataFrame:
        if cfg.properties is None:
            return df
        return df.where(
            F.col("p").isin(*[int(t) for t in cfg.properties])
            if cfg.properties
            else F.lit(False)
        )

    rel = _prop_filter(rel)
    out = rel if cfg.output_classes else rel.where(F.lit(False))
    out = out.withColumn("kind", F.lit("class"))

    if cfg.output_individuals:
        # ind : C and C subClassOf (p some O)  =>  ind p O
        # (processRestriction instances, RelationGraph.scala:147-153)
        ind = (
            m["assertions"]
            .alias("a")
            .join(rel.alias("r"), F.col("a.c") == F.col("r.s"))
            .select(
                F.col("a.ind").alias("s"),
                F.col("r.p").alias("p"),
                F.col("r.o").alias("o"),
            )
            .dropDuplicates()
            .withColumn("kind", F.lit("individual"))
        )
        out = out.unionByName(ind).dropDuplicates()

    if cfg.output_subclasses:
        scc = m["sc_closure"].where(
            _not_builtin("sub") & _not_builtin("sup") & (F.col("sub") != F.col("sup"))
        )
        scc = _object_sat(scc, "sup")
        if cfg.equivalence_as_subclass:
            # mutual pairs stay as two reciprocal subClassOf rows
            sub_rows = scc.select(
                F.col("sub").alias("s"),
                F.lit(T.SUBCLASSOF).cast("int").alias("p"),
                F.col("sup").alias("o"),
            )
            eq_rows = sub_rows.where(F.lit(False))
        else:
            # mutual pairs (a ⊑* b and b ⊑* a) only exist between nodes on a
            # subclass cycle, and a node is on a cycle iff the (non-reflexive)
            # transitive closure contains its self-pair. Restricting to those
            # vocabulary-rare cycle nodes first makes the mutuality check a
            # broadcast semi-join + a tiny self-join, instead of an
            # O(closure)-shuffle self-join of the whole taxonomy.
            cyc = F.broadcast(
                m["sc_closure"]
                .where(F.col("sub") == F.col("sup"))
                .select(F.col("sub").alias("cyc_c"))
                .dropDuplicates()
            )
            scc_cyc = (
                scc.join(cyc, scc["sub"] == cyc["cyc_c"], "left_semi")
                .join(cyc, F.col("sup") == cyc["cyc_c"], "left_semi")
                .localCheckpoint(eager=False)
            )
            mutual = scc_cyc.alias("a").join(
                scc_cyc.alias("b"),
                (F.col("a.sub") == F.col("b.sup")) & (F.col("a.sup") == F.col("b.sub")),
                "left_semi",
            )
            sub_rows = scc.join(
                F.broadcast(mutual), on=["sub", "sup"], how="left_anti"
            ).select(
                F.col("sub").alias("s"),
                F.lit(T.SUBCLASSOF).cast("int").alias("p"),
                F.col("sup").alias("o"),
            )
            eq_rows = mutual.select(
                F.col("sub").alias("s"),
                F.lit(T.EQUIVALENTCLASS).cast("int").alias("p"),
                F.col("sup").alias("o"),
            )
        out = out.unionByName(sub_rows.withColumn("kind", F.lit("class"))).unionByName(
            eq_rows.withColumn("kind", F.lit("class"))
        )
        if cfg.reflexive_subclasses:
            # reflexive rows follow equivalenceAsSubclass: C subClassOf C
            # when true, C owl:equivalentClass C when false (adjustedEquivs
            # includes the concept itself, RelationGraph.scala:217-225)
            refl_pred = (
                T.SUBCLASSOF if cfg.equivalence_as_subclass else T.EQUIVALENTCLASS
            )
            refl = (
                m["classes"]
                .where(_not_builtin("c"))
                .join(
                    unsat.withColumnRenamed("c", "_unsat_c"),
                    F.col("c") == F.col("_unsat_c"),
                    "left_anti",
                )
                .select(
                    F.col("c").alias("s"),
                    F.lit(refl_pred).cast("int").alias("p"),
                    F.col("c").alias("o"),
                    F.lit("class").alias("kind"),
                )
            )
            out = out.unionByName(refl)
        if cfg.output_individuals:
            # ind : C and C subClassOf* O  =>  ind rdf:type O (reference
            # processSubclasses individualsTriples, RelationGraph.scala:206-210;
            # NOT gated on O's satisfiability — the reference computes these
            # before its unsat check)
            ityped = (
                m["assertions"]
                .alias("a")
                .join(m["sc_star"].alias("h"), F.col("a.c") == F.col("h.sub"))
                .select(
                    F.col("a.ind").alias("s"),
                    F.lit(T.RDF_TYPE).cast("int").alias("p"),
                    F.col("h.sup").alias("o"),
                )
                .where(_not_builtin("o"))
                .dropDuplicates()
                .withColumn("kind", F.lit("individual"))
            )
            out = out.unionByName(ityped)

    # no global dropDuplicates: every unioned component is internally
    # distinct, and the components are pairwise disjoint (existential rows
    # carry property tokens >= FIRST_ENTITY_TOKEN; taxonomy/type rows carry
    # the reserved SUBCLASSOF/EQUIVALENTCLASS/RDF_TYPE predicates; reflexive
    # rows have s == o while sc_closure rows were filtered to s != o).
    cols = [
        F.col("s").cast("int").alias("s"),
        F.col("p").cast("int").alias("p"),
        F.col("o").cast("int").alias("o"),
    ]
    if with_kind:
        cols.append(F.col("kind"))
    return out.select(*cols)


def existential_subclasses(
    seq_df: DataFrame, property_token: int, filler_token: int, cfg: RGConfig | None = None
) -> DataFrame:
    """Single-restriction query: every named class S with
    S SubClassOf (property some filler) — the reference's per-work-item
    existential query (RelationGraph.scala:159-170) exposed as a public API.
    Evaluated by filtering the whole-relation materialization; Catalyst
    pushes the (p, o) filter below the final distinct."""
    cfg = cfg or RGConfig(output_subclasses=False)
    edges = materialize(seq_df, cfg)
    return edges.where(
        (F.col("p") == int(property_token)) & (F.col("o") == int(filler_token))
    ).select(F.col("s").alias("subclass"))


def materialize_presented(
    seq_df: DataFrame,
    cfg: RGConfig,
    vocab: DataFrame,
    prefixes: dict[str, str] | None = None,
    obo_prefixes: bool = True,
) -> DataFrame:
    """materialize + the presentation edge selected by cfg.mode (the full
    reference CLI behavior, Main.scala:51-78):

    - RDF: IRI triples (s, p, o) strings
    - OWL: reified quads per existential edge (hashing.reify_owl)
    - TSV: longest-first prefix-compacted (s, p, o) strings (prefix module)
    """
    told = told_tables(decode_axioms(seq_df))
    edges_kind = assemble_output(materialize_edges(told, cfg), cfg, with_kind=True)
    return present_edges(edges_kind, cfg, vocab, prefixes=prefixes, obo_prefixes=obo_prefixes)


def present_edges(
    edges_kind: DataFrame,
    cfg: RGConfig,
    vocab: DataFrame,
    prefixes: dict[str, str] | None = None,
    obo_prefixes: bool = True,
) -> DataFrame:
    """Presentation edge over ALREADY-materialized edges (columns s, p, o,
    kind) — lets the CLI materialize once and feed both the edge parquet and
    the text sink from the same frames (no second fixpoint run)."""
    from relation_graph_spark.hashing import reify_owl, to_iris
    from relation_graph_spark.prefix import compact_triples

    if cfg.mode == OutputMode.OWL:
        # kind column distinguishes individual-subject edges, which reify
        # via rdf:type instead of rdfs:subClassOf (RelationGraph.scala:149)
        return reify_owl(edges_kind, vocab)
    iri = to_iris(edges_kind.select("s", "p", "o"), vocab)
    if cfg.mode == OutputMode.TSV:
        return compact_triples(iri, prefixes or {}, obo_prefixes)
    return iri
