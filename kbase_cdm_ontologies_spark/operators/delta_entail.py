"""Incremental (delta) entailment maintenance.

The reference's only incremental notion is checksum skip-if-unchanged:
scripts/version_tracker.py:111-138 records per-source checksums and the
whole ROBOT/relation-graph pipeline re-runs from scratch whenever ANY
source changed. At its production scale (a >2M-term taxonomy, 4-24 h
per run — README.md:104) that makes "add one small ontology" cost a
full re-entailment.

This module does real semi-naive delta maintenance instead: EL
entailment is monotone, so continuing every fixpoint from its saturated
state with the new facts as the initial frontier reaches exactly the
fixpoint of the union — only conclusions whose derivation uses at least
one NEW fact are (re)derived. Concretely, for a statement delta Δ:

  1. Δ alone is reduced (drop_non_el + prune + canonicalize). The
     structural interning of closure.canonicalize_expressions keys
     canonical ids by a CONTENT HASH of the expression, so re-interning
     Δ in isolation produces ids consistent with the saved state — a
     delta restriction structurally identical to an old one lands on
     the same node.
  2. New static subclass edges (asserted + expression normalization +
     the domain rule re-evaluated under the grown property hierarchy)
     extend the saved reflexive-transitive closure via
     _seminaive_closure(both_sides=True), interleaved with the
     union-elimination recheck — the same alternation
     union_eliminated_subclass runs from scratch.
  3. New existential base links come from the three-premise semi-naive
     expansion of rtc ∘ restr ∘ rtc: each term puts the delta in one
     premise slot and the full (old or new) relation in the others, so
     only the affected cone is composed — never the full base relation.
  4. The property fixpoint warm-starts from the saved saturated link
     set (chain-step rows retained — a prefix composed last run must
     meet a suffix added this run) with the new base links plus
     schema-delta seeds (new subPropertyOf pairs lifted over old links,
     new transitive/chain rules fired once over the old slices) as the
     frontier: closure._generic_property_fixpoint(seed_delta=...).
  5. Individual typing and the output projection run the same
     delta-against-full expansion.

Regimes. The steps above are the distributed path: each is a few Spark
jobs over cone-sized frames, so a dictionary-scale update pays job
latency, not work. When the saved state fits on the driver
(deltaEntail.driverThreshold, plans/route.py), entail_delta instead
runs entail()'s driver regime, closure._driver_entail: one capped
Arrow collect that sizes every frame and fetches the saved pruned rows
plus the delta, one re-saturation of old ∪ new with
closure._local_entail, and every state frame rebuilt from the result
with the distributed path's column names and types. A state over the
threshold, or a closure over the driver pair cap or base guard, runs
the distributed path; either regime's state feeds the next delta and
save()/load().

The contract mirrors "add an ontology source": delta statements are
complete axioms and bnode-disjoint from the saved corpus (merge.py's
per-source bnode namespacing guarantees this; structurally identical
expressions still unify through interning). Growing an EXISTING
interned union/intersection/restriction node is impossible by
construction — the canonical id is a function of the member set — and
entail_delta raises if a delta membership row violates that.

Equality with full recompute is asserted by tests/test_delta_entail.py
on handcrafted fixtures, randomized ontologies, and a reference-corpus
source split; the speedup is measured by `python bench.py
--incremental` (see BENCH.md)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import route
from ..plans.stats_cut import cut as _statscut
from .closure import (
    _SPO,
    _chain_compose,
    _domain_edges,
    _driver_entail,
    _frame,
    _generic_property_fixpoint,
    _local_expression_edges,
    _seminaive_closure,
    canonicalize_expressions,
    drop_non_el_axioms,
    entail,
    expression_edges,
    property_schema,
    prune_for_closure,
    restriction_nodes,
    transitive_closure,
)

# cone keys up to which the distributed path broadcasts its cone scan:
# ~2M interned keys is tens of MB framed, inside the session's
# broadcast budget; 8M risked hundreds of MB per broadcast
_CONE_KEY_CAP = 2_000_000
# subclass-closure / union-elimination alternations of the distributed
# path before the delta fixpoint is declared divergent
_OUTER_ROUNDS = 10

_UNION_GROWTH = (
    "entail_delta: delta adds members to an existing union expression "
    "node — bnode-disjointness contract violated"
)


def _schema_slice(pruned: DataFrame) -> DataFrame:
    """Property-schema-bearing rows (subPropertyOf / chain axioms +
    their rdf-list cells / TransitiveProperty typing / rdfs:domain) —
    a superset of everything property_schema() and _domain_edges()
    collect, schema-scale by construction. Kept as a state frame so a
    delta run re-derives the grown schema from dictionary-sized input
    instead of re-scanning the whole pruned corpus."""
    return pruned.where(
        F.col("predicate").isin(
            "rdfs:subPropertyOf", "owl:propertyChainAxiom",
            "rdfs:domain", "rdf:first", "rdf:rest",
        )
        | (
            (F.col("predicate") == "rdf:type")
            & (F.col("object") == "owl:TransitiveProperty")
        )
    )


@dataclass
class EntailState:
    """Saturated internal state of one entail() run — everything the
    delta path needs to extend the fixpoints without re-deriving them.
    All frames are plain DataFrames (parquet round-trippable)."""

    pruned: DataFrame          # canonicalized pruned logic statements (s,p,o)
    schema_rows: DataFrame     # property-schema + domain + list-cell slice
    sub: DataFrame             # augmented static subclass edges (s, o)
    rtc: DataFrame             # reflexive-transitive subclass closure (s, o)
    restr: DataFrame           # (a, prop, c) restriction nodes
    links: DataFrame           # saturated property links (s, p, o), step rows KEPT
    type_asserts: DataFrame    # (ind, cls)
    edges: DataFrame           # final output (subject, predicate, object)
    class_nodes: DataFrame     # (id,)
    union_membership: DataFrame  # (bn, member)
    schema: tuple              # (hierarchy: dict, transitive: set, chains: list)

    _FRAMES = (
        "pruned", "schema_rows", "sub", "rtc", "restr", "links",
        "type_asserts", "edges", "class_nodes", "union_membership",
    )

    def save(self, path: str) -> None:
        """Persist every frame as parquet plus the property schema as
        JSON — the graph-stage analog of plans/checkpoint.py's stage
        snapshots (resume across sessions)."""
        os.makedirs(path, exist_ok=True)
        for name in self._FRAMES:
            getattr(self, name).write.mode("overwrite").parquet(
                os.path.join(path, name + ".parquet")
            )
        hierarchy, transitive, chains = self.schema
        with open(os.path.join(path, "schema.json"), "w") as fh:
            json.dump(
                {
                    "hierarchy": {p: sorted(qs) for p, qs in hierarchy.items()},
                    "transitive": sorted(transitive),
                    "chains": [list(c) for c in chains],
                },
                fh,
            )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "EntailState":
        frames = {
            name: spark.read.parquet(os.path.join(path, name + ".parquet"))
            for name in cls._FRAMES
        }
        with open(os.path.join(path, "schema.json")) as fh:
            s = json.load(fh)
        schema = (
            {p: set(qs) for p, qs in s["hierarchy"].items()},
            set(s["transitive"]),
            [tuple(c) for c in s["chains"]],
        )
        return cls(schema=schema, **frames)


def entail_with_state(
    statements: DataFrame, class_nodes: DataFrame
) -> tuple[DataFrame, EntailState]:
    """Full entail() that also returns the saturated EntailState for
    later entail_delta() calls. The edge output is identical to
    entail()'s."""
    cap: dict = {}
    edges = _statscut(
        entail(statements, class_nodes, state_capture=cap),
        eager=True,
    )
    state = EntailState(
        # eager cut: a later entail_delta() scans this frame many times
        # (schema collects, restriction/domain recompute) and must
        # never re-execute the canonicalize/dedup plan
        pruned=_statscut(
            cap["pruned"].select(*_SPO).dropDuplicates(), eager=True
        ),
        schema_rows=_statscut(
            _schema_slice(cap["pruned"]).select(*_SPO).dropDuplicates(),
            eager=True,
        ),
        sub=cap["sub"],
        rtc=cap["rtc"],
        restr=cap["restr"],
        links=cap["links"],
        type_asserts=cap["type_asserts"],
        edges=edges,
        class_nodes=cap["class_nodes"],
        union_membership=cap["union_membership"],
        schema=cap["schema"],
    )
    return edges, state


def _union_derived(known: DataFrame, membership_b, member_refl, card) -> DataFrame:
    """Union-right elimination over the current closure: (bn, c) where
    EVERY member of union bn reflexively-transitively reaches c — same
    derivation as union_eliminated_subclass's distributed round."""
    rtc_aug = known.unionByName(member_refl)
    common = (
        membership_b.join(rtc_aug, F.col("member") == F.col("s"))
        .select("bn", "member", F.col("o").alias("c"))
        .where(F.col("bn") != F.col("c"))
        .groupBy("bn", "c")
        .agg(F.countDistinct("member").alias("n"))
    )
    return (
        common.join(card, "bn")
        .where(F.col("n") == F.col("k"))
        .select(F.col("bn").alias("s"), F.col("c").alias("o"))
    )


def _maybe_broadcast(df: DataFrame, n: int | None):
    return F.broadcast(df) if n is not None and n <= 200_000 else df


def _anti_vs_big(left: DataFrame, right: DataFrame, cols: list, key: str):
    """left_anti of a cone-sized LEFT against a corpus-sized RIGHT
    without shuffling the right: prune right to left's key slice via a
    broadcast semi-join first (one scan of right, no shuffle), then
    anti-join cone-vs-slice. left should be cheap to re-evaluate or
    already materialized (its key projection feeds the broadcast)."""
    keys = F.broadcast(left.select(key).distinct())
    return left.join(right.join(keys, key, "left_semi"), cols, "left_anti")


def _driver_delta(
    state: EntailState,
    pruned_delta: DataFrame,
    delta_class_nodes: DataFrame,
    max_rows: int,
) -> tuple[DataFrame, EntailState] | None:
    """entail_delta's driver regime: closure._driver_entail over the
    saved rows + the delta rows, and every state frame rebuilt from the
    result. Returns None, and the caller runs the distributed path, when
    a saved rtc/links frame holds more than max_rows rows (sized in the
    same capped collect) or _driver_entail returns None."""
    spark = pruned_delta.sparkSession
    out = _driver_entail(
        pruned_delta, delta_class_nodes, max_rows,
        saved=(state.pruned, state.class_nodes, state.rtc, state.links),
    )
    if out is None:
        return None
    sat, rows, classes, old_rows = out
    # the saved membership is a function of the saved rows
    _, old_mem = _local_expression_edges(old_rows)
    old_bns = {bn for bn, _m in old_mem}
    if any(
        bn in old_bns and (bn, m) not in old_mem
        for bn, m in sat["union_membership"]
    ):
        raise ValueError(_UNION_GROWTH)
    pruned = _frame(spark, rows, _SPO)
    edges = _frame(spark, sat["edges"], _SPO)
    return edges, EntailState(
        pruned=pruned,
        schema_rows=_schema_slice(pruned),
        sub=_frame(spark, sat["sub"], ["s", "o"]),
        rtc=_frame(spark, sat["rtc"], ["s", "o"]),
        restr=_frame(spark, sat["restr"], ["a", "prop", "c"]),
        links=_frame(spark, sat["links"], ["s", "p", "o"]),
        type_asserts=_frame(spark, sat["type_asserts"], ["ind", "cls"]),
        edges=edges,
        class_nodes=_frame(spark, [(c,) for c in classes], ["id"]),
        union_membership=_frame(
            spark, sat["union_membership"], ["bn", "member"]
        ),
        schema=sat["schema"],
    )


def entail_delta(
    state: EntailState,
    delta_statements: DataFrame,
    delta_class_nodes: DataFrame | None = None,
) -> tuple[DataFrame, EntailState]:
    """Extend a saturated entailment with new statements — returns the
    full updated edge set (== entail() on the union, asserted by
    tests/test_delta_entail.py) and the new state. A state that fits
    on the driver is re-saturated there in one pass; a larger one is
    extended on the distributed path, touching only the delta's
    derivation cone (module docstring, Regimes).

    delta_statements must be complete axioms, bnode-disjoint from the
    saved corpus (the add-a-source contract; see module docstring).
    delta_class_nodes defaults to the delta's own `rdf:type owl:Class`
    declarations."""
    spark = delta_statements.sparkSession
    hierarchy_old, transitive_old, chains_old = state.schema

    if delta_class_nodes is None:
        delta_class_nodes = (
            delta_statements.where(
                (F.col("predicate") == "rdf:type")
                & (F.col("object") == "owl:Class")
                & ~F.col("subject").startswith("_:")
            )
            .select(F.col("subject").alias("id"))
            .distinct()
        )

    pruned_delta = (
        canonicalize_expressions(
            prune_for_closure(drop_non_el_axioms(delta_statements))
        )
        .select(*_SPO)
        .dropDuplicates()
    )
    out = _driver_delta(
        state, pruned_delta, delta_class_nodes,
        route.threshold(spark, route.DRIVER_ENTAIL),
    )
    if out is not None:
        return out
    pruned_delta = _statscut(pruned_delta, eager=True)
    pruned_delta = _statscut(
        _anti_vs_big(pruned_delta, state.pruned, _SPO, "subject"),
        eager=True,
    )
    pruned_union = state.pruned.unionByName(pruned_delta)
    schema_rows = _statscut(
        state.schema_rows.unionByName(_schema_slice(pruned_delta))
        .dropDuplicates(),
        eager=True,
    )
    hierarchy, transitive, chains = property_schema(schema_rows)

    # ---- static subclass edge delta ----------------------------------
    sub_all_d = pruned_delta.where(
        (F.col("predicate") == "rdfs:subClassOf") & F.col("object").isNotNull()
    ).select(F.col("subject").alias("s"), F.col("object").alias("o"))
    expr_d, union_mem_d = expression_edges(pruned_delta)
    # an interned union/intersection node's member set IS its identity —
    # a delta row attaching a new member to an EXISTING bn would change
    # the elimination rule's cardinality non-monotonically. Impossible
    # under the add-a-source contract; fail loudly if violated.
    grown = (
        union_mem_d.join(
            state.union_membership.select("bn").distinct(), "bn", "left_semi"
        )
        .join(state.union_membership, ["bn", "member"], "left_anti")
        .limit(1)
        .count()
    )
    if grown:
        raise ValueError(_UNION_GROWTH)
    union_membership = _statscut(
        state.union_membership.unionByName(union_mem_d).dropDuplicates()
    )
    # restriction bnodes are axiom-local and content-hash interned, so
    # the union's restriction table is exactly the dedup of old ∪ delta
    restr_new = _statscut(
        state.restr.unionByName(restriction_nodes(pruned_delta))
        .dropDuplicates(),
        eager=True,
    )
    domain_new = _domain_edges(schema_rows, hierarchy, restr_new)
    static_raw = _statscut(
        sub_all_d.unionByName(expr_d)
        .unionByName(domain_new)
        .dropDuplicates(),
        eager=True,
    )
    static_d = _statscut(
        _anti_vs_big(static_raw, state.sub, ["s", "o"], "s"), eager=True
    )

    # ---- new reflexive rows / class growth ---------------------------
    new_cls_only = _statscut(
        delta_class_nodes.join(state.class_nodes, "id", "left_anti"),
        eager=True,
    )
    class_nodes_new = _statscut(
        state.class_nodes.unionByName(new_cls_only), eager=True
    )
    refl_cand = (
        new_cls_only.select(F.col("id").alias("n"))
        .unionByName(restr_new.select(F.col("a").alias("n")))
        .unionByName(restr_new.select(F.col("c").alias("n")))
        .distinct()
        .select(F.col("n").alias("s"), F.col("n").alias("o"))
    )

    # ---- ONE cone scan of the saved closure --------------------------
    # The saved rtc is transitively closed, so every old segment of a
    # new derivation collapses to a SINGLE rtc row keyed on a node the
    # delta mentions: prefix segments end at a delta-edge subject
    # (o ∈ subjF), middle/suffix segments start at a delta-mentioned
    # node (s ∈ objF ∪ subjF). One flag-scan therefore extracts every
    # closure row any phase below can need — the subclass extension,
    # union recheck, base-link premises (filler / restriction-holder
    # slices), individual typing, and reflexive output gains — and the
    # corpus-sized rtc is never scanned again (one conditional second
    # scan covers the descendants-of-reorganized-subjects anti slice).
    cand_edges = static_d.where(F.col("s") != F.col("o"))
    # pre-close the delta's own edge subgraph (hybrid driver BFS at
    # add-a-source scale): the distributed loop then only runs the
    # old/new alternation depth, not the delta's internal diameter
    dc = transitive_closure(cand_edges)
    f0_raw = _statscut(
        cand_edges.unionByName(dc).unionByName(refl_cand).dropDuplicates(),
        eager=True,
    )
    subj_f = f0_raw.select("s").distinct()
    obj_f = f0_raw.select(F.col("o").alias("s")).distinct()
    fillers = restr_new.select(F.col("c").alias("s")).distinct()
    restr_ids = restr_new.select(F.col("a").alias("s")).distinct()
    ta_cls_keys = (
        pruned_delta.where(F.col("predicate") == "rdf:type")
        .select(F.col("object").alias("s"))
        .unionByName(new_cls_only.select(F.col("id").alias("s")))
        .distinct()
    )
    union_nodes = (
        union_membership.select(F.col("bn").alias("s"))
        .unionByName(union_membership.select(F.col("member").alias("s")))
        .distinct()
    )
    # suffix keys: nodes that can appear as the SUBJECT of a frontier
    # pair — delta-edge subjects plus union bnodes (the elimination
    # rule derives (bn, c) pairs whose old descendants then inherit).
    # All key frames stay LAZY: they are tiny distinct-unions over cut
    # parents, and re-evaluating them inside a broadcast is cheaper
    # than a checkpoint action each.
    suffix_keys = subj_f.unionByName(union_nodes).distinct()
    k_s = (
        subj_f.unionByName(obj_f).unionByName(fillers)
        .unionByName(restr_ids).unionByName(ta_cls_keys)
        .unionByName(union_nodes)
        .distinct()
    )
    k_o = suffix_keys.unionByName(restr_ids).distinct()
    n_keys = k_s.count() + k_o.count()
    bc = (
        (lambda d: F.broadcast(d)) if n_keys <= _CONE_KEY_CAP else (lambda d: d)
    )
    r_cone = _statscut(
        state.rtc
        .join(bc(k_s.withColumn("_fs", F.lit(True))), "s", "left")
        .join(
            bc(
                k_o.select(F.col("s").alias("o"))
                .withColumn("_fo", F.lit(True))
            ),
            "o",
            "left",
        )
        .where(F.col("_fs").isNotNull() | F.col("_fo").isNotNull())
        .select("s", "o"),
        eager=True,
    )
    # conditional second scan: anti coverage for derived pairs whose
    # subject is an old DESCENDANT of a reorganized old subject (empty
    # for pure source grafts — new subjects have no old descendants)
    r_suf_subjects = _statscut(
        r_cone.join(
            bc(suffix_keys.select(F.col("s").alias("o"))), "o", "left_semi"
        )
        .select("s")
        .distinct(),
        eager=True,
    )
    n_wsubs = r_suf_subjects.count()
    base_known = r_cone
    if n_wsubs:
        bc2 = (
            (lambda d: F.broadcast(d))
            if n_wsubs <= _CONE_KEY_CAP
            else (lambda d: d)
        )
        scan2 = state.rtc.join(bc2(r_suf_subjects), "s", "left_semi")
        base_known = _statscut(
            r_cone.unionByName(scan2).dropDuplicates(), eager=True
        )

    # ---- incremental subclass closure ⊕ union elimination ------------
    f0 = _statscut(f0_raw.join(base_known, ["s", "o"], "left_anti"), eager=True)
    known = base_known.unionByName(f0)
    news: list[DataFrame] = [f0]
    union_sub_news: list[DataFrame] = []
    frontier = f0
    n_frontier = f0.count()
    # bytes-aware broadcast cap: the dc-seeded frontier routinely tops
    # the 200k default-row cap while its payload is a few tens of MB
    fb = f0.select(
        F.sum(F.length("s") + F.length("o")).alias("b")
    ).collect()[0]["b"] or 0
    bcast_rows = (n_frontier + 1) if fb <= (48 << 20) else 200_000
    has_unions = union_membership.limit(1).count() > 0
    if has_unions:
        membership_b = F.broadcast(union_membership)
        member_refl = union_membership.select(
            F.col("member").alias("s"), F.col("member").alias("o")
        ).dropDuplicates()
        card = F.broadcast(
            union_membership.groupBy("bn").agg(
                F.countDistinct("member").alias("k")
            )
        )
    for _rnd in range(_OUTER_ROUNDS):
        if n_frontier > 0:
            _, new = _seminaive_closure(
                known, frontier, keyed=False, keep_self=False,
                max_rounds=20, both_sides=True, return_new=True,
                consolidate="new", op="entail_delta.subclass_tc",
                anti_prefilter=True, n_delta_input=n_frontier,
                broadcast_rows=bcast_rows,
            )
            if new is not None:
                news.append(new)
                known = known.unionByName(new)
        if not has_unions:
            break
        u_new = _statscut(
            _union_derived(known, membership_b, member_refl, card)
            .dropDuplicates()
            .join(known, ["s", "o"], "left_anti"),
            eager=True,
        )
        n_frontier = u_new.count()
        if n_frontier == 0:
            break
        union_sub_news.append(u_new)
        news.append(u_new)
        known = known.unionByName(u_new)
        frontier = u_new
    else:
        raise RuntimeError(
            f"entail_delta: subclass/union fixpoint did not converge "
            f"in {_OUTER_ROUNDS} rounds"
        )
    delta_r = news[0]
    for f in news[1:]:
        delta_r = delta_r.unionByName(f)
    delta_r = _statscut(delta_r.dropDuplicates(), eager=True)
    n_dr = delta_r.count()
    rtc_new = state.rtc.unionByName(delta_r)

    # ---- base existential link delta ---------------------------------
    # semi-naive over the three-premise compose rtc ∘ restr ∘ rtc
    # (rectangle decomposition: the delta takes each premise slot once,
    # slots left of it read the OLD relation, slots right the NEW).
    # The rtc premises read the cone slices — filler-keyed rows for the
    # object-ascent slot, restriction-holder rows for the subject-
    # descent slot — never the corpus-sized closure.
    rtc_fill = base_known.join(bc(fillers), "s", "left_semi").unionByName(
        delta_r.join(bc(fillers), "s", "left_semi")
    )
    holders_old = base_known.join(
        bc(restr_ids.select(F.col("s").alias("o"))), "o", "left_semi"
    )
    restr_d = _statscut(
        restr_new.join(state.restr, ["a", "prop", "c"], "left_anti"),
        eager=True,
    )
    n_restr_d = restr_d.count()
    base_parts: list[DataFrame] = []
    if n_dr:
        dr_b = _maybe_broadcast(delta_r, n_dr)
        base_parts.append(  # new prefix · any restr · new suffix
            dr_b.select(F.col("s").alias("x"), F.col("o").alias("a"))
            .join(F.broadcast(restr_new), "a")
            .select("x", "prop", "c")
            .dropDuplicates()
            .join(rtc_fill.select(F.col("s").alias("c"), F.col("o").alias("d")), "c")
            .select(F.col("x").alias("s"), F.col("prop").alias("p"), F.col("d").alias("o"))
        )
        # old prefix · old restr · new suffix: bind delta + restr first
        mid3 = (
            dr_b.select(F.col("s").alias("c"), F.col("o").alias("d"))
            .join(F.broadcast(state.restr), "c")
            .select("a", "prop", "d")
            .dropDuplicates()
        )
        mid3 = _statscut(mid3, eager=True)
        base_parts.append(
            holders_old.select(F.col("s").alias("x"), F.col("o").alias("a"))
            .join(_maybe_broadcast(mid3, mid3.count()), "a")
            .select(F.col("x").alias("s"), F.col("prop").alias("p"), F.col("d").alias("o"))
        )
    if n_restr_d:  # old prefix · NEW restr · new suffix
        base_parts.append(
            holders_old.select(F.col("s").alias("x"), F.col("o").alias("a"))
            .join(F.broadcast(restr_d), "a")
            .select("x", "prop", "c")
            .dropDuplicates()
            .join(rtc_fill.select(F.col("s").alias("c"), F.col("o").alias("d")), "c")
            .select(F.col("x").alias("s"), F.col("prop").alias("p"), F.col("d").alias("o"))
        )
    seed_parts: list[DataFrame] = []
    if base_parts:
        base_d = base_parts[0]
        for p in base_parts[1:]:
            base_d = base_d.unionByName(p)
        seed_parts.append(
            _anti_vs_big(
                _statscut(base_d.dropDuplicates(), eager=True),
                state.links,
                ["s", "p", "o"],
                "s",
            )
        )

    # ---- schema-delta seeds: old links under NEW rules ---------------
    pairs_old = {(p, q) for p, qs in hierarchy_old.items() for q in qs if q != p}
    pairs_new = {(p, q) for p, qs in hierarchy.items() for q in qs if q != p}
    grown_pairs = sorted(pairs_new - pairs_old)
    if grown_pairs:
        hp = F.broadcast(spark.createDataFrame(grown_pairs, ["p", "q"]))
        seed_parts.append(
            state.links.join(hp, "p").select("s", F.col("q").alias("p"), "o")
        )
    for t in sorted(set(transitive) - set(transitive_old)):
        slice_t = state.links.where(F.col("p") == t)
        seed_parts.append(  # one compose; the warm-start fixpoint closes it
            slice_t.alias("a")
            .join(slice_t.alias("b"), F.col("a.o") == F.col("b.s"))
            .select(F.col("a.s").alias("s"), F.lit(t).alias("p"), F.col("b.o").alias("o"))
        )
    new_chains = [c for c in chains if c not in set(chains_old)]
    if new_chains:
        chain_df = F.broadcast(spark.createDataFrame(new_chains, ["p1", "p2", "r"]))
        seed_parts.append(
            _chain_compose(
                chain_df,
                {c[0] for c in new_chains},
                {c[1] for c in new_chains},
                state.links,
                state.links,
                scratch=True,
            )
        )

    # ---- property fixpoint warm start --------------------------------
    if seed_parts:
        seed = seed_parts[0]
        for p in seed_parts[1:]:
            seed = seed.unionByName(p)
        seed = _statscut(
            _anti_vs_big(
                _statscut(seed.dropDuplicates(), eager=True),
                state.links,
                ["s", "p", "o"],
                "s",
            ),
            eager=True,
        )
        n_seed = seed.count()
    else:
        seed, n_seed = None, 0
    if n_seed == 0:
        links_new = state.links
        links_d = seed if seed is not None else state.links.limit(0)
    else:
        links_new, links_d = _generic_property_fixpoint(
            spark, state.links, transitive, chains,
            [(p, q) for p, qs in hierarchy.items() for q in qs if q != p],
            seed_delta=seed, return_new=True,
        )
        links_d = _statscut(links_d, eager=True)

    # ---- individual typing delta -------------------------------------
    ta_delta_raw = (
        pruned_delta.where(
            (F.col("predicate") == "rdf:type") & ~F.col("subject").startswith("_:")
        )
        .select(F.col("subject").alias("ind"), F.col("object").alias("cls"))
        .join(class_nodes_new.select(F.col("id").alias("cls")), "cls", "left_semi")
        .unionByName(  # old asserts whose object only now became a class
            state.pruned.where(
                (F.col("predicate") == "rdf:type")
                & ~F.col("subject").startswith("_:")
            )
            .select(F.col("subject").alias("ind"), F.col("object").alias("cls"))
            .join(new_cls_only.select(F.col("id").alias("cls")), "cls", "left_semi")
        )
    )
    ta_delta = _statscut(
        _anti_vs_big(
            _statscut(ta_delta_raw.dropDuplicates(), eager=True),
            state.type_asserts,
            ["ind", "cls"],
            "ind",
        ),
        eager=True,
    )
    ta_new = state.type_asserts.unionByName(ta_delta)
    rtc_cls = base_known.join(bc(ta_cls_keys), "s", "left_semi").unionByName(
        delta_r.join(bc(ta_cls_keys), "s", "left_semi")
    )
    ind_d = (
        ta_delta.join(rtc_cls.select(F.col("s").alias("cls"), "o"), "cls")
        .select(
            F.col("ind").alias("subject"),
            F.lit("rdf:type").alias("predicate"),
            F.col("o").alias("object"),
        )
        .unionByName(
            state.type_asserts.join(
                delta_r.select(F.col("s").alias("cls"), "o"), "cls"
            ).select(
                F.col("ind").alias("subject"),
                F.lit("rdf:type").alias("predicate"),
                F.col("o").alias("object"),
            )
        )
    )

    # ---- output delta ------------------------------------------------
    named = ~F.col("s").startswith("_:") & ~F.col("o").startswith("_:")
    cls_flag = class_nodes_new.select(
        F.col("id").alias("s"), F.lit(True).alias("_cls")
    )
    sub_rows = delta_r.where(named).unionByName(
        # reflexive rows of PRE-EXISTING nodes that only now became
        # declared classes (their (x, x) predates this delta; the cone
        # scan keyed new-class ids, so the slice has the rows)
        base_known.where(F.col("s") == F.col("o")).join(
            new_cls_only.select(F.col("id").alias("s")), "s", "left_semi"
        )
    )
    sub_out_d = (
        sub_rows.join(cls_flag, "s", "left")
        .where((F.col("s") != F.col("o")) | F.col("_cls").isNotNull())
        .select(
            F.col("s").alias("subject"),
            F.lit("rdfs:subClassOf").alias("predicate"),
            F.col("o").alias("object"),
        )
    )
    prop_out_d = links_d.where(~F.col("p").startswith("_:step_")).select(
        F.col("s").alias("subject"),
        F.col("p").alias("predicate"),
        F.col("o").alias("object"),
    )
    # Only the INDIVIDUAL rows can collide with old output: a new
    # (ind, cls) assert re-derives ancestors the individual already
    # had through another class. The sub/prop families are new by
    # construction — delta_r pairs are not in old rtc and links_d
    # triples are not in old links, and their projections are the
    # identity (assuming no ontology names a property "rdf:type" /
    # "rdfs:subClassOf", which prune_for_closure's vocabulary already
    # treats as reserved). Anti-joining the whole out_d against the
    # corpus-sized edge table would add a full scan per delta.
    ind_d = _anti_vs_big(
        _statscut(ind_d.dropDuplicates(), eager=True),
        state.edges.where(F.col("predicate") == "rdf:type"),
        _SPO,
        "subject",
    )
    out_d = _statscut(
        sub_out_d.unionByName(prop_out_d)
        .unionByName(ind_d)
        .where(
            ~F.col("subject").startswith("_:")
            & ~F.col("object").startswith("_:")
            & ~F.col("subject").isin("owl:Nothing", "owl:Thing")
            & ~F.col("object").isin("owl:Nothing", "owl:Thing")
        )
        .dropDuplicates(),
        eager=True,
    )
    # plain unions, no re-checkpoint: every parent is already a cut
    # frame, so the new state frames are one-union-deep lineage over
    # materialized blocks — re-cutting here would copy the FULL corpus
    # (edges/pruned/sub) through the block manager on every delta.
    # save()/load() resets the lineage for long delta chains.
    edges_new = state.edges.unionByName(out_d)

    sub_new = state.sub.unionByName(static_d)
    for u in union_sub_news:
        sub_new = sub_new.unionByName(u)
    new_state = EntailState(
        pruned=pruned_union,
        schema_rows=schema_rows,
        sub=sub_new,
        rtc=rtc_new,
        restr=restr_new,
        links=links_new,
        type_asserts=ta_new,
        edges=edges_new,
        class_nodes=class_nodes_new,
        union_membership=union_membership,
        schema=(hierarchy, transitive, chains),
    )
    return edges_new, new_state

