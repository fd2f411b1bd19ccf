"""M7a — entailment closure: the Spark re-expression of relation-graph
(Scala, reference Dockerfile:55-61; flags captured at
notebooks/workflow.ipynb:1631-1641):

  --reflexive-subclasses true   -> reflexive rows for every class node
  --equivalence-as-subclass true-> handled upstream by canonicalization
  --disable-owl-nothing true    -> owl:Nothing filtered before closure
  + transitive closure of rdfs:subClassOf
  + existential property entailment: a ⊑ ∃p.c, x ⊑ a, c ⊑ d ⟹ (x,p,d)
  + property-level EL rules (the edges that dominate the reference's
    golden entailed_edge — BFO:0000050 / RO:0002131, SURVEY §1.1.3):
      SubRole  (x,p,y), p ⊑* q              ⟹ (x,q,y)
      Trans    q owl:TransitiveProperty     ⟹ R_q transitively closed
      Chain    p1 o p2 ⊑ r: (x,p1,y),(y,p2,z) ⟹ (x,r,z)

Algorithm: path-doubling transitive closure — O(log diameter) joins
instead of O(diameter):

    C_0 = E;  C_{k+1} = C_k ∪ (C_k ⋈ C_k)  until fixpoint

Each round: one self-join on the frontier, distinct, localCheckpoint to
cut lineage. At web scale the closure runs over the CANONICAL DAG only
(canonicalize first — SURVEY.md §7.4 risk 2), and the join key (mid
node) is skew-prone at hub classes, so AQE skew-join stays on and the
closure table is repartitioned by the join key each round.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import route
from ..plans.loop_tuning import ShufflePartitionTuner
from ..plans.stats_cut import cut as _statscut
from ..plans.stratify import build_schedule, may_fire, merge_strata

# per-phase wall clocks of the LAST entail()/property_closure() run —
# cleared at entail() entry, attached to the pipeline's checkpoint
# manifest (plans/pipeline.py m7_edges metrics) so a cluster operator
# gets the phase breakdown without any env flag.
_PHASE_WALLS: dict[str, float] = {}

# frontier rows up to which a flat property-closure round broadcasts
# its key slices (2M short keys stay inside the broadcast budget)
_BROADCAST_KEY_CAP = 2_000_000
# premise-feed rows above which a property stratum runs alone through
# its specialized evaluator instead of joining a fused batch
_BATCH_THRESHOLD = 1_000_000
# subclass-closure / union-elimination alternations before a union
# fixpoint is declared divergent (both regimes)
_UNION_ROUNDS = 5


def phase_walls() -> dict[str, float]:
    """Copy of the last closure run's per-phase wall seconds."""
    return dict(_PHASE_WALLS)


LOGIC_PREDICATES = (
    "rdfs:subClassOf",
    "owl:equivalentClass",
    "owl:onProperty",
    "owl:someValuesFrom",
    "rdf:type",
    # property-level schema (relation-graph OWL EL semantics):
    "rdfs:subPropertyOf",
    "owl:propertyChainAxiom",
    "rdfs:domain",
    "rdf:first",
    "rdf:rest",
    # anonymous class expressions (EL conjunction/union normalization):
    "owl:intersectionOf",
    "owl:unionOf",
)


def prune_for_closure(statements: DataFrame) -> DataFrame:
    """Pre-closure semantic prune — the Spark analog of
    ``robot remove --axioms "equivalent disjoint annotation abox type"``
    before relation-graph (reference workflow.ipynb:1626-1627) and
    ``robot remove --term owl:Nothing`` (merge_ontologies.py:108-111).
    Shrinks the closure working set by orders of magnitude: annotation
    statements never participate in entailment."""
    return statements.where(
        F.col("predicate").isin(*LOGIC_PREDICATES)
        & (F.col("subject") != "owl:Nothing")
        & (F.coalesce(F.col("object"), F.lit("")) != "owl:Nothing")
    )


def _frame(spark, rows, names) -> DataFrame:
    """Driver-computed rows as a frame of nullable string columns
    `names`, sorted (nulls first) so re-runs write identical files."""
    schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
    return route.upload(
        spark,
        sorted(rows, key=lambda r: tuple((x is not None, x or "") for x in r)),
        schema,
    )


def _local_closure(rows: list[tuple], pair_cap: int) -> list[tuple] | None:
    """Driver-side BFS closure over collected (key, s, o) edges; returns
    None when the closure exceeds pair_cap (dense graph -> the caller
    falls back to the distributed loop). Used for contracted/tail
    inputs where iterative Spark rounds are pure scheduler latency.
    Strict: (s, s) pairs reachable through cycles are dropped."""
    adj: dict = {}
    for k, s, o in rows:
        adj.setdefault(k, {}).setdefault(s, set()).add(o)
    out: list[tuple] = []
    for k, g in adj.items():
        for s in g:
            seen: set = set()
            stack = list(g[s])
            while stack:
                x = stack.pop()
                if x in seen:
                    continue
                seen.add(x)
                stack.extend(g.get(x, ()))
            seen.discard(s)
            out.extend((k, s, o) for o in seen)
            if len(out) > pair_cap:
                return None
    return out


def _seminaive_closure(
    c: DataFrame,
    delta: DataFrame,
    keyed: bool,
    keep_self: bool,
    max_rounds: int,
    both_sides: bool = False,
    op: str = "transitive_closure",
    return_new: bool = False,
    consolidate: bool | str = False,
    n_input: int | None = None,
    anti_prefilter: bool = False,
    n_delta_input: int | None = None,
    broadcast_rows: int = 200_000,
):
    """Semi-naive (frontier) transitive-closure rounds: each round joins
    only the FRONTIER (pairs first discovered last round) against the
    accumulated closure, never closure ⋈ closure — per-round shuffle is
    |Δ| + |C| and the hop output carries only frontier compositions
    instead of re-deriving every known pair every round (the round-2
    plan re-joined the full closure each round; its hop output grew with
    |C|·avg_degree and produced a measured one-task straggler on the
    reference corpus).

    Doubling depth is preserved: the frontier at round k holds exactly
    the pairs at shortest-distance 2^k (anything nearer was discovered
    earlier), and composing them with all known pairs (distance ≤ 2^k)
    reaches every distance ≤ 2^(k+1) — split a shortest path at offset
    2^k from the start: the prefix is frontier, the suffix is known. So
    max_rounds=20 still covers diameter 2^20.

    both_sides=True additionally composes closure ⋈ frontier — required
    when resuming from an already-closed set plus new edges (incremental
    extension), where the new pair may be the SUFFIX of the shortest
    path; from-scratch callers (c == delta) use the one-sided form.

    Preconditions: c is deduplicated, delta ⊆ c, and c is closed except
    for derivations involving delta. One Spark action per round (the
    frontier count, which also materializes the lazy checkpoints).

    return_new=True additionally returns the union of all frontiers
    (exactly the pairs in the result but not in the input c) — callers
    embedding this closure in an outer fixpoint consume ONLY the new
    pairs, so closure-sized frames never flow through the outer loop's
    dedup/expand/anti-join stages.

    anti_prefilter=True switches to the INCREMENTAL-extension cost
    model (delta ≪ c, e.g. entail_delta grafting a small source into a
    saturated closure): the per-round anti-join first prunes c by a
    broadcast semi-join on the hop output's key set, so the closure is
    only ever SCANNED (no shuffle of |C| per round), and the
    accumulated c grows by plain unions instead of per-round lazy
    re-checkpoints (which would copy the whole closure through the
    block manager every round). Identical result set — only the
    physical plan changes. Leave False for from-scratch closures,
    where the hop output is closure-sized and the broadcast would
    blow up."""
    cols = (["p"] if keyed else []) + ["s", "o"]

    def hop_join(left: DataFrame, right: DataFrame) -> DataFrame:
        cond = F.col("a.o") == F.col("b.s")
        if keyed:
            cond = cond & (F.col("a.p") == F.col("b.p"))
        return left.alias("a").join(right.alias("b"), cond).select(
            *([F.col("a.p").alias("p")] if keyed else []),
            F.col("a.s").alias("s"),
            F.col("b.o").alias("o"),
        )

    news: list[DataFrame] = []
    owned: list[DataFrame] = []  # checkpoints created here — bounded cache
    # prior round's frontier count; callers that already counted their
    # initial frontier pass it so round 0 gets the broadcast-hint path
    n_delta: int | None = n_delta_input
    # n_input (when the caller knows it) sizes per-round shuffles to
    # the relation, not the session default — see plans/loop_tuning.py
    n_c = n_input
    tuner = ShufflePartitionTuner(c.sparkSession)
    try:
        return _seminaive_rounds(
            c, delta, keyed, keep_self, max_rounds, both_sides, op,
            return_new, consolidate, cols, hop_join,
            news, owned, n_delta, n_c, tuner, anti_prefilter,
            broadcast_rows,
        )
    finally:
        tuner.restore()


def _seminaive_rounds(
    c, delta, keyed, keep_self, max_rounds, both_sides, op,
    return_new, consolidate, cols, hop_join,
    news, owned, n_delta, n_c, tuner, anti_prefilter=False,
    broadcast_rows=200_000,
):
    for _ in range(max_rounds):
        tuner.tune(n_c)
        # the stats-reset cuts (see plans/stats_cut.py) leave every loop
        # frame at defaultSizeInBytes, so Catalyst never auto-broadcasts
        # the frontier — but the DRIVER knows the frontier's exact row
        # count from last round's action. Hinting broadcast for small
        # frontiers skips the map-side shuffle of the (much larger)
        # accumulated closure entirely; AQE would only downgrade the
        # reduce-side fetch after both map stages already ran.
        # 200k rows of ~200-byte triples ≈ 40 MB — inside the
        # session's 64 MB broadcast budget with headroom for long IRIs
        d_side = (
            F.broadcast(delta)
            if n_delta is not None and n_delta <= broadcast_rows
            else delta
        )
        hop = hop_join(d_side, c)
        if both_sides:
            hop = hop.unionByName(hop_join(c, d_side))
        if not keep_self:
            hop = hop.where(F.col("s") != F.col("o"))
        if anti_prefilter:
            # incremental mode: materialize the (cone-sized) hop once,
            # prune c to the hop's key slice via broadcast semi, and
            # anti-join cone-vs-slice — c is scanned, never shuffled
            hop_m = _statscut(hop.dropDuplicates(), eager=True)
            key_cols = (["p"] if keyed else []) + ["s"]
            c_slice = c.join(
                F.broadcast(hop_m.select(*key_cols).distinct()),
                key_cols,
                "left_semi",
            )
            delta = _statscut(hop_m.join(c_slice, cols, "left_anti"))
            owned.append(hop_m)
        else:
            delta = _statscut(
                hop.dropDuplicates().join(c, cols, "left_anti")
            )
        n_delta = delta.count()
        if n_c is not None:
            n_c += n_delta
        if n_delta == 0:
            out_new = None
            if return_new:
                out_new = news[0] if news else c.limit(0)
                for d in news[1:]:
                    out_new = out_new.unionByName(d)
            if not (consolidate and owned):
                return (c, out_new) if return_new else c
            # consolidate (calls embedded in an OUTER fixpoint): fold
            # the result into ONE checkpoint and release the per-round
            # copies — an outer loop that accumulates every inner
            # round's checkpoint grows the storage pool past eviction
            # and later rounds pay recompute/spill-reread of the whole
            # chain. Standalone calls skip the extra copy.
            # consolidate="new": the caller consumes ONLY the new
            # frames (property_closure's incremental TC extension) —
            # skip the full-closure copy, which would eagerly
            # materialize a block-manager duplicate of the accumulated
            # keyed closure every outer round just to be garbage.
            if out_new is not None:
                out_new = _statscut(out_new, eager=True)
            out_c = None
            if consolidate != "new":
                out_c = _statscut(c, eager=True)
            for f in owned:
                try:
                    f.unpersist()
                except Exception:
                    pass
            return (out_c, out_new) if return_new else out_c
        # disjoint by construction (anti-join) — no dedup needed here
        if anti_prefilter:
            # plain union: c's parents are cut frames, re-cutting the
            # union would copy the whole closure per round
            c = c.unionByName(delta)
            owned.append(delta)
        else:
            c = _statscut(c.unionByName(delta))
            owned += [delta, c]
        news.append(delta)
    raise RuntimeError(f"{op}: no fixpoint in {max_rounds} frontier rounds")


def transitive_closure(
    edges: DataFrame, local_threshold: int | None = None
) -> DataFrame:
    """All (s, o) pairs of edges(s, o) with a directed path s ->+ o
    (non-reflexive). Semi-naive frontier doubling: 20 rounds cover
    diameter 2^20.

    Hybrid (_hybrid_closure): edge sets under local_threshold (None:
    its plans/route.py key) are closed with one driver-side BFS; 0
    forces the semi-naive frontier rounds."""
    return _hybrid_closure(
        edges.select("s", "o"),
        route.threshold(edges, route.TRANSITIVE_CLOSURE, local_threshold),
        "transitive_closure",
    )


def _hybrid_closure(edges: DataFrame, local_threshold: int, op: str) -> DataFrame:
    """Strict closure of edges (s, o), or (p, s, o) closed per key p:
    one driver-side BFS when the deduplicated edges fit
    route.capped_collect's local_threshold and the closure its 5M pair
    cap, the semi-naive frontier rounds otherwise."""
    keyed = "p" in edges.columns
    c = _statscut(edges.where(F.col("s") != F.col("o")).dropDuplicates())
    got = route.capped_collect([c], local_threshold)
    if got is not None:
        rows = got[0] if keyed else [("_", s, o) for s, o in got[0]]
        closed = _local_closure(rows, 5_000_000)
        if closed is not None:
            return route.upload(
                c.sparkSession,
                closed if keyed else [(s, o) for _k, s, o in closed],
                c.schema,
            )
    # the loop's shuffle sizing: a count only on the over-cap path, none
    # when the caller forced the loop
    n_c = (len(got[0]) if got else c.count()) if local_threshold else None
    return _seminaive_closure(
        c, c, keyed=keyed, keep_self=False, max_rounds=20, op=op, n_input=n_c,
    )


def rdf_list_members(pruned: DataFrame) -> DataFrame:
    """(head, member) for every rdf list cell reachable from `head` —
    list spine reachability is a transitive closure over rdf:rest
    (dictionary-scale: list cells come from class-definition axioms,
    so the hybrid driver-BFS tail usually handles it)."""
    first = pruned.where(F.col("predicate") == "rdf:first").select(
        F.col("subject").alias("cell"), F.col("object").alias("member")
    )
    rest = pruned.where(F.col("predicate") == "rdf:rest").select(
        F.col("subject").alias("s"), F.col("object").alias("o")
    )
    reach = transitive_closure(rest).select(
        F.col("s").alias("head"), F.col("o").alias("cell")
    )
    refl = first.select(F.col("cell").alias("head"), F.col("cell").alias("cell"))
    spine = reach.unionByName(refl).dropDuplicates()
    return spine.join(first, "cell").select("head", "member").dropDuplicates()


def expression_edges(pruned: DataFrame) -> tuple[DataFrame, DataFrame]:
    """EL normalization of anonymous class expressions into plain graph
    edges over expression NODES (the blank nodes act as fresh atomic
    classes, ELK-style — they participate in the saturation and are
    stripped from the output):

      bn owl:intersectionOf (m1 .. mk)  ->  bn ⊑ mi   (conjunction-right)
      bn owl:unionOf (m1 .. mk)         ->  mi ⊑ bn   (disjunction intro)

    Returns (expr_sub_edges(s, o), union_membership(bn, member))."""
    members = rdf_list_members(pruned)
    inter = pruned.where(F.col("predicate") == "owl:intersectionOf").select(
        F.col("subject").alias("bn"), F.col("object").alias("head")
    )
    union = pruned.where(F.col("predicate") == "owl:unionOf").select(
        F.col("subject").alias("bn"), F.col("object").alias("head")
    )
    inter_edges = inter.join(members, "head").select(
        F.col("bn").alias("s"), F.col("member").alias("o")
    )
    union_membership = union.join(members, "head").select("bn", "member").dropDuplicates()
    union_edges = union_membership.select(
        F.col("member").alias("s"), F.col("bn").alias("o")
    )
    return inter_edges.unionByName(union_edges).dropDuplicates(), union_membership


def _local_union_elimination(edges: set, members: dict) -> tuple[set, set]:
    """Driver-side union-right elimination fixpoint: same semantics as
    the distributed loop below (a union node gains the COMMON
    reflexive-transitive supers of its members), over Python sets.
    Returns (augmented edge set, its strict transitive closure)."""
    for _ in range(_UNION_ROUNDS):
        # cap sized like transitive_closure's (5M at a 100k threshold):
        # 10M pairs at the 200k-edge routing threshold keeps the driver
        # reach index under ~1 GB before falling back to distributed
        closed = _local_closure([("_", s, o) for s, o in edges], 10_000_000)
        if closed is None:  # pathologically dense — caller falls back
            return None, None
        reach: dict = {}
        for _k, s, o in closed:
            reach.setdefault(s, set()).add(o)
        derived = set()
        for bn, ms in members.items():
            common = None
            for m in ms:
                r = reach.get(m, set()) | {m}
                common = r if common is None else (common & r)
                if not common:
                    break
            for c in common or ():
                if c != bn and (bn, c) not in edges:
                    derived.add((bn, c))
        if not derived:
            return edges, {(s, o) for _k, s, o in closed}
        edges = edges | derived
    raise RuntimeError(
        f"union_eliminated_subclass: no fixpoint in {_UNION_ROUNDS} rounds"
    )


def union_eliminated_subclass(
    sub: DataFrame, union_membership: DataFrame,
    local_threshold: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Interleave subclass closure with union-right elimination:
    (m1 ∪ .. ∪ mk) ⊑ c  iff  every mi ⊑* c — the union node inherits
    the COMMON reflexive-transitive supers of its members. Iterates
    because derived union supers can feed other unions' members.

    Returns (augmented sub, its strict transitive closure). The loop
    maintains the full closure anyway, so handing it to the caller
    saves entail() an entire re-closure of the augmented edge set
    (measured 3.8 s on the reference corpus).

    Hybrid like the other closure operators: when sub and the membership
    each fit local_threshold (None: its plans/route.py key), the
    identical fixpoint runs driver-side, where the distributed loop
    costs ~15 Spark actions of scheduler latency; 0 forces the loop."""
    local_threshold = route.threshold(sub, route.UNION_ELIMINATION, local_threshold)
    got = route.capped_collect([sub, union_membership], local_threshold)
    if got is not None:
        mem: dict = {}
        for bn, m in got[1]:
            mem.setdefault(bn, set()).add(m)
        out_edges, out_tc = _local_union_elimination(set(got[0]), mem)
        if out_edges is not None:
            spark = sub.sparkSession
            return (
                route.upload(spark, sorted(out_edges), sub.schema),
                route.upload(spark, sorted(out_tc), sub.schema),
            )
    n_prev = len(got[0]) if got is not None else sub.count()
    card = F.broadcast(
        union_membership.groupBy("bn").agg(F.countDistinct("member").alias("k"))
    )
    tc = transitive_closure(sub)  # full closure once; extended below
    # the member identity rows are the REFLEXIVE complement of the
    # strict closure — disjoint from tc by construction (tc has no
    # (x, x) rows), so plain union, no dedup shuffle; built once, the
    # membership table is static across rounds
    member_refl = union_membership.select(
        F.col("member").alias("s"), F.col("member").alias("o")
    ).dropDuplicates()
    # membership is dictionary-scale (one row per union member); the
    # broadcast hint keeps the join from shuffling the closure side
    # (the cut frames' reset size estimates would otherwise force SMJ)
    member_b = F.broadcast(union_membership)
    for _ in range(_UNION_ROUNDS):
        rtc = tc.unionByName(member_refl)
        common = (
            member_b.join(rtc, F.col("member") == F.col("s"))
            .select("bn", "member", F.col("o").alias("c"))
            .where(F.col("bn") != F.col("c"))
            .groupBy("bn", "c")
            .agg(F.countDistinct("member").alias("n"))
        )
        derived = (
            common.join(card, "bn")
            .where(F.col("n") == F.col("k"))
            .select(F.col("bn").alias("s"), F.col("c").alias("o"))
        )
        sub = _statscut(sub.unionByName(derived).dropDuplicates())
        n_new = sub.count()
        if n_new == n_prev:
            return sub, tc
        n_prev = n_new
        # extend the closure incrementally with the genuinely-new
        # edges (semi-naive frontier, both split sides) instead of
        # re-running a full transitive closure per outer round
        delta = _statscut(
            derived.where(F.col("s") != F.col("o"))
            .dropDuplicates()
            .join(tc, ["s", "o"], "left_anti")
        )
        tc = _seminaive_closure(
            _statscut(tc.unionByName(delta)),
            delta,
            keyed=False,
            keep_self=False,
            max_rounds=20,
            both_sides=True,
            op="union_eliminated_subclass.tc",
            consolidate=True,
        )
    # mirror the driver path (_local_union_elimination) and
    # _seminaive_closure: a non-fixpoint must fail loudly in BOTH
    # regimes, never silently return an under-derived edge set
    raise RuntimeError(
        f"union_eliminated_subclass: no fixpoint in {_UNION_ROUNDS} rounds"
    )


def restriction_axioms(pruned: DataFrame) -> DataFrame:
    """Reassemble someValuesFrom restrictions from their blank-node
    reification (reference census: 6,093 someValuesFrom + 6,127
    onProperty statements): (a, prop, c) for a ⊑ ∃prop.c."""
    sub_bn = pruned.where(
        (F.col("predicate") == "rdfs:subClassOf") & F.col("object").startswith("_:")
    ).select(F.col("subject").alias("a"), F.col("object").alias("bn"))
    on_prop = pruned.where(F.col("predicate") == "owl:onProperty").select(
        F.col("subject").alias("bn"), F.col("object").alias("prop")
    )
    some_from = pruned.where(F.col("predicate") == "owl:someValuesFrom").select(
        F.col("subject").alias("bn"), F.col("object").alias("c")
    )
    return sub_bn.join(on_prop, "bn").join(some_from, "bn").select("a", "prop", "c")


def keyed_transitive_closure(
    edges: DataFrame, local_threshold: int = 20_000
) -> DataFrame:
    """Per-key path-doubling transitive closure of edges(p, s, o):
    within every key group (one group per transitive property), all
    strict (s, o) with a path s ->+ o. One DataFrame loop closes EVERY
    transitive property simultaneously — the join key is (key, mid
    node), so hub middle nodes of one property don't serialize the
    others, and AQE's skew-join splits hot (p, mid) keys at scale.
    Hybrid like transitive_closure; 0 forces the distributed loop.
    No shuffle_hash hint in the frontier join: hub
    (p, mid) keys are REAL in ontology property graphs and AQE's skew
    splitting only applies to sort-merge joins — the hint produced a
    measured one-task straggler (>10 min) on the reference corpus."""
    return _hybrid_closure(
        edges.select("p", "s", "o"), local_threshold, "keyed_transitive_closure"
    )


def property_schema(pruned: DataFrame) -> tuple[dict[str, set[str]], set[str], list[tuple[str, str, str]]]:
    """Collect the property-level schema to the driver:

      hierarchy: p -> all super-properties (reflexive-transitive
                 rdfs:subPropertyOf closure)
      transitive: property ids declared owl:TransitiveProperty
      chains: (p1, p2, r) rows for r owl:propertyChainAxiom (p1 p2)

    The property schema of any ontology set is dictionary-sized (OBO
    reality: hundreds of RO/BFO properties — reference golden output is
    dominated by just three), so driver-side closure + broadcast back is
    the mandated dictionary pattern, same as the alias table. Chains of
    length > 2 are decomposed into binary steps via synthetic
    intermediate properties (standard EL normalization).

    rdf:first / rdf:rest rows also reify every intersectionOf/unionOf
    class-expression list (corpus-proportional in real OBO sets), so the
    collect is restricted to list cells REACHABLE FROM A CHAIN HEAD: the
    chain-bnode spine is walked distributed (frontier ⨝ rest per step,
    chain lists are short) and first/rest rows are semi-joined on it
    before collecting — only the chain axioms' own cells ever reach the
    driver."""
    # chain heads + subPropertyOf + TransitiveProperty are all
    # dictionary-sized — one collect
    schema_rows = (
        pruned.where(
            F.col("predicate").isin("rdfs:subPropertyOf", "owl:propertyChainAxiom")
            | (
                (F.col("predicate") == "rdf:type")
                & (F.col("object") == "owl:TransitiveProperty")
            )
        )
        .select("subject", "predicate", "object")
        .collect()
    )
    # walk the chain rdf-list spine distributed, then collect only the
    # reachable first/rest cells (bounded by #chains x list length)
    head_cells = [
        r["object"] for r in schema_rows if r["predicate"] == "owl:propertyChainAxiom"
    ]
    if head_cells:
        spark = pruned.sparkSession
        rest_df = (
            pruned.where(F.col("predicate") == "rdf:rest")
            .select(F.col("subject").alias("s"), F.col("object").alias("o"))
        )
        rest_df = _statscut(rest_df)
        spine = spark.createDataFrame([(c,) for c in head_cells], ["cell"])
        frontier = spine
        for _ in range(64):  # chain lists are a handful of cells long
            frontier = (
                rest_df.join(
                    F.broadcast(frontier), rest_df["s"] == F.col("cell"), "left_semi"
                )
                .select(F.col("o").alias("cell"))
                .dropDuplicates()
            )
            frontier = _statscut(frontier)
            if frontier.count() == 0:
                break
            spine = spine.unionByName(frontier)
        else:
            # a truncated spine would silently decompose SHORTER chains
            # than asserted -> unsound entailments; fail loudly instead
            raise RuntimeError(
                "property_schema: rdf-list chain spine exceeds 64 cells "
                "(pathological propertyChainAxiom list) — refusing to "
                "truncate"
            )
        spine = F.broadcast(spine.dropDuplicates())
        schema_rows = schema_rows + (
            pruned.where(F.col("predicate").isin("rdf:first", "rdf:rest"))
            .join(spine, pruned["subject"] == spine["cell"], "left_semi")
            .select("subject", "predicate", "object")
            .collect()
        )
    return _schema_from_rows(schema_rows)


def _schema_from_rows(
    rows,
) -> tuple[dict[str, set[str]], set[str], list[tuple[str, str, str]]]:
    """Driver-side core of property_schema over (subject, predicate,
    object) rows: reads the subPropertyOf / TransitiveProperty / chain
    axioms and the rdf-list cells the chain heads point at, ignores
    every other row (so a caller holding the whole pruned corpus on the
    driver may pass it as is)."""
    sub_rows = [(s, o) for s, p, o in rows if p == "rdfs:subPropertyOf"]
    trans = {
        s for s, p, o in rows
        if p == "rdf:type" and o == "owl:TransitiveProperty"
    }
    chain_heads = [(s, o) for s, p, o in rows if p == "owl:propertyChainAxiom"]
    firsts = {s: o for s, p, o in rows if p == "rdf:first"}
    rests = {s: o for s, p, o in rows if p == "rdf:rest"}
    chains: list[tuple[str, str, str]] = []
    for sup, bn in chain_heads:
        members: list[str] = []
        while bn and bn != "rdf:nil" and bn in firsts:
            members.append(firsts[bn])
            bn = rests.get(bn)
            if len(members) > 64:  # same refusal as the spine walk
                raise RuntimeError(
                    "property_schema: rdf-list chain spine exceeds 64 cells "
                    "(pathological propertyChainAxiom list) — refusing to "
                    "truncate"
                )
        if len(members) < 2:
            continue
        # binary decomposition: p1 o p2 o p3 ⊑ r becomes
        # p1 o p2 ⊑ _step, _step o p3 ⊑ r
        acc = members[0]
        for i, m in enumerate(members[1:], start=1):
            target = sup if i == len(members) - 1 else f"_:step_{sup}_{i}"
            chains.append((acc, m, target))
            acc = target
    # reflexive-transitive subPropertyOf closure (tiny graph -> driver BFS)
    direct: dict[str, set[str]] = {}
    for s, o in sub_rows:
        direct.setdefault(s, set()).add(o)
    props = set(direct) | {q for qs in direct.values() for q in qs} | trans
    props |= {p for c in chains for p in c}
    hierarchy: dict[str, set[str]] = {}
    for p in props:
        seen = {p}
        frontier = [p]
        while frontier:
            cur = frontier.pop()
            for sup in direct.get(cur, ()):
                if sup not in seen:
                    seen.add(sup)
                    frontier.append(sup)
        hierarchy[p] = seen
    return hierarchy, trans, chains


def _local_property_saturation(
    links: set[tuple],
    hierarchy: dict[str, set[str]],
    transitive: set[str],
    chains: list[tuple[str, str, str]],
    keep_steps: bool = False,
) -> set[tuple]:
    """Interning wrapper around the saturation core: every node and
    property string maps to a dense int before the fixpoint and back
    after. The fixpoint is pure hashing/equality over 3-tuples, and int
    tuples hash ~3x faster than string tuples — measured 7.6 s -> ~3 s
    on the reference corpus's 429k-link driver path. Semantics are
    untouched: the core is generic over hashable ids (the one string
    dependence, the synthetic "_:step_" chain-prop filter, is passed in
    as an id set)."""
    interned: dict = {}

    def iid(x):
        v = interned.get(x)
        if v is None:
            v = len(interned)
            interned[x] = v
        return v

    links_i = {(iid(s), iid(p), iid(o)) for s, p, o in links}
    # hierarchy values may mention props absent from links; intern all
    hier_i = {
        iid(p): {iid(q) for q in qs} for p, qs in hierarchy.items()
    }
    trans_i = {iid(t) for t in transitive}
    chains_i = [(iid(a), iid(b), iid(c)) for a, b, c in chains]
    # node ids may be non-strings (int keys in generic graph tables);
    # synthetic step props are always strings
    step_i = {
        v
        for k, v in interned.items()
        if isinstance(k, str) and k.startswith("_:step_")
    }
    out_i = _local_property_saturation_core(
        links_i, hier_i, trans_i, chains_i,
        set() if keep_steps else step_i,
    )
    rev = {v: k for k, v in interned.items()}
    return {(rev[s], rev[p], rev[o]) for s, p, o in out_i}


def _local_property_saturation_core(
    links: set[tuple],
    hierarchy: dict,
    transitive: set,
    chains: list[tuple],
    step_props: set,
) -> set[tuple]:
    """Driver-side saturation of the property rules (SubRole lift,
    per-property BFS transitivity, subrole-expanded chains) — the same
    rule set as the distributed loop, validated against it by the fuzz
    tests and against the reference's golden output by
    scripts/reference_parity_oracle.py."""
    import collections
    import itertools

    def up_props(p: str) -> set[str]:
        return hierarchy.get(p, {p}) | {p}

    downp: dict[str, set[str]] = collections.defaultdict(set)
    allprops = {p for _, p, _ in links} | transitive | {q for c3 in chains for q in c3}
    for p in set(itertools.chain.from_iterable(up_props(q) for q in allprops)) | allprops:
        for q in up_props(p):
            downp[q].add(p)
    # chains stay binary rules (deduped after subrole expansion);
    # transitivity closes by per-property BFS — one sweep reaches every
    # path depth where the binary rule needed O(depth) growing sweeps
    rules = list(
        {
            (frozenset(downp[p1]), frozenset(downp[p2]), r)
            for p1, p2, r in chains
        }
    )

    def lift(ls) -> set[tuple]:
        out = set(ls)
        for s, p, o in ls:
            for q in up_props(p):
                out.add((s, q, o))
        return out

    links = lift(links)
    # Everything below is SEMI-NAIVE with incremental indexes: the
    # measured cost on the reference corpus was rule-count x |links|
    # full rescans per round (238 s chains + 55 s transitivity in round
    # 1 alone); indexing links by predicate / by subject-and-predicate /
    # by object turns each round into work proportional to actual rule
    # firings, and delta-driven rounds stop re-deriving old links.
    by_pred: dict[str, list] = collections.defaultdict(list)   # p -> [(s, o)]
    by_src_pred: dict = collections.defaultdict(dict)          # s -> {p: [o]}
    by_obj: dict[str, list] = collections.defaultdict(list)    # o -> [(s, p)]

    def index_links(ls) -> None:
        for s, p, o in ls:
            by_pred[p].append((s, o))
            by_src_pred[s].setdefault(p, []).append(o)
            by_obj[o].append((s, p))

    index_links(links)
    # rule lookup: predicate -> rules it can feed (left / right slot)
    rules_by_p1: dict[str, list] = collections.defaultdict(list)
    rules_by_p2: dict[str, list] = collections.defaultdict(list)
    for ps1, ps2, r in rules:
        for p in ps1:
            rules_by_p1[p].append((ps1, ps2, r))
        for p in ps2:
            rules_by_p2[p].append((ps1, ps2, r))

    dirty = dict.fromkeys(transitive, True)
    emitted: dict[str, set] = {t: set() for t in transitive}
    delta: set | None = None  # None = first round (everything is new)
    while True:
        new = set()
        for t in transitive:
            # reachability over every sub-property edge of t (premise
            # subrole expansion), emitted at t — full-depth in one BFS.
            # A BFS re-run is skipped when the only down(t) edges added
            # since its last run are its own emissions: those are
            # shortcuts of already-traversed paths and cannot change
            # reachability.
            if not dirty[t]:
                continue
            adj: dict = {}
            for p in downp[t]:
                for s, o in by_pred.get(p, ()):
                    adj.setdefault(s, set()).add(o)
            emit = emitted[t]
            for s in adj:
                seen: set = set()
                stack = list(adj[s])
                while stack:
                    x = stack.pop()
                    if x not in seen:
                        seen.add(x)
                        stack.extend(adj.get(x, ()))
                for o in seen:
                    tr = (s, t, o)
                    emit.add(tr)
                    if tr not in links:
                        new.add(tr)
            dirty[t] = False
        # chain compositions: at least one premise from the delta
        left_feed = (
            links if delta is None else delta
        )
        for s, p, o in left_feed:
            for ps1, ps2, r in rules_by_p1.get(p, ()):
                right = by_src_pred.get(o)
                if not right:
                    continue
                for p2 in (ps2 & right.keys() if len(ps2) < len(right) else
                           [k for k in right if k in ps2]):
                    for o2 in right[p2]:
                        if (s, r, o2) not in links:
                            new.add((s, r, o2))
        if delta is not None:
            for y, p2, z in delta:  # delta in the RIGHT premise slot
                for ps1, ps2, r in rules_by_p2.get(p2, ()):
                    for s, p in by_obj.get(y, ()):
                        if p in ps1 and (s, r, z) not in links:
                            new.add((s, r, z))
        if not new and not any(dirty.values()):
            return {t for t in links if t[1] not in step_props}
        delta = lift(new) - links
        links |= delta
        index_links(delta)
        for t in transitive:
            if not dirty[t]:
                tdown = downp[t]
                emit = emitted[t]
                # NOT vacuous: links gains delta only AFTER delta was
                # built (delta = lift(new) - links precedes links |=
                # delta), so this round's own BFS emissions DO appear
                # in delta ∩ emit — measured 190 skip hits on a
                # 20-node chain fixture. Emissions are shortcuts of
                # already-traversed paths; only a non-emission down(t)
                # edge can change reachability.
                dirty[t] = any(
                    p in tdown and (s, p, o) not in emit for s, p, o in delta
                )


def _chain_compose(
    chain_df, p1s: set, p2s: set, d: DataFrame, full: DataFrame,
    scratch: bool, d_small: bool = False,
) -> DataFrame:
    """Semi-naive chain-rule compose: at least one premise comes from
    the delta `d`; both join inputs are pre-filtered to the properties
    the broadcast (p1, p2, r) chain table can actually consume, so the
    shuffle carries only chain feed. JOIN ORDER MATTERS (no CBO —
    Catalyst keeps the written order): the chain table binds the SMALL
    (delta) side first, so rule expansion happens on the frontier,
    never on the full accumulated link set. d_small broadcasts the
    frontier so the full side never shuffles for these joins."""
    if d_small:
        d = F.broadcast(d)
    left = (
        d.where(F.col("p").isin(*p1s)).alias("a")
        .join(chain_df, F.col("a.p") == F.col("p1"))
        .join(
            full.where(F.col("p").isin(*p2s)).alias("b"),
            (F.col("a.o") == F.col("b.s")) & (F.col("b.p") == F.col("p2")),
        )
        .select(F.col("a.s").alias("s"), F.col("r").alias("p"), F.col("b.o").alias("o"))
    )
    if scratch:  # d == full: one direction covers both premises
        return left
    right = (
        d.where(F.col("p").isin(*p2s)).alias("b")
        .join(chain_df, F.col("b.p") == F.col("p2"))
        .join(
            full.where(F.col("p").isin(*p1s)).alias("a"),
            (F.col("a.o") == F.col("b.s")) & (F.col("a.p") == F.col("p1")),
        )
        .select(F.col("a.s").alias("s"), F.col("r").alias("p"), F.col("b.o").alias("o"))
    )
    return left.unionByName(right)


def _linear_fixpoint(
    seed: DataFrame,
    static_df: DataFrame,
    side: str,
    n_seed: int,
    n_static: int,
    op: str = "linear",
    cap: int = 48,
    static_closed: bool = False,
) -> tuple[DataFrame, int]:
    """Linear-recursion fixpoint over (s, o) pair frames: all pairs of
    ``static* ∘ seed`` (side="prefix") or ``seed ∘ static*``
    (side="suffix"). ``_linear_fixpoint(M, M, "suffix")`` is the
    transitive closure ``M⁺``.

    This is the O(frontier + static-edges)-per-round evaluator the
    stratified schedule routes single-property recursion through (see
    plans/stratify.py): unlike the doubling loop, the accumulated
    closure is NEVER reshuffled every round. The frontier is extended
    one static hop per round and deduped WITHIN the round only; pairs
    re-derived along longer paths (diamonds, cycles) are culled by an
    ADAPTIVE cleanse — an anti-join against the consolidated
    accumulated set, triggered only when the frontier stops shrinking
    (the cycle/multiplicity signature). On simple-path graphs
    (taxonomy trees, partonomy chains — the 100-TB shapes) no cleanse
    ever fires and total shuffle is |edges|·depth + |closure|, the
    information-theoretic floor for a shuffle join engine.

    static_closed=True declares the static side transitively closed
    (A∘A ⊆ A — the scheduler knows this when a lone prefix/suffix
    premise is a transitive property closed by an earlier stratum).
    Every genuine derivation then lands in round 0 and all later
    rounds are re-derivations, so the cleanse runs from round 1 and
    the loop exits after two rounds instead of grinding |depth| junk
    rounds (measured on --dense-scale: 8 rounds -> 2).

    Termination is exact WITHOUT a periodic backstop: an empty RAW
    frontier means no paths of that length exist at all; an empty
    POST-CLEANSE frontier means every just-derived pair was already
    known, and by induction every longer path's pair was derived from
    a known prefix earlier. A strictly shrinking frontier reaches 0 by
    integer descent; a non-shrinking one triggers the cleanse, which
    empties once the closure is complete — so every input terminates.
    ``cap`` bounds pathological depth (diameter > cap): the caller
    falls back to the doubling loop, closing the static side with
    `_seminaive_closure` and applying it in one join.

    Returns (consolidated eager frame, row count)."""
    spark = seed.sparkSession

    def _hop(d: DataFrame, d_small: bool) -> DataFrame:
        if d_small:
            d = F.broadcast(d)
        if side == "suffix":
            a, b = d.alias("a"), static_df.alias("b")
        else:
            a, b = static_df.alias("a"), d.alias("b")
        return a.join(b, F.col("a.o") == F.col("b.s")).select(
            F.col("a.s").alias("s"), F.col("b.o").alias("o")
        )

    def _consolidate(frames: list[DataFrame]) -> tuple[DataFrame, int]:
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        out = _statscut(out.dropDuplicates(), eager=True)
        return out, out.count()

    if n_seed == 0:
        return seed, 0
    frames: list[DataFrame] = [seed]
    owned: list[DataFrame] = []
    delta = seed
    n_delta = n_seed
    prev_n: int | None = None
    # the anti-join target for the cleanse: the consolidated union of
    # frames[:acc_upto]. The seed arrives consolidated-eager from every
    # caller, so it IS the initial acc — no empty-list consolidation
    # when the cleanse fires in round 0 (static_closed).
    acc: DataFrame = seed
    acc_upto = 1  # frames[:acc_upto] are folded into acc
    tuner = ShufflePartitionTuner(spark)
    try:
        for _ in range(cap):
            tuner.tune(n_static + n_delta)
            delta = _statscut(
                _hop(delta, n_delta <= 200_000).dropDuplicates()
            )
            n_delta = delta.count()
            if n_delta and (
                static_closed
                or (prev_n is not None and n_delta >= prev_n)
            ):
                if acc_upto < len(frames):
                    acc, _na = _consolidate([acc] + frames[acc_upto:])
                    owned.append(acc)
                    acc_upto = len(frames)
                delta = _statscut(delta.join(acc, ["s", "o"], "left_anti"))
                n_delta = delta.count()
            prev_n = n_delta
            if n_delta == 0:
                out, n_out = _consolidate(frames)
                for f in owned + frames[1:]:
                    try:
                        f.unpersist()
                    except Exception:
                        pass
                return out, n_out
            frames.append(delta)
            owned.append(delta)
    finally:
        tuner.restore()
    # cap hit (diameter > cap): doubling fallback — close the STATIC
    # side once (O(log diameter) rounds) and apply it in one join:
    # static* ∘ seed == seed ∪ static⁺ ∘ seed (and symmetrically).
    st_closed = _seminaive_closure(
        static_df, static_df, keyed=False, keep_self=True,
        max_rounds=40, op=f"{op}.fallback", n_input=n_static,
    )
    if side == "suffix":
        ext = seed.alias("a").join(
            st_closed.alias("b"), F.col("a.o") == F.col("b.s")
        ).select(F.col("a.s").alias("s"), F.col("b.o").alias("o"))
    else:
        ext = st_closed.alias("a").join(
            seed.alias("b"), F.col("a.o") == F.col("b.s")
        ).select(F.col("a.s").alias("s"), F.col("b.o").alias("o"))
    out = _statscut(
        seed.unionByName(ext).dropDuplicates(), eager=True
    )
    n_out = out.count()
    for f in owned:
        try:
            f.unpersist()
        except Exception:
            pass
    return out, n_out


def _generic_property_fixpoint(
    spark,
    r: DataFrame,
    transitive: set,
    chains: list,
    lift_rows: list,
    seed_delta: DataFrame | None = None,
    return_new: bool = False,
):
    """Global semi-naive fixpoint over ALL property rules at once —
    the evaluator for mutually-recursive strata and fused batches of
    small strata (see plans/stratify.py), and the warm start of
    entail_delta. One plan and ONE action per round: Trans (frontier ⋈
    closure, both sides, doubling preserved), Chain and the SubRole
    lift all derive from the same frontier, the raw derivations are
    lifted, deduped once, and anti-joined against the accumulated set.

    seed_delta: warm-start frontier for INCREMENTAL maintenance — `r`
    is then an already-saturated link set (closed under every rule,
    step rows included) and only derivations involving seed_delta (or
    later frontiers) run; the first round starts in non-scratch mode
    so the delta composes on BOTH premise sides. Warm mode also
    switches to the incremental cost model: the per-round anti-join
    prunes r by a broadcast semi on the frontier's subject slice (r is
    scanned, never shuffled), and r accumulates by plain unions over
    its cut parents instead of per-round full-relation re-checkpoints.

    return_new=True additionally returns the union of every round's
    frontier (exactly the derived-pairs delta vs the input r) — the
    warm caller's output delta, with no closure-sized anti-join.

    Returns the closed frame (synthetic ``_:step_*`` chain-step rows
    RETAINED — the caller filters them with its final projection))."""
    trans_list = sorted(transitive)
    chain_df = (
        F.broadcast(spark.createDataFrame(chains, ["p1", "p2", "r"]))
        if chains
        else None
    )
    p1s = {c[0] for c in chains}
    p2s = {c[1] for c in chains}
    h_active = (
        F.broadcast(spark.createDataFrame(lift_rows, ["p", "q"]))
        if lift_rows
        else None
    )
    warm = seed_delta is not None
    news: list[DataFrame] = []
    if seed_delta is None:
        if h_active is not None:
            r = r.unionByName(
                r.join(h_active, "p").select("s", F.col("q").alias("p"), "o")
            ).dropDuplicates()
        r = _statscut(r, eager=True)
        n_r = r.count()  # seeds the shuffle tuner + broadcast decisions
        delta = r  # round 1 runs from scratch: whole set is the frontier
        n_delta: int | None = None
        scratch = True
    else:
        # warm start: r is already closed under every rule (lift
        # included); lift ONLY the incoming delta, drop what's known
        # (cone-vs-slice anti: r pruned by a broadcast semi on the
        # delta's subjects — r is scanned, never shuffled or copied),
        # and fold the remainder into r so delta ⊆ r holds
        if h_active is not None:
            seed_delta = seed_delta.unionByName(
                seed_delta.join(h_active, "p").select(
                    "s", F.col("q").alias("p"), "o"
                )
            )
        r_slice = r.join(
            F.broadcast(seed_delta.select("s").distinct()), "s", "left_semi"
        )
        delta = _statscut(
            seed_delta.dropDuplicates().join(
                r_slice, ["s", "p", "o"], "left_anti"
            ),
            eager=True,
        )
        n_delta = delta.count()
        r = r.unionByName(delta)
        n_r = None  # never counted: warm rounds tune by the frontier
        scratch = False
        if n_delta == 0:
            return (r, delta) if return_new else r
        news.append(delta)
    # flat rounds interleave chain depth WITH log2(transitive diameter)
    # instead of multiplying them; 64 covers diameter 2^64 of pure
    # transitivity or 64 chain alternations — far past any real
    # ontology, and each round is one cheap action
    flat_rounds = 64
    tuner = ShufflePartitionTuner(spark)
    try:
        for rnd in range(flat_rounds):
            tuner.tune(n_delta if warm else n_r)
            d_small = n_delta is not None and n_delta <= 200_000
            # byte-aware broadcast guard (keys are frontier endpoints,
            # so n_delta bounds their count): a frontier past the cap
            # would blow the session's broadcast budget — fall back to
            # plain joins and let AQE pick the strategy from runtime
            # sizes.
            _bc = (
                F.broadcast
                if (n_delta is not None and n_delta <= _BROADCAST_KEY_CAP)
                else (lambda d: d)
            )
            # warm: every rule premise that reads the accumulated
            # relation joins on s == delta.o or o == delta.s, so ONE
            # flag-scan keyed on the (materialized) frontier's endpoints
            # extracts every row this round can touch — the trans/chain
            # composes then read the cone slice instead of scanning r
            # once per rule branch
            if warm:
                kd_o = _bc(delta.select(F.col("o").alias("s")).distinct())
                kd_s = _bc(
                    delta.select("s").distinct().select(F.col("s").alias("o"))
                )
                r_cmp = _statscut(
                    r.join(kd_o.withColumn("_fs", F.lit(True)), "s", "left")
                    .join(kd_s.withColumn("_fo", F.lit(True)), "o", "left")
                    .where(F.col("_fs").isNotNull() | F.col("_fo").isNotNull())
                    .select("s", "p", "o"),
                    eager=True,
                )
            else:
                r_cmp = r
            parts: list[DataFrame] = []
            if transitive:
                d_t = delta.where(F.col("p").isin(*trans_list))
                if d_small:
                    d_t = F.broadcast(d_t)
                r_t = r_cmp.where(F.col("p").isin(*trans_list))
                hop = d_t.alias("a").join(
                    r_t.alias("b"),
                    (F.col("a.o") == F.col("b.s")) & (F.col("a.p") == F.col("b.p")),
                ).select(
                    F.col("a.s").alias("s"),
                    F.col("a.p").alias("p"),
                    F.col("b.o").alias("o"),
                )
                if not scratch:
                    # new pair may be the SUFFIX of a shortest path
                    hop = hop.unionByName(
                        r_t.alias("a").join(
                            d_t.alias("b"),
                            (F.col("a.o") == F.col("b.s"))
                            & (F.col("a.p") == F.col("b.p")),
                        ).select(
                            F.col("a.s").alias("s"),
                            F.col("a.p").alias("p"),
                            F.col("b.o").alias("o"),
                        )
                    )
                # keep_self semantics: (x, p, x) via a cycle is a real
                # property-edge entailment — no s != o filter here
                parts.append(hop)
            if chain_df is not None:
                parts.append(
                    _chain_compose(chain_df, p1s, p2s, delta, r_cmp, scratch, d_small)
                )
            if parts:
                new = parts[0]
                for extra in parts[1:]:
                    new = new.unionByName(extra)
            else:
                # rule-free schema (e.g. hierarchy/restriction-only
                # ontology reached via the warm-seeded path): nothing
                # can derive past the seed rounds' hierarchy lift — an
                # empty frontier terminates the loop this round.
                new = delta.limit(0)
            # ONE dedup shuffle per round: expand the raw derivations
            # up the hierarchy first (broadcast join, duplicates are
            # fine), dedup once, then anti-join the accumulated set.
            if h_active is not None:
                new = new.unionByName(
                    new.join(h_active, "p").select("s", F.col("q").alias("p"), "o")
                )
            prev_delta = delta if rnd > 0 else None
            if warm:
                # incremental cost model: frontier is cone-sized —
                # materialize it once, anti-join against r's pruned
                # subject slice (broadcast semi), never shuffle r
                new_m = _statscut(new.dropDuplicates(), eager=True)
                # new_m can outgrow the prior frontier, so its key
                # broadcast gets its own count (cheap: materialized)
                _bc_new = (
                    F.broadcast
                    if new_m.count() <= _BROADCAST_KEY_CAP
                    else (lambda d: d)
                )
                r_slice = r.join(
                    _bc_new(new_m.select("s").distinct()), "s", "left_semi"
                )
                delta = _statscut(new_m.join(r_slice, ["s", "p", "o"], "left_anti"))
            else:
                delta = _statscut(
                    new.dropDuplicates().join(r, ["s", "p", "o"], "left_anti")
                )
            n_delta = delta.count()
            # the superseded frontier was folded into r at the END of
            # last round (eager union), so its blocks are dead now —
            # except in warm mode, where r references every frontier
            # through its plain-union lineage
            if prev_delta is not None and not warm:
                try:
                    prev_delta.unpersist()
                except Exception:
                    pass
            if n_delta == 0:
                # a COUNT, not seconds: keep it out of the per-phase
                # wall-seconds namespace consumed by the manifest
                _PHASE_WALLS["property_closure.flat_rounds_count"] = rnd + 1
                if warm:
                    out_new = None
                    if return_new:
                        out_new = news[0] if news else delta.limit(0)
                        for d in news[1:]:
                            out_new = out_new.unionByName(d)
                        out_new = _statscut(out_new, eager=True)
                    return (r, out_new) if return_new else r
                out = _statscut(r, eager=True)
                for f in (r, delta):
                    try:
                        f.unpersist()
                    except Exception:
                        pass
                return out
            if n_r is not None:
                n_r += n_delta
            old_r = r
            if warm:
                r = r.unionByName(delta)
                news.append(delta)
            else:
                r = _statscut(r.unionByName(delta), eager=True)
                try:
                    old_r.unpersist()
                except Exception:
                    pass
            scratch = False
    finally:
        tuner.restore()
    raise RuntimeError(f"property_closure: no fixpoint in {flat_rounds} rounds")


def property_closure(
    base_edges: DataFrame,
    hierarchy: dict[str, set[str]],
    transitive: set[str],
    chains: list[tuple[str, str, str]],
    # keep_steps is fifth because bench.py (frozen) calls
    # property_closure(base, hierarchy, transitive, chains, None,
    # local_threshold=0): its positional None is a falsy keep_steps
    keep_steps: bool = False,
    local_threshold: int | None = None,
) -> DataFrame:
    """Saturate (s, p, o) existential edges under the EL property rules:

      SubRole:   (x, p, y), p ⊑* q               ⟹ (x, q, y)
      Trans:     q transitive: (x,q,y), (y,q,z)  ⟹ (x, q, z)
      Chain:     p1 o p2 ⊑ r: (x,p1,y), (y,p2,z) ⟹ (x, r, z)

    Transitivity is closed by per-property semi-naive frontier doubling
    (O(log diam) rounds, all transitive properties in one keyed loop);
    explicit chains compose through a broadcast (p1, p2, r) table. The
    outer loop is itself semi-naive: each round composes only the DELTA
    (edges first derived last round) against the accumulated set, and
    extends the transitive closure incrementally from that delta — no
    closure ⋈ closure re-derivation. Its depth is the chain-nesting
    depth of the schema (1 for pure transitivity, tiny in practice).

    Hybrid execution like the other closure operators: an ontology's
    property-edge graph is dictionary-scale relative to the corpus
    (the reference's full test tier is ~1M base links), so within
    local_threshold rows and the driverMaxBytes budget (plans/route.py)
    the saturation runs driver-side with the identical rule set; 0
    forces the distributed loop. keep_steps keeps the synthetic ``_:step_*``
    chain-step rows (entail_delta's warm start needs them)."""
    spark = base_edges.sparkSession
    # this call's phases only: drop what an earlier call left behind
    for k in [k for k in _PHASE_WALLS if k.startswith("property_closure.")]:
        del _PHASE_WALLS[k]
    local_threshold = route.threshold(spark, route.PROPERTY_CLOSURE, local_threshold)
    hier_rows = [
        (p, q) for p, qs in hierarchy.items() for q in qs if q != p
    ]
    # self-edges are KEPT throughout: x ⊑ ∃p.x is a legitimate
    # entailment (e.g. a ⊑ ∃p.c with c ⊑ a), unlike the strict
    # subclass closure where reflexive rows are added separately
    # EAGER checkpoint: base_edges is typically an expensive upstream
    # plan (entail's rtc ⋈ restr ⋈ rtc compose is ~93M rows pre-dedup
    # on the reference corpus). A lazy checkpoint materializes
    # partition-by-partition as jobs touch it, and partitions first
    # touched by a LATER job recompute the whole upstream join —
    # measured: the fixpoint's inner rounds grew 3 s -> 130 s on
    # shrinking deltas until the base was cut eagerly (66 s total from
    # a clean-lineage input vs 620+ s from the live join plan).
    r = _statscut(
        base_edges.select("s", "p", "o").dropDuplicates(), eager=True
    )
    _tp = time.time()

    def _pphase(name: str) -> None:
        nonlocal _tp
        now = time.time()
        _PHASE_WALLS["property_closure." + name] = round(now - _tp, 3)
        _tp = now

    _pphase("base_materialize")
    needs_fixpoint = bool(transitive or chains)
    # bytes-aware driver guard: the row threshold alone could admit
    # multi-GB string payloads on a small-driver cluster
    got = route.capped_collect(
        [r], local_threshold if needs_fixpoint else 0,
        max_bytes=route.threshold(spark, route.PROPERTY_MAX_BYTES),
        guarded=lambda: _pphase("count+bytes_guard"),
    )
    if got is not None:
        _pphase("collect")
        closed = _local_property_saturation(
            set(got[0]), hierarchy, transitive, chains, keep_steps=keep_steps
        )
        _pphase("saturate")
        # sorted: set-iteration order varies with string hashing across
        # processes, and byte-identical re-runs (export content hashes,
        # parquet diffs) are a stated engine property; the sort costs
        # <1 s at the 2M-row driver-path ceiling
        out = route.upload(spark, sorted(closed), r.schema)
        _pphase("sort+arrow")
        return out

    def expand_hierarchy(df: DataFrame) -> DataFrame:
        if not hier_rows:
            return df
        h = F.broadcast(spark.createDataFrame(hier_rows, ["p", "q"]))
        up = df.join(h, "p").select("s", F.col("q").alias("p"), "o")
        return df.unionByName(up).dropDuplicates()

    if not needs_fixpoint:
        return _statscut(expand_hierarchy(r), eager=not local_threshold)
    chain_df = (
        F.broadcast(spark.createDataFrame(chains, ["p1", "p2", "r"])) if chains else None
    )
    p1s = {c[0] for c in chains}
    p2s = {c[1] for c in chains}

    def close_transitive_delta(
        full: DataFrame, d: DataFrame, scratch: bool
    ) -> DataFrame:
        # incremental keyed TC: full's transitive subset is closed from
        # prior rounds except for derivations involving d's edges.
        # Returns ONLY the newly-derived pairs — the closure itself
        # lives in `r`; hauling it back through the outer loop's
        # dedup/expand/anti would shuffle closure-sized frames per round.
        c_t = _statscut(full.where(F.col("p").isin(*transitive)))
        d_t = _statscut(d.where(F.col("p").isin(*transitive)))
        _c, new = _seminaive_closure(
            c_t, d_t, keyed=True, keep_self=True, max_rounds=20,
            both_sides=not scratch, op="property_closure.trans",
            return_new=True, consolidate="new",
        )
        return new

    # static schedule proof (driver-side, schema is tiny): hierarchy
    # expansion BEFORE the keyed TC already puts every subproperty edge
    # into its transitive supers, so one expand -> TC -> expand closes
    # all of T in one shot. A single chain pass then suffices unless a
    # chain target (or one of its supers) is transitive or re-enters a
    # chain slot — only then does the outer fixpoint loop run.
    def up(p: str) -> set[str]:
        return hierarchy.get(p, {p}) | {p}

    one_pass = all(
        not (up(c[2]) & transitive) and not (up(c[2]) & (p1s | p2s))
        for c in chains
    )
    if one_pass:
        r = _statscut(expand_hierarchy(r), eager=not local_threshold)
        if transitive:
            closed_t = close_transitive_delta(r, r, scratch=True)
            new = r.unionByName(closed_t.select("s", "p", "o"))
        else:
            new = r
        if chain_df is not None:
            # checkpoint before composing: the chain join reads this
            # frame on BOTH sides — without it the whole upstream plan
            # (scan + expands + TC) executes twice in one job
            new = _statscut(expand_hierarchy(new.dropDuplicates()))
            new = new.unionByName(
                _chain_compose(chain_df, p1s, p2s, new, new, scratch=True)
            )
        out = expand_hierarchy(new.dropDuplicates())
        return out if keep_steps else out.where(~F.col("p").startswith("_:step_"))

    # ---- stratified distributed evaluation (round 5) ----
    # Compile the rule set into an SCC-condensed schedule and evaluate
    # strata in dependency order (see plans/stratify.py). Single-
    # property recursion runs through the O(frontier + static-edges)
    # linear fixpoint; mutually-recursive components run the global
    # fused semi-naive loop. Regime-equality is enforced by the fuzz
    # suites (random schemas vs a pure-Python saturation in BOTH
    # regimes) and by reference parity.
    sched = build_schedule(hierarchy, transitive, chains)
    link_frames: list[DataFrame] = [r]

    def links_slice(props: set) -> DataFrame:
        out = link_frames[0]
        for f in link_frames[1:]:
            out = out.unionByName(f)
        if props:
            out = out.where(F.col("p").isin(*sorted(props)))
        return out

    # Driver-side per-property link counts (ONE action, schema-scale
    # result), maintained incrementally as strata derive. They buy two
    # things the plain stratum-per-component walk cannot afford (181
    # strata x ~0.6 s of fixed action latency on the reference corpus):
    #   1. SKIP — a stratum none of whose rules can fire (every rule
    #      has a zero-link premise, checked by the boolean fixpoint in
    #      plans/stratify.py::may_fire) runs ZERO Spark jobs.
    #   2. BATCH — contiguous runs of small fireable strata are fused
    #      into ONE generic semi-naive fixpoint (merge_strata): the
    #      batch pays a handful of actions total instead of ~4 each.
    #      Only strata whose premise feed exceeds _BATCH_THRESHOLD run
    #      alone through their specialized (linear) evaluator — that
    #      is exactly the regime where O(frontier)-per-round shuffles
    #      beat the fused loop's O(accumulated) reshuffle.
    prop_counts: dict = {
        row["p"]: row["cnt"]
        for row in r.groupBy("p").agg(F.count("*").alias("cnt")).collect()
    }

    def _premises(st) -> set:
        prem = set(st.trans) | set(st.props)
        for p, _q in st.lifts:
            prem.add(p)
        for p1, p2, _t in st.chains:
            prem.add(p1)
            prem.add(p2)
        return prem

    pending: list = []
    pending_concl: set = set()

    def run_unit(st) -> None:
        comp = sorted(st.props)
        lift_sources = {p for p, _q in st.lifts}
        if st.kind == "generic":
            needed = (
                set(st.props)
                | {c[0] for c in st.chains}
                | {c[1] for c in st.chains}
                | lift_sources
            )
            sub = _statscut(links_slice(needed), eager=True)
            closed = _generic_property_fixpoint(
                spark, sub, st.trans, st.chains, st.lifts
            )
            new = _statscut(
                closed.where(F.col("p").isin(*comp)).join(
                    links_slice(set(st.props)), ["s", "p", "o"], "left_anti"
                ),
                eager=True,
            )
        elif st.kind == "static":
            parts: list[DataFrame] = []
            if st.lifts:
                lift_df = F.broadcast(
                    spark.createDataFrame(st.lifts, ["p", "q"])
                )
                parts.append(
                    links_slice(lift_sources)
                    .join(lift_df, "p")
                    .select("s", F.col("q").alias("p"), "o")
                )
            if st.chains:
                c_df = F.broadcast(
                    spark.createDataFrame(st.chains, ["p1", "p2", "r"])
                )
                c_p1s = {c[0] for c in st.chains}
                c_p2s = {c[1] for c in st.chains}
                feed = links_slice(c_p1s | c_p2s)
                parts.append(
                    _chain_compose(c_df, c_p1s, c_p2s, feed, feed, True)
                )
            new = parts[0]
            for extra in parts[1:]:
                new = new.unionByName(extra)
            new = _statscut(
                new.dropDuplicates().join(
                    links_slice(set(st.props)), ["s", "p", "o"], "left_anti"
                ),
                eager=True,
            )
        else:  # linear: single property q
            (q,) = st.props
            seed_parts = [links_slice({q}).select("s", "o")]
            if st.lifts:
                seed_parts.append(
                    links_slice(lift_sources).select("s", "o")
                )
            static_chains = [
                c for c in st.chains if c[0] != q and c[1] != q
            ]
            if static_chains:
                c_df = F.broadcast(
                    spark.createDataFrame(static_chains, ["p1", "p2", "r"])
                )
                c_p1s = {c[0] for c in static_chains}
                c_p2s = {c[1] for c in static_chains}
                feed = links_slice(c_p1s | c_p2s)
                seed_parts.append(
                    _chain_compose(c_df, c_p1s, c_p2s, feed, feed, True)
                    .select("s", "o")
                )
            seed = seed_parts[0]
            for extra in seed_parts[1:]:
                seed = seed.unionByName(extra)
            m = _statscut(seed.dropDuplicates(), eager=True)
            n_m = m.count()
            # a LONE prefix/suffix premise that is itself a transitive
            # property was closed by its (earlier) stratum: A∘A ⊆ A,
            # so the fixpoint saturates in one hop — see
            # _linear_fixpoint(static_closed=...)
            if st.prefix_props and n_m:
                pre = _statscut(
                    links_slice(st.prefix_props).select("s", "o"),
                    eager=True,
                )
                m, n_m = _linear_fixpoint(
                    m, pre, "prefix", n_m, pre.count(), op=q,
                    static_closed=(
                        len(st.prefix_props) == 1
                        and next(iter(st.prefix_props)) in transitive
                    ),
                )
            if st.suffix_props and n_m:
                suf = _statscut(
                    links_slice(st.suffix_props).select("s", "o"),
                    eager=True,
                )
                m, n_m = _linear_fixpoint(
                    m, suf, "suffix", n_m, suf.count(), op=q,
                    static_closed=(
                        len(st.suffix_props) == 1
                        and next(iter(st.suffix_props)) in transitive
                    ),
                )
            if st.eff_trans and n_m:
                m, n_m = _linear_fixpoint(
                    m, m, "suffix", n_m, n_m, op=f"{q}.tc"
                )
            new = _statscut(
                m.select("s", F.lit(q).alias("p"), "o").join(
                    links_slice({q}), ["s", "p", "o"], "left_anti"
                ),
                eager=True,
            )
        # per-property breakdown of the derivations (drives the SKIP
        # decisions for later strata); `new` is already materialized by
        # the eager statscut, so this aggregate is a cheap second action
        rows = new.groupBy("p").agg(F.count("*").alias("cnt")).collect()
        n_new = 0
        for row in rows:
            prop_counts[row["p"]] = prop_counts.get(row["p"], 0) + row["cnt"]
            n_new += row["cnt"]
        if n_new:
            link_frames.append(new)

    def flush_pending() -> None:
        nonlocal pending, pending_concl
        if not pending:
            return
        if len(pending) == 1:
            run_unit(pending[0])
        else:
            run_unit(merge_strata(pending))
        pending = []
        pending_concl = set()

    for st in sched.strata:
        if st.rule_free():
            continue
        has_links = {p for p, n in prop_counts.items() if n > 0} | pending_concl
        if not may_fire(st, has_links):
            continue
        if sum(prop_counts.get(p, 0) for p in _premises(st)) > _BATCH_THRESHOLD:
            # big feed: flush the small batch first (it may feed this
            # stratum — dependency order), then run alone through the
            # specialized evaluator
            flush_pending()
            run_unit(st)
        else:
            pending.append(st)
            pending_concl |= set(st.props)
    flush_pending()

    out = links_slice(set())
    if not keep_steps:
        out = out.where(~F.col("p").startswith("_:step_"))
    if sched.inert_lifts:
        h_i = F.broadcast(
            spark.createDataFrame(sched.inert_lifts, ["p", "q"])
        )
        out = out.unionByName(
            out.join(h_i, "p").select("s", F.col("q").alias("p"), "o")
        ).dropDuplicates()
    out = _statscut(out, eager=True)
    for f in link_frames:
        try:
            f.unpersist()
        except Exception:
            pass
    return out


# Constructs whose OWL-API expression Whelk's Bridge CANNOT convert —
# the enclosing axiom is then skipped whole. owl:complementOf is NOT
# here: Whelk has a Complement concept, so a ¬X conjunct converts fine
# (it just derives nothing positive) and the sibling conjuncts still
# fire — verified against golden (ENVO:00000258 keeps its
# adjacent-to links through a ¬∃has_part filler conjunct, while
# ENVO:01001457 loses BOTH conjuncts to a nested ∀).
_NON_EL_PREDICATES = (
    "owl:allValuesFrom",
    "owl:hasValue",
    "owl:maxCardinality",
    "owl:minCardinality",
    "owl:cardinality",
    "owl:maxQualifiedCardinality",
    "owl:minQualifiedCardinality",
    "owl:qualifiedCardinality",
)

_EXPR_PREDICATES = (
    "owl:onProperty",
    "owl:someValuesFrom",
    "owl:intersectionOf",
    "owl:unionOf",
    "rdf:first",
    "rdf:rest",
)


def drop_non_el_axioms(statements: DataFrame) -> DataFrame:
    """Whelk/EL semantics: an axiom whose class expression contains a
    non-EL construct (universal restriction, complement, cardinality,
    hasValue) is dropped WHOLE — the EL reasoner does not salvage the
    EL-expressible conjuncts. Without this, ∃p.(C ⊓ ∀q.D) would
    contribute its ∃p.C part and over-derive vs the reference
    (measured: the last 14 extra edges on the reference corpus all
    trace to one ∀-bearing intersection).

    Implementation: taint every blank node carrying a non-EL row,
    propagate taint UP the expression DAG (filler -> restriction,
    member -> list cell -> set node) driver-side (the expression layer
    is schema-scale), and drop every statement touching a tainted
    node."""
    rows = (
        statements.where(
            F.col("predicate").isin(*(_EXPR_PREDICATES + _NON_EL_PREDICATES))
            & F.col("subject").startswith("_:")
        )
        .select("subject", "predicate", "object")
        .collect()
    )
    parents: dict[str, set[str]] = {}
    tainted: set[str] = set()
    for r in rows:
        s, p, o = r["subject"], r["predicate"], r["object"]
        if p in _NON_EL_PREDICATES:
            tainted.add(s)
        elif o is not None and o.startswith("_:"):
            parents.setdefault(o, set()).add(s)
        if p in ("owl:intersectionOf", "owl:unionOf", "rdf:rest") and o is not None:
            # list heads/cells: child cell -> parent set node / cell
            parents.setdefault(o, set()).add(s)
    # taint also flows from a tainted MEMBER up through its list cell:
    # (cell rdf:first member) — member may be a tainted bnode; covered
    # by the generic bnode-object rule above.
    stack = list(tainted)
    while stack:
        cur = stack.pop()
        for par in parents.get(cur, ()):
            if par not in tainted:
                tainted.add(par)
                stack.append(par)
    if not tainted:
        return statements
    t = F.broadcast(
        statements.sparkSession.createDataFrame(
            [(x,) for x in sorted(tainted)], ["id"]
        )
    )
    return statements.join(
        t.withColumnRenamed("id", "subject"), "subject", "left_anti"
    ).join(
        t.withColumnRenamed("id", "object"), "object", "left_anti"
    ).select(statements.columns)


def canonicalize_expressions(pruned: DataFrame) -> DataFrame:
    """Structurally intern anonymous class expressions, Whelk-style:
    blank nodes with identical structure become ONE node —
    ∃p.C restrictions keyed by (onProperty, canonical filler),
    intersections/unions keyed by their canonical member set. Without
    this, two classes asserting the same ∃RO:0000057.ENVO:00000446
    restriction sit below two DISTINCT atoms and a union of those
    classes never discovers the shared super-concept that Whelk's
    disjunction rule uses (the reference corpus derives ~120 golden
    edges through exactly this sharing).

    The expression layer of an ontology is schema-scale (thousands of
    bnodes vs corpus-scale statements), so the canonical map is built
    driver-side (bottom-up fixpoint over the expression DAG) and
    broadcast back as a subject/object rewrite — the dictionary
    pattern. List CELLS and property expressions (owl:inverseOf) keep
    their identity; only class-expression heads merge."""
    import hashlib

    rows = (
        pruned.where(
            F.col("predicate").isin(
                "owl:onProperty", "owl:someValuesFrom",
                "owl:intersectionOf", "owl:unionOf",
                "rdf:first", "rdf:rest",
            )
            & F.col("subject").startswith("_:")
        )
        .select("subject", "predicate", "object")
        .collect()
    )
    on_prop: dict[str, list[str]] = {}
    some_from: dict[str, list[str]] = {}
    set_head: dict[str, list[tuple[str, str]]] = {}  # bn -> [(kind, head)]
    firsts: dict[str, str] = {}
    rests: dict[str, str] = {}
    for r in rows:
        s, p, o = r["subject"], r["predicate"], r["object"]
        if p == "owl:onProperty":
            on_prop.setdefault(s, []).append(o)
        elif p == "owl:someValuesFrom":
            some_from.setdefault(s, []).append(o)
        elif p == "owl:intersectionOf":
            set_head.setdefault(s, []).append(("I", o))
        elif p == "owl:unionOf":
            set_head.setdefault(s, []).append(("U", o))
        elif p == "rdf:first":
            firsts[s] = o
        elif p == "rdf:rest":
            rests[s] = o

    def list_members(head: str) -> list[str]:
        out, bn, hops = [], head, 0
        while bn and bn != "rdf:nil" and bn in firsts and hops < 10_000:
            out.append(firsts[bn])
            bn = rests.get(bn)
            hops += 1
        return out

    canon: dict[str, str] = {}

    def cof(x: str | None) -> str:
        return canon.get(x, x) if x is not None else ""

    # topological (children-first) order: a node's signature reads the
    # canonical ids of its bnode CHILDREN (restriction fillers, set
    # members), so processing children first reaches the fixpoint in
    # exactly one pass at ANY nesting depth. Kahn's algorithm also
    # detects cyclic bnode structures (malformed RDF) upfront — a cycle
    # has no canonical form, and proceeding would under-merge and
    # silently lose entailed edges, so fail loudly like
    # property_schema's spine walk does.
    heads = set(on_prop) | set(some_from) | set(set_head)
    deps: dict[str, set[str]] = {}  # bn -> bnode children its sig reads
    for bn in heads:
        kids = {f for f in some_from.get(bn, ()) if f in heads}
        kids |= {
            m
            for _k, h in set_head.get(bn, ())
            for m in list_members(h)
            if m in heads
        }
        deps[bn] = kids
    indeg = {bn: len(deps[bn]) for bn in heads}
    dependents: dict[str, set[str]] = {bn: set() for bn in heads}
    for bn, kids in deps.items():
        for k in kids:
            dependents[k].add(bn)
    order = sorted(bn for bn in heads if indeg[bn] == 0)
    queue = list(order)
    while queue:
        cur = queue.pop()
        for par in sorted(dependents[cur]):
            indeg[par] -= 1
            if indeg[par] == 0:
                order.append(par)
                queue.append(par)
    if len(order) < len(heads):
        raise RuntimeError(
            "canonicalize_expressions: cyclic anonymous class expression "
            f"({len(heads) - len(order)} bnodes on cycles) — no canonical "
            "form exists; refusing to intern"
        )
    for bn in order:
        if bn in set_head:
            kind, _h = sorted(set_head[bn])[0]
            members = sorted(
                {cof(m) for _k, h in set_head[bn] for m in list_members(h)}
            )
            sig = kind + "|" + "|".join(members)
        else:
            sig = (
                "R|" + "|".join(sorted(on_prop.get(bn, ())))
                + "~" + "|".join(sorted(cof(f) for f in some_from.get(bn, ())))
            )
        canon[bn] = "_:x" + hashlib.md5(sig.encode()).hexdigest()[:20]
    remap = [(k, v) for k, v in canon.items() if k != v]
    if not remap:
        return pruned
    m = F.broadcast(
        pruned.sparkSession.createDataFrame(remap, ["old", "new"])
    )
    out = (
        pruned.join(m.withColumnRenamed("old", "subject"), "subject", "left")
        .withColumn("subject", F.coalesce(F.col("new"), F.col("subject")))
        .drop("new")
    )
    out = (
        out.join(
            m.select(F.col("old").alias("object"), F.col("new")), "object", "left"
        )
        .withColumn("object", F.coalesce(F.col("new"), F.col("object")))
        .drop("new")
    )
    return out.dropDuplicates()


def restriction_nodes(pruned: DataFrame) -> DataFrame:
    """(a, prop, c) where `a` is the restriction blank node ITSELF —
    the ELK-style view in which every anonymous expression is a fresh
    atomic class. Holders attach via their asserted a' ⊑ bn subclass
    edge (subject descent covers them in the base-link compose), and
    nested fillers attach via the expression edges, so compositions
    flow THROUGH anonymous expressions."""
    on_prop = pruned.where(F.col("predicate") == "owl:onProperty").select(
        F.col("subject").alias("a"), F.col("object").alias("prop")
    )
    some_from = pruned.where(F.col("predicate") == "owl:someValuesFrom").select(
        F.col("subject").alias("a"), F.col("object").alias("c")
    )
    return on_prop.join(some_from, "a")


def _domain_expansion(
    dom_rows, restr_props: set, hierarchy: dict[str, set[str]]
) -> list[tuple[str, str]]:
    """(prop, dom) for every restriction property `prop` and every
    rdfs:domain `dom` of a q ∈ supers*(prop) — the driver-side core of
    the domain rule, over (prop, dom) rows."""
    doms_of: dict[str, list[str]] = {}
    for prop, dom in dom_rows:
        doms_of.setdefault(prop, []).append(dom)
    return sorted({
        (p, d)
        for p in restr_props
        for q in (hierarchy.get(p, set()) | {p})
        for d in doms_of.get(q, ())
    })


def _domain_edges(
    pruned: DataFrame, hierarchy: dict[str, set[str]], restr: DataFrame
) -> DataFrame:
    """Static domain-rule edge set: every restriction node ∃p.C is a
    subclass of domain(q) for q ∈ supers*(p) (Whelk semantics — see the
    call-site comment in entail()). Both driver tables are schema-scale
    (collected + broadcast back, the dictionary pattern). Shared by
    entail() and the delta-maintenance path so the rule cannot drift
    between full and incremental recompute."""
    dom_rows = pruned.where(F.col("predicate") == "rdfs:domain").select(
        F.col("subject").alias("prop"), F.col("object").alias("dom")
    ).collect()
    restr_props = {row["prop"] for row in restr.select("prop").distinct().collect()}
    dom_exp = _domain_expansion(dom_rows, restr_props, hierarchy)
    if dom_exp:
        dom_exp_df = F.broadcast(
            pruned.sparkSession.createDataFrame(dom_exp, ["prop", "dom"])
        )
        return restr.join(dom_exp_df, "prop").select(
            F.col("a").alias("s"), F.col("dom").alias("o")
        )
    return restr.limit(0).select(
        F.col("a").alias("s"), F.col("c").alias("o")
    )


def entail(
    statements: DataFrame,
    class_nodes: DataFrame,
    property_local_threshold: int | None = None,
    state_capture: dict | None = None,
) -> DataFrame:
    """Full entailment over (already canonicalized) statements ->
    edges(subject, predicate, object) — the engine's re-expression of
    relation-graph's Whelk (EL) materialization, verified at
    P/R >= 0.999 against the reference's own golden entailed_edge by
    scripts/reference_parity.py (this engine end-to-end in Spark) and
    scripts/reference_parity_oracle.py (single-process rule-set
    saturation); the same rules are fuzz-equated to a Python oracle in
    tests/test_closure.py and spot-checked on a subsampled statements
    set in tests/test_reference_parity_sample.py.

    class_nodes: one-column DF ``id`` of all canonical class nodes
    (drives the reflexive rows, like --reflexive-subclasses true).

    Anonymous class expressions (intersections, unions, nested
    restrictions) participate in the saturation as fresh nodes and are
    stripped from the output; owl:Thing rows are suppressed like
    owl:Nothing (trivially-true edges).

    state_capture: pass a dict to capture the saturation's internal
    fixpoints (pruned statements, augmented sub edges, rtc, restriction
    table, property links WITH chain-step rows, type asserts, schema) —
    the warm-start state operators/delta_entail.py resumes from when
    new statements are added. Output is unchanged.

    Regimes: unless the caller forced the distributed fixpoints (a 0
    local threshold), input under spark.graft.deltaEntail.driverThreshold
    saturates on the driver (_driver_entail). The hybrid path below runs
    otherwise, over the driver pair cap or base guard, and for
    state_capture."""
    spark = statements.sparkSession
    _t = time.time()
    _PHASE_WALLS.clear()

    def _phase(name: str, ns: str = "entail.") -> None:
        nonlocal _t
        now = time.time()
        _PHASE_WALLS[ns + name] = round(now - _t, 3)
        _t = now

    forced = route.forced(spark, property_local_threshold)
    driver_max = 0 if forced or state_capture is not None else route.threshold(
        spark, route.DRIVER_ENTAIL
    )
    # materialize the pruned+interned statements ONCE: property_schema,
    # expression_edges, the domain rule, restriction_nodes, and the
    # type-assert path each run several driver collects over this frame,
    # and the canonicalize rewrite (two broadcast joins over statements)
    # would otherwise re-execute for every one of them. The driver
    # regime's collect materializes a lazy cut, so an input over its
    # threshold does not compute the frame a second time
    pruned = _statscut(
        canonicalize_expressions(
            prune_for_closure(drop_non_el_axioms(statements))
        ),
        eager=not driver_max,
    )
    if driver_max:
        out = _driver_entail(pruned, class_nodes, driver_max, phase=_phase)
        if out is not None:
            edges = _frame(spark, out[0]["edges"], _SPO)
            # the hybrid path's property_closure.* keys: no collect here,
            # and the saturation is entail.property_closure's step
            sat_s = _PHASE_WALLS["entail.property_closure"]
            for k in ("base_materialize", "count+bytes_guard", "collect"):
                _PHASE_WALLS["property_closure." + k] = 0.0
            _PHASE_WALLS["property_closure.saturate"] = sat_s
            _phase("sort+arrow", "property_closure.")
            return edges
    else:
        _phase("prune+non_el+intern")
    # property-level schema first: the domain rule below needs the
    # subPropertyOf hierarchy (dictionary-scale driver work)
    hierarchy, transitive, chains = property_schema(pruned)
    _phase("property_schema")
    if state_capture is not None:
        state_capture["pruned"] = pruned
        state_capture["schema"] = (hierarchy, transitive, chains)
        state_capture["class_nodes"] = class_nodes
    # subclass edges over ALL nodes (expression bnodes included) +
    # the EL normalization edges of anonymous expressions
    sub_all = pruned.where(
        (F.col("predicate") == "rdfs:subClassOf") & F.col("object").isNotNull()
    ).select(F.col("subject").alias("s"), F.col("object").alias("o"))
    expr_edges, union_membership = expression_edges(pruned)
    # rdfs:domain rule THROUGH THE PROPERTY HIERARCHY (Whelk semantics:
    # (x,p,y) entails (x,q,y) for every super-property q, so domain(q)
    # applies too): every restriction node ∃p.C is a subclass of
    # domain(q) for q ∈ supers*(p). Because any x with a p-link sits
    # below SOME ∃p.C restriction node in the subclass closure, this
    # static edge set also delivers the link-level domain rule — e.g.
    # the reference corpus's rdfs:domain of RO:0002170 is itself an
    # anonymous ∃BFO:0000050.RO:0002577 restriction, whose links every
    # connected-to holder inherits (18 of the last 22 golden edges);
    # the other 4 come from a nested filler ascending to the domain of
    # a SUPER-property of its onProperty. Both tables are schema-scale
    # (collected + broadcast back, the dictionary pattern).
    restr = _statscut(restriction_nodes(pruned))
    domain_edges = _domain_edges(pruned, hierarchy, restr)
    sub = (
        sub_all.unionByName(expr_edges)
        .unionByName(domain_edges)
        .dropDuplicates()
    )
    sub = _statscut(sub)
    _phase("sub-edges+domain")
    if union_membership.limit(1).count() > 0:
        # the elimination loop maintains the full strict closure of the
        # augmented edge set — reuse it instead of re-closing sub
        sub, tc = union_eliminated_subclass(sub, union_membership)
    else:
        tc = transitive_closure(sub)  # strict
    _phase("subclass_tc")
    if state_capture is not None:
        state_capture["sub"] = sub  # augmented: expr + domain + union-derived
        state_capture["restr"] = restr
        state_capture["union_membership"] = union_membership
    # reflexive rows: named classes (the --reflexive-subclasses output)
    # plus restriction nodes and fillers — the compose below needs
    # (bn ⊑ bn) / (c ⊑ c) so direct links and bn-filler hops both emit
    refl = (
        class_nodes.select(F.col("id").alias("n"))
        .unionByName(restr.select(F.col("a").alias("n")))
        .unionByName(restr.select(F.col("c").alias("n")))
        .distinct()
        .select(F.col("n").alias("s"), F.col("n").alias("o"))
    )
    rtc = _statscut(tc.unionByName(refl).dropDuplicates(), eager=True)
    _phase("rtc_materialize")
    if state_capture is not None:
        state_capture["rtc"] = rtc

    named = ~F.col("s").startswith("_:") & ~F.col("o").startswith("_:")
    sub_out = (
        rtc.where(named)
        # output reflexive rows only for declared classes (not bare fillers)
        .join(
            class_nodes.select(F.col("id").alias("s"), F.lit(True).alias("_cls")),
            "s",
            "left",
        )
        .where((F.col("s") != F.col("o")) | F.col("_cls").isNotNull())
        .select(
            F.col("s").alias("subject"),
            F.lit("rdfs:subClassOf").alias("predicate"),
            F.col("o").alias("object"),
        )
    )

    # base existential edges: x ⊑ a (rtc), a ⊑ ∃p.c, c ⊑ d (rtc) ⟹ (x,p,d)
    # — closed under subject-side subclass descent and object-side
    # ascent by construction, which is exactly the invariant the
    # property rules below need (composition of two closed edges is
    # closed, so no re-propagation pass after saturation)
    # dedupe EARLY, between the two rtc joins: many x reach the same
    # restriction through many ancestors a, so distinct (x, p, c) is
    # far smaller than the raw compose — on the reference corpus the
    # full two-join output is ~93M rows pre-dedup for 429k distinct
    # links, and cutting the duplicates before the second join shrinks
    # both that join's probe side and the final dedup shuffle
    base_prop = (
        rtc.select(F.col("s").alias("x"), F.col("o").alias("a"))
        .join(F.broadcast(restr), "a")
        .select("x", F.col("prop"), F.col("c"))
        .dropDuplicates()
        .join(
            rtc.select(F.col("s").alias("c"), F.col("o").alias("d")),
            "c",
        )
        .select(F.col("x").alias("s"), F.col("prop").alias("p"), F.col("d").alias("o"))
    )
    # property-level entailment (relation-graph semantics: transitive
    # object properties, subPropertyOf, property chains — the rules
    # that dominate the reference's golden entailed_edge table).
    # NOTE: no union LINK rule here. Whelk's disjunction elimination
    # works on the subsumption lattice over structurally-interned
    # concepts — which canonicalize_expressions +
    # union_eliminated_subclass reproduce exactly: a union node sits
    # below ∃p.C iff every member reaches the SAME canonical
    # restriction node, and base_prop then links it. A "common derived
    # links" rule (round 3) is sound OWL-EL but over-derives 66 edges
    # vs relation-graph's golden output; with interning it is also
    # redundant for recall (verified: recall 1.0 without it).
    _phase("pre_property")
    links_full = property_closure(
        base_prop, hierarchy, transitive, chains,
        local_threshold=property_local_threshold,
        keep_steps=state_capture is not None,
    )
    if state_capture is not None:
        state_capture["links"] = links_full  # step rows retained
        links_full = links_full.where(~F.col("p").startswith("_:step_"))
    prop_out = links_full.select(
        F.col("s").alias("subject"),
        F.col("p").alias("predicate"),
        F.col("o").alias("object"),
    )
    _phase("property_closure")
    # individuals: x rdf:type C, C ⊑ D  ⟹  x rdf:type D
    # (relation-graph --output-individuals true, workflow.ipynb:1638);
    # rdf:type rows whose object is a named class — owl:Class /
    # owl:NamedIndividual meta-rows drop out via the class_nodes semi-join
    type_asserts = (
        pruned.where(
            (F.col("predicate") == "rdf:type") & ~F.col("subject").startswith("_:")
        )
        .select(F.col("subject").alias("ind"), F.col("object").alias("cls"))
        .join(class_nodes.select(F.col("id").alias("cls")), "cls", "left_semi")
    )
    if state_capture is not None:
        state_capture["type_asserts"] = type_asserts
    ind_out = (
        type_asserts.join(rtc.select(F.col("s").alias("cls"), "o"), "cls")
        .select(
            F.col("ind").alias("subject"),
            F.lit("rdf:type").alias("predicate"),
            F.col("o").alias("object"),
        )
    )
    return (
        sub_out.unionByName(prop_out)
        .unionByName(ind_out)
        .where(
            ~F.col("subject").startswith("_:")
            & ~F.col("object").startswith("_:")
            & ~F.col("subject").isin("owl:Nothing", "owl:Thing")
            & ~F.col("object").isin("owl:Nothing", "owl:Thing")
        )
        .dropDuplicates()
    )


def _local_expression_edges(rows) -> tuple[set, set]:
    """expression_edges over driver (subject, predicate, object) rows:
    (expression edges, union membership) as sets."""
    firsts: dict = {}
    rests: dict = {}
    heads = []
    for s, p, o in rows:
        if p == "rdf:first":
            firsts.setdefault(s, set()).add(o)
        elif p == "rdf:rest":
            rests.setdefault(s, set()).add(o)
        elif p in ("owl:intersectionOf", "owl:unionOf"):
            heads.append((s, p, o))

    def list_members(head) -> set:
        # rdf_list_members: the head's own cell (when it is one) plus
        # every cell strictly reachable from it over rdf:rest
        seen: set = set()
        stack = list(rests.get(head, ()))
        while stack:
            x = stack.pop()
            if x not in seen:
                seen.add(x)
                stack.extend(rests.get(x, ()))
        seen.discard(head)
        if head in firsts:
            seen.add(head)
        return {m for cell in seen for m in firsts.get(cell, ())}

    inter, union_membership = set(), set()
    for bn, p, h in heads:
        pairs = {(bn, m) for m in list_members(h)}
        if p == "owl:unionOf":
            union_membership |= pairs
        else:
            inter |= pairs
    return inter | {(m, bn) for bn, m in union_membership}, union_membership


def _local_entail(
    rows, class_nodes, phase=lambda _name: None, max_base=(2_000_000, 256 << 20)
) -> dict | None:
    """entail() on the driver, over collected (subject, predicate,
    object) rows that are already pruned and interned (the
    canonicalize_expressions output). The rules run through entail()'s
    own driver cores (_schema_from_rows, _domain_expansion,
    _local_union_elimination, _local_property_saturation); only the
    joins entail() runs as DataFrames are written here over Python
    sets, and a null never matches a join key, as in Spark.

    class_nodes: the class ids. Returns the saturated state under
    entail(state_capture=...)'s keys as Python sets — sub, rtc, restr,
    links (chain-step rows kept), type_asserts, union_membership,
    schema — plus "edges", entail()'s output. Returns None, and the
    caller runs its distributed path, when the subclass closure exceeds
    _local_union_elimination's pair cap or the base links exceed
    max_base (rows, bytes). phase(name) is called after each step,
    under the name of the entail() phase that does its work."""
    by_p: dict = {}
    for s, p, o in rows:
        by_p.setdefault(p, []).append((s, o))
    hierarchy, transitive, chains = _schema_from_rows(rows)
    classes = set(class_nodes)
    phase("property_schema")

    expr, union_membership = _local_expression_edges(rows)
    union_members: dict = {}
    for bn, m in union_membership:
        union_members.setdefault(bn, set()).add(m)
    # restriction_nodes
    on_prop: dict = {}
    for a, prop in by_p.get("owl:onProperty", ()):
        on_prop.setdefault(a, []).append(prop)
    restr = {
        (a, prop, c)
        for a, c in by_p.get("owl:someValuesFrom", ())
        if a is not None
        for prop in on_prop.get(a, ())
    }
    # _domain_edges
    doms: dict = {}
    for prop, dom in _domain_expansion(
        by_p.get("rdfs:domain", ()), {r[1] for r in restr}, hierarchy
    ):
        doms.setdefault(prop, []).append(dom)
    sub = {(s, o) for s, o in by_p.get("rdfs:subClassOf", ()) if o is not None}
    sub |= expr
    sub |= {(a, d) for a, prop, _c in restr for d in doms.get(prop, ())}
    phase("sub-edges+domain")
    sub, tc = _local_union_elimination(sub, union_members)
    if sub is None:
        return None
    phase("subclass_tc")
    rtc = set(tc)
    rtc.update((n, n) for n in classes)
    for a, _prop, c in restr:
        rtc.update(((a, a), (c, c)))
    phase("rtc_materialize")
    ups: dict = {}
    downs: dict = {}
    for s, o in rtc:
        ups.setdefault(s, set()).add(o)
        downs.setdefault(o, set()).add(s)
    # base existential links x ⊑ a, a ⊑ ∃p.c, c ⊑ d ⟹ (x, p, d), with
    # the holders deduped per (p, c) between the two closure joins
    holders: dict = {}
    for a, prop, c in restr:
        if c is not None and a in downs:
            holders.setdefault((prop, c), set()).update(downs[a])
    # property_closure's driver guard: a base over max_base (rows,
    # estimated bytes) runs the caller's distributed path
    base: set = set()
    for (prop, c), xs in holders.items():
        for d in ups.get(c, ()):
            base.update((x, prop, d) for x in xs)
        if len(base) > max_base[0]:
            return None
    if sum(len(v) for t in base for v in t if v) > max_base[1]:
        return None
    phase("pre_property")
    links = _local_property_saturation(
        base, hierarchy, transitive, chains, keep_steps=True
    )
    phase("property_closure")
    type_asserts = {
        (s, o)
        for s, o in by_p.get("rdf:type", ())
        if s is not None and not s.startswith("_:")
        and o is not None and o in classes
    }

    def shown(s, o) -> bool:
        return (
            s is not None and o is not None
            and not s.startswith("_:") and not o.startswith("_:")
            and s not in ("owl:Nothing", "owl:Thing")
            and o not in ("owl:Nothing", "owl:Thing")
        )

    edges = {
        (s, "rdfs:subClassOf", o)
        for s, o in rtc
        if shown(s, o) and (s != o or s in classes)
    }
    edges |= {
        (s, p, o)
        for s, p, o in links
        if shown(s, o) and not (p or "").startswith("_:step_")
    }
    edges |= {
        (i, "rdf:type", d)
        for i, c in type_asserts
        for d in ups[c]
        if shown(i, d)
    }
    return {
        "sub": sub,
        "rtc": rtc,
        "restr": restr,
        "links": links,
        "type_asserts": type_asserts,
        "union_membership": union_membership,
        "schema": (hierarchy, transitive, chains),
        "edges": edges,
    }


_SPO = ["subject", "predicate", "object"]


def _driver_entail(pruned, class_nodes, max_rows, saved=None, phase=lambda _n: None):
    """The driver regime of entail() and entail_delta: ONE capped collect
    (route.capped_collect, max_rows rows per frame) of the pruned rows
    and class nodes, then _local_entail. With a saved state's `saved` =
    (pruned, class_nodes, rtc, links), its pruned rows and class nodes
    join the collect, so entail_delta re-saturates old ∪ new, and its
    rtc and links only need to fit. Returns (saturated state, rows,
    class ids, saved rows), or None, and the caller runs its distributed
    path, when a frame holds more than max_rows rows or _local_entail
    returns None under property_closure's base guard."""
    frames = [pruned, class_nodes] + list(saved or ())
    cols = [_SPO, ["id"], _SPO, ["id"], [F.lit(0)], [F.lit(0)]]
    got = route.capped_collect(
        [df.select(*c) for df, c in zip(frames, cols)], max_rows
    )
    phase("prune+non_el+intern")
    if got is None:
        return None
    new_rows, new_classes, old_rows, old_classes = (got + [[], []])[:4]
    rows = set(new_rows) | set(old_rows)
    classes = {c for (c,) in new_classes + old_classes}
    sat = _local_entail(rows, classes, phase, (
        route.threshold(pruned, route.PROPERTY_CLOSURE),
        route.threshold(pruned, route.PROPERTY_MAX_BYTES),
    ))
    return None if sat is None else (sat, rows, classes, old_rows)
