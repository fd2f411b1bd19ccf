"""Stratified evaluation schedule for the property-rule fixpoint.

The EL property rules (SubRole lift, Trans, Chain — see
``operators/closure.py::property_closure``) form a Datalog program
whose single generic evaluation strategy — one global semi-naive
fixpoint over ALL rules — reshuffles the whole accumulated relation
every round even when most properties have long stopped deriving
anything. This module compiles the rule set into a *schedule* instead:

1. Build the property dependency graph: ``premise -> conclusion`` for
   every rule (a transitive property depends on itself; a chain's
   conclusion depends on both premises; a SubRole lift's target
   depends on its source — only for *active* targets, i.e. targets
   some rule consumes; inert lifts are a single post-pass).
2. Condense it into strongly connected components (iterative Tarjan —
   schemas are dictionary-scale, this is driver-side and free).
3. Emit the components in topological order. Rules are assigned to
   the component of their conclusion; premises outside the component
   are STATIC by the time the component runs (its strata are closed).

Each stratum is classified by the cheapest evaluator that is exact
for its recursive structure:

- ``static``: no recursion — every rule fires exactly once.
- ``linear``: a single property ``q`` whose recursive rules are
  transitivity and/or chains with exactly one recursive premise.
  The derivable ``q``-links are the regular path language
  ``(A* E0 B*)+`` (``A`` = static prefix-chain premises, ``B`` =
  static suffix-chain premises, ``E0`` = non-recursive seeds, the
  ``+`` only with transitivity) — evaluated as two linear fixpoints
  plus a linear transitive closure, each of which joins the frontier
  against a STATIC edge set. Per-round shuffle is O(frontier +
  static edges), never O(accumulated closure): this is the evaluator
  that makes a 2M-term taxonomy closure shuffle ~|edges| x depth
  rows instead of ~|closure| x log(depth).
- ``generic``: mutually recursive components (two properties feeding
  each other through chains) — the global semi-naive loop, restricted
  to the component's property slice.

Class-level union semantics never reach this program: entail() derives
them as subclass edges (``union_eliminated_subclass``) before the
property rules run.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Stratum:
    """One schedulable unit: the rules whose conclusions fall in one
    strongly connected component of the property dependency graph."""

    props: frozenset
    kind: str  # "static" | "linear" | "generic"
    trans: set  # transitive props in the component
    chains: list  # (p1, p2, tgt) rules with tgt in the component
    lifts: list  # (p, q) active SubRole lifts with q in the component
    # linear classification only (props == {q}):
    eff_trans: bool = False  # q transitive, or a (q, q, q) chain
    prefix_props: set = field(default_factory=set)  # static A in A o q -> q
    suffix_props: set = field(default_factory=set)  # static B in q o B -> q

    def rule_free(self) -> bool:
        return not (self.trans or self.chains or self.lifts)


@dataclass
class Schedule:
    strata: list  # list[Stratum], dependency order
    inert_lifts: list  # (p, q) lifts whose target no rule consumes


def may_fire(st: "Stratum", has_links: set) -> bool:
    """Driver-side over-approximation of "this stratum can derive at
    least one candidate row", given the set of properties that
    currently have (or may have) links. Runs the stratum's rules as a
    boolean fixpoint: a lift fires off its source, a chain off both
    premises, transitivity off the property itself; fired conclusions
    feed later rules. Sound to skip a stratum iff this returns False —
    every rule is monotone in its premises and a premise with zero
    links contributes zero rows to every join."""
    local = set(has_links)
    fired = False
    changed = True
    while changed:
        changed = False
        for p, q in st.lifts:
            if p in local:
                fired = True
                if q not in local:
                    local.add(q)
                    changed = True
        for p1, p2, tgt in st.chains:
            if p1 in local and p2 in local:
                fired = True
                if tgt not in local:
                    local.add(tgt)
                    changed = True
        for q in st.trans:
            if q in local:
                fired = True
    return fired


def merge_strata(strata: list) -> Stratum:
    """Fuse a CONTIGUOUS (dependency-order) run of strata into one
    generic unit: the global fused semi-naive loop evaluates the union
    of their rules exactly (it is the evaluator that is correct for
    ANY rule set — stratification only ever specializes it). Used to
    batch many small strata into one fixpoint so dictionary-scale
    schemas pay a handful of Spark actions instead of one per
    property."""
    props: set = set()
    trans: set = set()
    chains: list = []
    lifts: list = []
    for st in strata:
        props |= set(st.props)
        trans |= st.trans
        chains.extend(st.chains)
        lifts.extend(st.lifts)
    return Stratum(frozenset(props), "generic", trans, chains, lifts)


def _tarjan_sccs(nodes: set, edges: dict) -> list:
    """Iterative Tarjan; returns components in REVERSE topological
    order (every component appears before the components it depends
    on are... specifically: Tarjan emits a component only after all
    components reachable FROM it), so the caller reverses for
    dependencies-first order."""
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comps: list = []
    counter = [0]

    for root in sorted(nodes):
        if root in index:
            continue
        # explicit DFS stack: (node, iterator over successors)
        work = [(root, iter(sorted(edges.get(root, ()))))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            node, it = work[-1]
            advanced = False
            for succ in it:
                if succ not in index:
                    index[succ] = low[succ] = counter[0]
                    counter[0] += 1
                    stack.append(succ)
                    on_stack.add(succ)
                    work.append((succ, iter(sorted(edges.get(succ, ())))))
                    advanced = True
                    break
                if succ in on_stack:
                    low[node] = min(low[node], index[succ])
            if advanced:
                continue
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[node])
            if low[node] == index[node]:
                comp = set()
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.add(w)
                    if w == node:
                        break
                comps.append(comp)
    return comps


def build_schedule(hierarchy: dict, transitive: set, chains: list) -> Schedule:
    """Compile the rule set into a stratified schedule. ``hierarchy``
    must be the reflexive-transitive subPropertyOf closure (as
    ``property_schema`` produces) — the classification relies on
    ``p ⊑* q`` being a DIRECT row, so a lift through an intermediate
    inert property never needs staging."""
    hier_rows = [(p, q) for p, qs in hierarchy.items() for q in qs if q != p]
    p1s = {c[0] for c in chains}
    p2s = {c[1] for c in chains}
    active = set(transitive) | p1s | p2s
    active_lifts = [(p, q) for p, q in hier_rows if q in active]
    inert_lifts = [(p, q) for p, q in hier_rows if q not in active]

    nodes: set = set(transitive)
    edges: dict = {}

    def add_edge(a: str, b: str) -> None:
        nodes.add(a)
        nodes.add(b)
        edges.setdefault(a, set()).add(b)

    for p in transitive:
        add_edge(p, p)
    for p1, p2, tgt in chains:
        add_edge(p1, tgt)
        add_edge(p2, tgt)
    for p, q in active_lifts:
        add_edge(p, q)

    comps = _tarjan_sccs(nodes, edges)
    comps.reverse()  # dependencies first

    strata: list = []
    for comp in comps:
        trans_s = comp & transitive
        chains_s = [c for c in chains if c[2] in comp]
        lifts_s = [(p, q) for p, q in active_lifts if q in comp]
        recursive = (
            len(comp) > 1
            or bool(trans_s)
            or any(c[0] in comp or c[1] in comp for c in chains_s)
        )
        if not recursive:
            strata.append(
                Stratum(frozenset(comp), "static", trans_s, chains_s, lifts_s)
            )
            continue
        if len(comp) > 1:
            strata.append(
                Stratum(frozenset(comp), "generic", trans_s, chains_s, lifts_s)
            )
            continue
        (q,) = comp
        eff_trans = q in transitive
        prefix: set = set()
        suffix: set = set()
        for p1, p2, _tgt in chains_s:
            if p1 == q and p2 == q:
                # q o q ⊑ q IS transitivity
                eff_trans = True
            elif p2 == q:
                prefix.add(p1)  # p1 is static (earlier stratum)
            elif p1 == q:
                suffix.add(p2)
            # both-static chains stay in chains_s as seed feeds
        strata.append(
            Stratum(
                frozenset(comp), "linear", trans_s, chains_s, lifts_s,
                eff_trans=eff_trans, prefix_props=prefix, suffix_props=suffix,
            )
        )
    return Schedule(strata=strata, inert_lifts=inert_lifts)
