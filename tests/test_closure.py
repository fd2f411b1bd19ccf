"""M7: transitive closure + restriction entailment micro-fixtures
(FIXTURES.md §7; semantics of relation-graph flags, SURVEY.md §2.8)."""

from conftest import DRIVER_KEY
from conftest import entail_regimes as _entail_regimes
from pyspark.sql import functions as F

from kbase_cdm_ontologies_spark.operators import closure
from kbase_cdm_ontologies_spark.operators.closure import (
    entail,
    restriction_axioms,
    prune_for_closure,
    transitive_closure,
    union_eliminated_subclass,
)

LOCAL_KEYS = tuple(
    f"spark.graft.{k}.localThreshold" for k in (
        "transitiveClosure", "unionElimination", "propertyClosure",
    )
)


def _edge_set(df):
    return {(r["subject"], r["predicate"], r["object"]) for r in df.collect()}


def _tc(spark, edges, local_threshold=20_000):
    df = spark.createDataFrame(edges, ["s", "o"])
    return {
        (r["s"], r["o"])
        for r in transitive_closure(df, local_threshold=local_threshold).collect()
    }


def test_chain(spark):
    # a⊑b⊑c⊑d -> 6 strict pairs
    got = _tc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }


def test_diamond_no_duplicates(spark):
    got = _tc(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")])
    assert got == {
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "d"), ("c", "d"),
    }


def test_cycle_terminates(spark):
    got = _tc(spark, [("a", "b"), ("b", "a")])
    assert got == {("a", "b"), ("b", "a")}


def _stmt_rows(rows):
    return [
        dict(stanza=s, subject=s, predicate=p, object=o, value=None,
             datatype=None, language=None, graph=None)
        for s, p, o in rows
    ]


def test_restriction_entailment(spark):
    # a ⊑ ∃p.c, c ⊑ d, x ⊑ a  ⟹  (x,p,c),(x,p,d),(a,p,c),(a,p,d)
    rows = _stmt_rows([
        ("x", "rdfs:subClassOf", "a"),
        ("c", "rdfs:subClassOf", "d"),
        ("a", "rdfs:subClassOf", "_:bn1"),
        ("_:bn1", "owl:onProperty", "p"),
        ("_:bn1", "owl:someValuesFrom", "c"),
    ])
    # fix stanza for blank-node rows (owner is 'a') — shape only matters
    stmts = spark.createDataFrame(
        rows,
        "stanza string, subject string, predicate string, object string, "
        "value string, datatype string, language string, graph string",
    )
    class_nodes = spark.createDataFrame(
        [("a",), ("c",), ("d",), ("x",)], ["id"]
    )
    got = _entail_regimes(stmts, class_nodes)
    want = {
        # reflexive + strict subclass
        ("a", "rdfs:subClassOf", "a"), ("c", "rdfs:subClassOf", "c"),
        ("d", "rdfs:subClassOf", "d"), ("x", "rdfs:subClassOf", "x"),
        ("x", "rdfs:subClassOf", "a"), ("c", "rdfs:subClassOf", "d"),
        # property entailment
        ("a", "p", "c"), ("a", "p", "d"), ("x", "p", "c"), ("x", "p", "d"),
    }
    assert got == want


def test_corpus_closure_matches_oracle(corpus, corpus_dfs):
    """Ontology part of the edge oracle (no SVO): canonicalize then
    entail must equal the hand-rolled BFS closure, in both regimes."""
    from kbase_cdm_ontologies_spark.operators.canonicalize import (
        apply_canonical,
        canonical_map,
    )
    from kbase_cdm_ontologies_spark.plans.pipeline import class_node_ids
    from kbase_cdm_ontologies_spark.sources.corpus import _closure_oracle

    stmts = corpus_dfs["statements"]
    cmap = canonical_map(stmts)
    canon_stmts = apply_canonical(stmts, cmap, ["subject", "object"])
    got = _entail_regimes(canon_stmts, class_node_ids(canon_stmts))
    assert got == _closure_oracle(corpus)


def test_prune_keeps_only_logic(corpus_dfs):
    pruned = prune_for_closure(corpus_dfs["statements"])
    preds = {r["predicate"] for r in pruned.select("predicate").distinct().collect()}
    assert "rdfs:label" not in preds and "oio:hasExactSynonym" not in preds
    restr = restriction_axioms(pruned)
    assert restr.count() == 5  # incl. the two property-chain fixtures


def test_long_chain_path_doubling(spark):
    """Chain of 200: path doubling converges in ~8 rounds, |closure| =
    n(n-1)/2 (stress of SURVEY.md §7.4 risk 2 at unit scale)."""
    n = 200
    edges = [(f"n{i:04d}", f"n{i+1:04d}") for i in range(n - 1)]
    got = _tc(spark, edges)
    assert len(got) == n * (n - 1) // 2


def test_random_dag_matches_bfs(spark):
    """Random DAG (edges only i -> j with j > i) vs hand-rolled BFS,
    in BOTH execution regimes (driver-BFS fast path and the forced
    distributed path-doubling loop)."""
    import random

    rng = random.Random(7)
    n = 120
    edges = sorted(
        {
            (f"v{i:03d}", f"v{j:03d}")
            for _ in range(300)
            for i, j in [sorted(rng.sample(range(n), 2))]
        }
    )
    got = _tc(spark, edges)
    assert got == _tc(spark, edges, local_threshold=0)  # distributed path
    adj = {}
    for s, o in edges:
        adj.setdefault(s, set()).add(o)
    want = set()
    for s in {e[0] for e in edges}:
        seen, stack = set(), [s]
        while stack:
            x = stack.pop()
            for y in adj.get(x, ()):
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        want |= {(s, o) for o in seen}
    assert got == want


# --- property-level entailment (relation-graph EL rules) --------------------

STMT_SCHEMA = (
    "stanza string, subject string, predicate string, object string, "
    "value string, datatype string, language string, graph string"
)


def _restriction(owner, bn, prop, filler):
    return [
        (owner, "rdfs:subClassOf", bn),
        (bn, "owl:onProperty", prop),
        (bn, "owl:someValuesFrom", filler),
    ]


def _entail(spark, rows, nodes):
    stmts = spark.createDataFrame(_stmt_rows(rows), STMT_SCHEMA)
    class_nodes = spark.createDataFrame([(n,) for n in nodes], ["id"])
    return _entail_regimes(stmts, class_nodes)


def _props(got):
    return {t for t in got if t[1] != "rdfs:subClassOf"}


def test_transitive_property_entailment(spark):
    # x ⊑ ∃p.y, y ⊑ ∃p.z, p transitive ⟹ (x,p,z) in addition to bases
    rows = (
        _restriction("x", "_:b1", "p", "y")
        + _restriction("y", "_:b2", "p", "z")
        + [("p", "rdf:type", "owl:TransitiveProperty")]
    )
    got = _props(_entail(spark, rows, ["x", "y", "z"]))
    assert got == {("x", "p", "y"), ("y", "p", "z"), ("x", "p", "z")}


def test_transitive_property_long_chain(spark):
    # 12-node p-chain: closure = n(n-1)/2 pairs via keyed path doubling
    n = 12
    rows = [("p", "rdf:type", "owl:TransitiveProperty")]
    for i in range(n - 1):
        rows += _restriction(f"c{i:02d}", f"_:b{i}", "p", f"c{i+1:02d}")
    got = _props(_entail(spark, rows, [f"c{i:02d}" for i in range(n)]))
    assert got == {
        (f"c{i:02d}", "p", f"c{j:02d}") for i in range(n) for j in range(i + 1, n)
    }


def test_subproperty_entailment(spark):
    # p ⊑ q: every p edge is also a q edge; q is NOT transitive here
    rows = _restriction("x", "_:b1", "p", "y") + [
        ("p", "rdfs:subPropertyOf", "q"),
    ]
    got = _props(_entail(spark, rows, ["x", "y"]))
    assert got == {("x", "p", "y"), ("x", "q", "y")}


def test_transitive_superproperty(spark):
    # p ⊑ t, t transitive: p edges lift to t and close there, but p
    # itself is NOT closed (relation-graph semantics)
    rows = (
        _restriction("x", "_:b1", "p", "y")
        + _restriction("y", "_:b2", "p", "z")
        + [
            ("p", "rdfs:subPropertyOf", "t"),
            ("t", "rdf:type", "owl:TransitiveProperty"),
        ]
    )
    got = _props(_entail(spark, rows, ["x", "y", "z"]))
    assert got == {
        ("x", "p", "y"), ("y", "p", "z"),
        ("x", "t", "y"), ("y", "t", "z"), ("x", "t", "z"),
    }
    assert ("x", "p", "z") not in got


def test_property_chain_entailment(spark):
    # p1 o p2 ⊑ r (rdf-list encoding): (x,p1,y), (y,p2,z) ⟹ (x,r,z)
    rows = (
        _restriction("x", "_:b1", "p1", "y")
        + _restriction("y", "_:b2", "p2", "z")
        + [
            ("r", "owl:propertyChainAxiom", "_:l1"),
            ("_:l1", "rdf:first", "p1"),
            ("_:l1", "rdf:rest", "_:l2"),
            ("_:l2", "rdf:first", "p2"),
            ("_:l2", "rdf:rest", "rdf:nil"),
        ]
    )
    got = _props(_entail(spark, rows, ["x", "y", "z"]))
    assert got == {("x", "p1", "y"), ("y", "p2", "z"), ("x", "r", "z")}


def test_chain_length_three_decomposed(spark):
    # p o p o p ⊑ r decomposes into binary steps; the synthetic step
    # property must not leak into the output
    rows = (
        _restriction("a", "_:b1", "p", "b")
        + _restriction("b", "_:b2", "p", "c")
        + _restriction("c", "_:b3", "p", "d")
        + [
            ("r", "owl:propertyChainAxiom", "_:l1"),
            ("_:l1", "rdf:first", "p"),
            ("_:l1", "rdf:rest", "_:l2"),
            ("_:l2", "rdf:first", "p"),
            ("_:l2", "rdf:rest", "_:l3"),
            ("_:l3", "rdf:first", "p"),
            ("_:l3", "rdf:rest", "rdf:nil"),
        ]
    )
    got = _props(_entail(spark, rows, ["a", "b", "c", "d"]))
    assert ("a", "r", "d") in got
    assert not any(p.startswith("_:step_") for _, p, _o in got)
    # binary prefix p o p must NOT produce r edges
    assert ("a", "r", "c") not in got


def test_property_edges_propagate_through_subclass(spark):
    # w ⊑ x, x ⊑ ∃p.y, y' ⊑ y... transitivity composes through the
    # subclass-propagated middle: w gets every closed edge of x
    rows = (
        [("w", "rdfs:subClassOf", "x")]
        + _restriction("x", "_:b1", "p", "y")
        + _restriction("y", "_:b2", "p", "z")
        + [("p", "rdf:type", "owl:TransitiveProperty")]
    )
    got = _props(_entail(spark, rows, ["w", "x", "y", "z"]))
    assert {("w", "p", "y"), ("w", "p", "z"), ("x", "p", "z")} <= got


def test_property_closure_bytes_guard_falls_back_to_distributed(spark):
    """The driver fast path is guarded by estimated payload bytes as
    well as rows: with spark.graft.propertyClosure.driverMaxBytes=1 the
    saturation must run the distributed fixpoint and still produce the
    identical result."""
    from kbase_cdm_ontologies_spark.operators import closure
    from kbase_cdm_ontologies_spark.operators.closure import property_closure

    edges = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d")]
    df = spark.createDataFrame(edges, ["s", "p", "o"])
    hierarchy = {"p": {"p", "q"}, "q": {"q"}}
    kwargs = dict(hierarchy=hierarchy, transitive={"p"}, chains=[])
    via_driver = {
        (r["s"], r["p"], r["o"])
        for r in property_closure(df, **kwargs).collect()
    }
    assert "property_closure.collect" in closure.phase_walls()
    key = "spark.graft.propertyClosure.driverMaxBytes"
    spark.conf.set(key, "1")
    try:
        via_guard = {
            (r["s"], r["p"], r["o"])
            for r in property_closure(df, **kwargs).collect()
        }
    finally:
        spark.conf.unset(key)
    assert "property_closure.collect" not in closure.phase_walls()
    assert via_guard == via_driver
    assert ("a", "p", "d") in via_guard  # transitivity actually closed


def test_domain_rule(spark):
    """rdfs:domain (Whelk role domains): a restriction node ∃p.C is a
    subclass of domain(p) — holders inherit it as a subclass edge, and
    NESTED restriction fillers ascend to the domain and its supers
    (the rule that closed the last golden-edge families in the
    reference parity run)."""
    rows = (
        _restriction("a", "_:b1", "p", "c")
        + [
            ("p", "rdfs:domain", "D"),
            ("D", "rdfs:subClassOf", "E"),
        ]
        # nested: x ⊑ ∃q.(∃p.c) — the inner bnode is the filler
        + [("x", "rdfs:subClassOf", "_:b2")]
        + [
            ("_:b2", "owl:onProperty", "q"),
            ("_:b2", "owl:someValuesFrom", "_:b3"),
            ("_:b3", "owl:onProperty", "p"),
            ("_:b3", "owl:someValuesFrom", "c"),
        ]
    )
    got = _entail(spark, rows, ["a", "c", "x", "D", "E"])
    # holder-level: a ⊑ ∃p.c ⊑ domain(p)=D ⊑ E
    assert {("a", "rdfs:subClassOf", "D"), ("a", "rdfs:subClassOf", "E")} <= got
    # nested-filler ascent: x gets (x, q, D) and (x, q, E)
    assert {("x", "q", "D"), ("x", "q", "E")} <= got


def test_keyed_transitive_closure_matches_per_key_bfs(spark):
    import random

    from kbase_cdm_ontologies_spark.operators.closure import keyed_transitive_closure

    rng = random.Random(11)
    edges = sorted({
        (f"p{rng.randrange(3)}", f"v{a:02d}", f"v{b:02d}")
        for _ in range(150)
        for a, b in [sorted(rng.sample(range(25), 2))]
    })
    df = spark.createDataFrame(edges, ["p", "s", "o"])
    got = {(r["p"], r["s"], r["o"]) for r in keyed_transitive_closure(df).collect()}
    got_dist = {
        (r["p"], r["s"], r["o"])
        for r in keyed_transitive_closure(df, local_threshold=0).collect()
    }
    assert got == got_dist
    want = set()
    for key in {e[0] for e in edges}:
        adj = {}
        for p, s, o in edges:
            if p == key:
                adj.setdefault(s, set()).add(o)
        for s in adj:
            seen, stack = set(), [s]
            while stack:
                x = stack.pop()
                for y in adj.get(x, ()):
                    if y not in seen:
                        seen.add(y)
                        stack.append(y)
            want |= {(key, s, o) for o in seen}
    assert got == want


def test_cyclic_subproperty_hierarchy(spark):
    # p ⊑ q, q ⊑ p (equivalent properties): edges lift both ways and
    # the schema BFS terminates
    rows = _restriction("x", "_:b1", "p", "y") + [
        ("p", "rdfs:subPropertyOf", "q"),
        ("q", "rdfs:subPropertyOf", "p"),
    ]
    got = _props(_entail(spark, rows, ["x", "y"]))
    assert got == {("x", "p", "y"), ("x", "q", "y")}


def _py_property_saturation(edges, hierarchy, transitive, chains):
    """Independent fixpoint oracle over (s, p, o) sets."""
    cur = set(edges)
    while True:
        new = set(cur)
        for s, p, o in cur:
            for q in hierarchy.get(p, ()):
                new.add((s, q, o))
        for t in transitive:
            adj = {}
            for s, p, o in new:
                if p == t:
                    adj.setdefault(s, set()).add(o)
            for s in adj:
                seen, stack = set(), list(adj[s])
                while stack:
                    x = stack.pop()
                    if x not in seen:
                        seen.add(x)
                        stack.extend(adj.get(x, ()))
                new |= {(s, t, o) for o in seen}
        for p1, p2, r in chains:
            rights = {}
            for s, p, o in new:
                if p == p2:
                    rights.setdefault(s, set()).add(o)
            for s, p, o in list(new):
                if p == p1:
                    for z in rights.get(o, ()):
                        new.add((s, r, z))
        if new == cur:
            return cur
        cur = new


def test_property_closure_fuzz_vs_python(spark):
    """Randomized schemas (hierarchies, transitivity, chains incl.
    self-feeding ones) against an independent Python fixpoint — covers
    both the one-pass fast path and the outer fixpoint loop."""
    import random

    from kbase_cdm_ontologies_spark.operators.closure import property_closure

    rng = random.Random(99)
    props = ["p0", "p1", "p2", "p3"]
    for trial in range(6):
        nodes = [f"n{i}" for i in range(10)]
        edges = {
            (rng.choice(nodes), rng.choice(props), rng.choice(nodes))
            for _ in range(25)
        }
        hierarchy = {}
        for p in props:
            sups = {p} | {q for q in props if rng.random() < 0.25}
            hierarchy[p] = sups
        # close the hierarchy dict transitively (property_closure expects
        # the reflexive-transitive closure, as property_schema produces)
        changed = True
        while changed:
            changed = False
            for p in props:
                for q in list(hierarchy[p]):
                    before = len(hierarchy[p])
                    hierarchy[p] |= hierarchy.get(q, {q})
                    changed |= len(hierarchy[p]) != before
        transitive = {p for p in props if rng.random() < 0.4}
        # up to TWO chains: multi-chain schemas produce prefix+suffix
        # rules on one stratum and mutually-recursive (generic) SCCs —
        # the shapes the stratified scheduler must not get wrong
        chains = [
            (rng.choice(props), rng.choice(props), rng.choice(props))
            for _ in range(rng.choice([0, 1, 1, 2]))
        ]
        df = spark.createDataFrame(sorted(edges), ["s", "p", "o"])
        want = _py_property_saturation(edges, hierarchy, transitive, chains)
        # both execution regimes: driver saturation and distributed loop
        for thr in ((2_000_000, 0) if trial < 4 else (2_000_000,)):
            got = {
                (r["s"], r["p"], r["o"])
                for r in property_closure(
                    df, hierarchy, transitive, chains, local_threshold=thr
                ).collect()
            }
            assert got == want, (trial, thr, sorted(got ^ want)[:6], transitive, chains)


def test_linear_fixpoint_shapes(spark):
    """The stratified scheduler's linear evaluator on the graph shapes
    that stress each of its mechanisms: simple chains (no cleanse ever
    fires), diamonds (path-multiplicity re-derivation -> adaptive
    cleanse), cycles (termination only via cleanse), and a cap hit
    (doubling fallback must still be exact)."""
    from kbase_cdm_ontologies_spark.operators.closure import _linear_fixpoint
    from kbase_cdm_ontologies_spark.plans.stats_cut import cut

    def tc_py(edges):
        adj = {}
        for s, o in edges:
            adj.setdefault(s, set()).add(o)
        out = set()
        for s in adj:
            seen, stack = set(), list(adj[s])
            while stack:
                x = stack.pop()
                if x not in seen:
                    seen.add(x)
                    stack.extend(adj.get(x, ()))
            out |= {(s, o) for o in seen}
        return out

    chain = [(f"n{i}", f"n{i+1}") for i in range(12)]
    diamond = [("a", "b1"), ("a", "b2"), ("b1", "c"), ("b2", "c"), ("c", "d")]
    cycle = [("x", "y"), ("y", "z"), ("z", "x")]
    for name, edges, cap in [
        ("chain", chain, 48),
        ("diamond", diamond, 48),
        ("cycle", cycle, 48),
        ("chain-cap-fallback", chain, 3),  # diameter 12 >> cap 3
        ("cycle-cap-fallback", cycle, 1),
    ]:
        e = cut(spark.createDataFrame(sorted(edges), ["s", "o"]), eager=True)
        n = e.count()
        got_df, n_got = _linear_fixpoint(e, e, "suffix", n, n, op=name, cap=cap)
        got = {(r["s"], r["o"]) for r in got_df.collect()}
        want = tc_py(edges)
        assert got == want, (name, sorted(got ^ want))
        assert n_got == len(want), name

    # prefix side: A* ∘ seed over a static prefix relation
    pre = [("p0", "p1"), ("p1", "p2"), ("p2", "p3")]
    seed = [("p3", "t")]
    e = cut(spark.createDataFrame(pre, ["s", "o"]), eager=True)
    sd = cut(spark.createDataFrame(seed, ["s", "o"]), eager=True)
    got_df, n_got = _linear_fixpoint(sd, e, "prefix", 1, 3, op="prefix")
    got = {(r["s"], r["o"]) for r in got_df.collect()}
    assert got == {("p3", "t"), ("p2", "t"), ("p1", "t"), ("p0", "t")}
    assert n_got == 4


def test_property_closure_stratified_shapes(spark):
    """Deterministic schemas that hit every scheduler classification:
    prefix-chain-into-transitive (the dense-scale shape), suffix
    chains, static-static chain feeds, lifts into a transitive
    property, and a mutually-recursive two-property SCC (generic).
    The dense-scale shape also runs in bench.py's positional call
    shape, whose fifth argument is None."""
    from kbase_cdm_ontologies_spark.operators.closure import property_closure

    cases = [
        # dense-scale shape: po chains, po o li -> li, li transitive,
        # po ⊑ overlaps inert
        dict(
            edges={("a", "part_of", "b"), ("b", "part_of", "c"),
                   ("c", "located_in", "s1"), ("s1", "located_in", "s2")},
            hierarchy={"part_of": {"part_of", "overlaps"}},
            transitive={"part_of", "located_in"},
            chains=[("part_of", "located_in", "located_in")],
        ),
        # suffix chain: li o po -> li (conclusion extends on the right)
        dict(
            edges={("a", "li", "b"), ("b", "po", "c"), ("c", "po", "d")},
            hierarchy={},
            transitive={"po"},
            chains=[("li", "po", "li")],
        ),
        # static-static chain feeding a transitive target + lift into it
        dict(
            edges={("a", "p", "b"), ("b", "q", "c"), ("c", "r", "d"),
                   ("x", "sub", "y")},
            hierarchy={"sub": {"sub", "r"}},
            transitive={"r"},
            chains=[("p", "q", "r")],
        ),
        # mutually-recursive SCC: a o b ⊑ a and b o a ⊑ b
        dict(
            edges={("n1", "a", "n2"), ("n2", "b", "n3"), ("n3", "a", "n4"),
                   ("n4", "b", "n1")},
            hierarchy={},
            transitive=set(),
            chains=[("a", "b", "a"), ("b", "a", "b")],
        ),
        # prefix AND suffix on the same property, not transitive:
        # language A* E0 B* without the closure
        dict(
            edges={("m1", "A", "m2"), ("m2", "E", "m3"), ("m3", "B", "m4"),
                   ("m4", "B", "m5")},
            hierarchy={},
            transitive=set(),
            chains=[("A", "E", "E"), ("E", "B", "E")],
        ),
    ]
    for i, case in enumerate(cases):
        want = _py_property_saturation(
            case["edges"], case["hierarchy"], case["transitive"], case["chains"]
        )
        df = spark.createDataFrame(sorted(case["edges"]), ["s", "p", "o"])
        for thr in (2_000_000, 0):
            got = {
                (r["s"], r["p"], r["o"])
                for r in property_closure(
                    df, case["hierarchy"], case["transitive"], case["chains"],
                    local_threshold=thr,
                ).collect()
            }
            assert got == want, (i, thr, sorted(got ^ want)[:8])
        if i == 0:  # got: the local_threshold=0 keyword call's edges
            bench_shape = property_closure(
                df, case["hierarchy"], case["transitive"], case["chains"],
                None, local_threshold=0,
            )
            assert {(r["s"], r["p"], r["o"]) for r in bench_shape.collect()} == got


def test_entail_degenerate_inputs(spark):
    # empty statements, annotation-only statements, and a minimal
    # two-class ontology — the edges a user hits first when wiring up
    empty = spark.createDataFrame([], "subject string, predicate string, object string")
    no_classes = spark.createDataFrame([], "id string")
    assert _entail_regimes(empty, no_classes) == set()
    ann = spark.createDataFrame(
        [("A", "rdfs:label", "x")], ["subject", "predicate", "object"]
    )
    assert _entail_regimes(ann, no_classes) == set()
    one = spark.createDataFrame(
        [
            ("A", "rdfs:subClassOf", "B"),
            ("A", "rdf:type", "owl:Class"),
            ("B", "rdf:type", "owl:Class"),
        ],
        ["subject", "predicate", "object"],
    )
    cls = spark.createDataFrame([("A",), ("B",)], ["id"])
    got = sorted(_entail_regimes(one, cls))
    assert got == [
        ("A", "rdfs:subClassOf", "A"),
        ("A", "rdfs:subClassOf", "B"),
        ("B", "rdfs:subClassOf", "B"),
    ]


def _union_fixture_statements(rnd, n, edges, mem):
    """The union/subclass fixture as statements, plus restrictions, a
    transitive property, a sub-property, a chain, a domain, an
    intersection, individuals and null-object rows."""
    rows = [(f"c{i}", "rdf:type", "owl:Class") for i in range(n)]
    rows += [(s, "rdfs:subClassOf", o) for s, o in sorted(edges)]

    def rdf_list(tag, items):
        cells = [f"_:{tag}_{i}" for i in range(len(items))]
        for i, item in enumerate(items):
            nxt = cells[i + 1] if i + 1 < len(items) else "rdf:nil"
            rows.extend([(cells[i], "rdf:first", item), (cells[i], "rdf:rest", nxt)])
        return cells[0]

    by_bn: dict = {}
    for bn, m in sorted(set(mem)):
        by_bn.setdefault(bn, []).append(m)
    for bn, ms in by_bn.items():
        rows.append((bn, "owl:unionOf", rdf_list(f"l{bn}", ms)))
    # every member of u0 under "top": elimination must derive u0 ⊑ top
    rows += [(m, "rdfs:subClassOf", "top") for m in by_bn["u0"]]
    for k in range(6):
        a, c = rnd.sample(range(n), 2)
        rows += [
            (f"c{a}", "rdfs:subClassOf", f"_:r{k}"),
            (f"_:r{k}", "owl:onProperty", f"p{k % 3}"),
            (f"_:r{k}", "owl:someValuesFrom", f"c{c}"),
        ]
    rows += [
        ("p0", "rdf:type", "owl:TransitiveProperty"),
        ("p1", "rdfs:subPropertyOf", "p0"),
        ("p2", "owl:propertyChainAxiom", rdf_list("ch", ["p2", "p1"])),
        ("p2", "rdfs:domain", f"c{rnd.randrange(n)}"),
        ("_:i0", "owl:intersectionOf", rdf_list("il", ["c1", "c2"])),
        ("c3", "rdfs:subClassOf", "_:i0"),
        ("i0", "rdf:type", f"c{rnd.randrange(n)}"),
        ("i1", "rdf:type", "u0"),
        ("c4", "rdfs:subClassOf", None),
        ("i2", "rdf:type", None),
    ]
    return rows


def test_union_elimination_regimes_agree(spark):
    # driver fixpoint vs forced-distributed loop on randomized
    # union/subclass fixtures — identical augmented edges AND closure;
    # the same fixtures as statements through entail() and the driver
    # twin _local_entail — identical edges and saturated state
    import random

    from kbase_cdm_ontologies_spark.operators.closure import (
        _local_entail,
        canonicalize_expressions,
        drop_non_el_axioms,
    )

    rnd = random.Random(17)
    for trial in range(3):
        n = 30
        edges = {(f"c{rnd.randrange(n)}", f"c{rnd.randrange(n)}") for _ in range(40)}
        edges = {(s, o) for s, o in edges if s != o}
        mem = []
        for u in range(4):
            for m in rnd.sample(range(n), k=rnd.randrange(2, 4)):
                mem.append((f"u{u}", f"c{m}"))
        sub = spark.createDataFrame(sorted(edges), ["s", "o"])
        um = spark.createDataFrame(sorted(set(mem)), ["bn", "member"])
        d_sub, d_tc = union_eliminated_subclass(sub, um, local_threshold=10**9)
        x_sub, x_tc = union_eliminated_subclass(sub, um, local_threshold=0)
        assert set(map(tuple, d_sub.collect())) == set(map(tuple, x_sub.collect())), trial
        assert set(map(tuple, d_tc.collect())) == set(map(tuple, x_tc.collect())), trial

        stmts = spark.createDataFrame(
            _union_fixture_statements(rnd, n, edges, mem),
            "subject string, predicate string, object string",
        )
        classes = [f"c{i}" for i in range(n)] + [f"u{u}" for u in range(4)] + ["top"]
        cap: dict = {}
        cls = spark.createDataFrame([(c,) for c in classes], ["id"])
        want = set(map(tuple, entail(stmts, cls, state_capture=cap).collect()))
        assert _entail_regimes(stmts, cls) == want
        pruned = canonicalize_expressions(
            prune_for_closure(drop_non_el_axioms(stmts))
        ).select("subject", "predicate", "object")
        local = _local_entail(list(map(tuple, pruned.collect())), classes)
        assert local["edges"] == want, (trial, sorted(local["edges"] ^ want)[:6])
        assert ("u0", "rdfs:subClassOf", "top") in want
        for key, cols in (
            ("sub", ["s", "o"]), ("rtc", ["s", "o"]),
            ("restr", ["a", "prop", "c"]), ("links", ["s", "p", "o"]),
            ("type_asserts", ["ind", "cls"]),
            ("union_membership", ["bn", "member"]),
        ):
            got = set(map(tuple, cap[key].select(*cols).collect()))
            assert local[key] == got, (trial, key, sorted(local[key] ^ got)[:6])
        assert local["schema"] == cap["schema"], trial


def _regime_fixture(spark):
    """Restrictions, a transitive property, a chain, a domain and an
    individual; no union, so only entail()'s driver regime calls
    _local_union_elimination."""
    rows = (
        [("w", "rdfs:subClassOf", "x"), ("i", "rdf:type", "w")]
        + _restriction("x", "_:b1", "p", "y")
        + _restriction("y", "_:b2", "p", "z")
        + [
            ("p", "rdf:type", "owl:TransitiveProperty"),
            ("p", "rdfs:domain", "D"),
            ("r", "owl:propertyChainAxiom", "_:l1"),
            ("_:l1", "rdf:first", "p"),
            ("_:l1", "rdf:rest", "_:l2"),
            ("_:l2", "rdf:first", "p"),
            ("_:l2", "rdf:rest", "rdf:nil"),
        ]
    )
    stmts = spark.createDataFrame(_stmt_rows(rows), STMT_SCHEMA)
    cls = spark.createDataFrame([(n,) for n in "wxyzD"], ["id"])
    return stmts, cls, _entail_regimes(stmts, cls)


def _no_driver_saturation(*_args, **_kwargs):
    raise AssertionError("entail() ran its driver regime")


def test_entail_driver_regime_falls_back(spark, monkeypatch):
    """Pruned rows over driverThreshold, or a subclass closure over the
    driver pair cap, run the hybrid path, which gives the full answer."""
    stmts, cls, hybrid = _regime_fixture(spark)
    assert ("x", "p", "z") in hybrid and ("i", "rdf:type", "x") in hybrid
    # 3 is below the fixture's 15 pruned rows: nothing saturates on
    # the driver
    monkeypatch.setattr(closure, "_local_entail", _no_driver_saturation)
    spark.conf.set(DRIVER_KEY, "3")
    try:
        assert _edge_set(entail(stmts, cls)) == hybrid
    finally:
        spark.conf.unset(DRIVER_KEY)
    monkeypatch.undo()
    calls = []

    def over_cap(*args):
        calls.append(args)
        return None, None

    monkeypatch.setattr(closure, "_local_union_elimination", over_cap)
    assert _edge_set(entail(stmts, cls)) == hybrid
    assert calls  # the driver regime ran and tripped the cap


def test_entail_large_base_falls_back(spark, monkeypatch):
    """A small input whose base links exceed property_closure's driver
    guard (rows, then estimated bytes) runs the hybrid path: 42
    statements build a 1,681-link base (C0..C39 and the restriction
    node each hold ∃p.C0, linked to those same 41 ancestors of C0)."""
    n = 40
    rows = [(f"C{i}", "rdfs:subClassOf", f"C{i + 1}") for i in range(n - 1)]
    rows += _restriction(f"C{n - 1}", "_:r", "p", "C0")
    stmts = spark.createDataFrame(_stmt_rows(rows), STMT_SCHEMA)
    cls = spark.createDataFrame([(f"C{i}",) for i in range(n)], ["id"])
    hybrid = _entail_regimes(stmts, cls)
    assert sum(p == "p" for _s, p, _o in hybrid) == n * n
    saturated, property_closures = [], []
    real_local, real_pc = closure._local_entail, closure.property_closure

    def local_entail(*args):
        saturated.append(real_local(*args))
        return saturated[-1]

    def property_closure(*args, **kwargs):
        property_closures.append(args)
        return real_pc(*args, **kwargs)

    monkeypatch.setattr(closure, "_local_entail", local_entail)
    monkeypatch.setattr(closure, "property_closure", property_closure)
    for key, value in (
        ("spark.graft.propertyClosure.localThreshold", "1000"),
        ("spark.graft.propertyClosure.driverMaxBytes", "4096"),
        (None, None),
    ):
        if key:
            spark.conf.set(key, value)
        try:
            assert _edge_set(entail(stmts, cls)) == hybrid, key
        finally:
            if key:
                spark.conf.unset(key)
        # under the guard (no key set) the driver regime saturates
        assert (saturated.pop() is None) == bool(property_closures) == bool(key)
        property_closures.clear()


def test_entail_forced_distributed_never_runs_driver(spark, monkeypatch):
    """property_local_threshold=0, or any localThreshold key at 0,
    forces the distributed fixpoints: the driver regime never runs."""
    stmts, cls, hybrid = _regime_fixture(spark)
    monkeypatch.setattr(closure, "_local_entail", _no_driver_saturation)
    got = entail(stmts, cls, property_local_threshold=0)
    assert _edge_set(got) == hybrid
    for key in LOCAL_KEYS:
        spark.conf.set(key, "0")
        try:
            assert _edge_set(entail(stmts, cls)) == hybrid, key
        finally:
            spark.conf.unset(key)


def test_entail_driver_regime_job_budget(spark, corpus_dfs):
    """entail() on the e2e fixture in the driver regime is a handful of
    Spark jobs: the prune and intern collects and one collect, plus
    the caller's count. A per-step job added to it later fails here."""
    from kbase_cdm_ontologies_spark.operators.canonicalize import (
        apply_canonical,
        canonical_map,
    )
    from kbase_cdm_ontologies_spark.plans.pipeline import class_node_ids

    stmts = corpus_dfs["statements"]
    canon = apply_canonical(stmts, canonical_map(stmts), ["subject", "object"])
    canon = canon.localCheckpoint()
    sc = spark.sparkContext
    sc.setJobGroup("entail_job_budget", "entail() driver regime")
    try:
        n = entail(canon, class_node_ids(canon)).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    jobs = sc.statusTracker().getJobIdsForGroup("entail_job_budget")
    assert n > 0 and 0 < len(jobs) <= 8, len(jobs)
