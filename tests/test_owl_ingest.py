"""OWL ingestion: RDF/XML + functional syntax -> statements, ROBOT-merge
semantics, and the full OWL -> KG path against the closure oracle."""

import gzip
import re

from conftest import entail_regimes
from pyspark.sql import functions as F

from kbase_cdm_ontologies_spark.operators.merge import merge_ontologies, remove_axioms
from kbase_cdm_ontologies_spark.sources.owl import (
    OBO_BASE,
    curie,
    owl_documents_to_statements,
    parse_functional_syntax,
    parse_owl_xml,
)

_STMT_COLS = ["stanza", "subject", "predicate", "object", "value", "datatype", "language", "graph"]

# --- RDF/XML fixture writer (round-trip: render -> parse == id) -------------

_NS_DECL = (
    'xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
    'xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#" '
    'xmlns:owl="http://www.w3.org/2002/07/owl#" '
    'xmlns:oboInOwl="http://www.geneontology.org/formats/oboInOwl#" '
    'xmlns:xml="http://www.w3.org/XML/1998/namespace"'
)

_SYN_TAG = {
    "oio:hasExactSynonym": "oboInOwl:hasExactSynonym",
    "oio:hasRelatedSynonym": "oboInOwl:hasRelatedSynonym",
    "oio:hasBroadSynonym": "oboInOwl:hasBroadSynonym",
}


def uncurie(c: str) -> str:
    if c.startswith("obo:"):
        return OBO_BASE + c[4:]
    if c.startswith("owl:"):
        return "http://www.w3.org/2002/07/owl#" + c[4:]
    if re.match(r"^[A-Za-z]+:[A-Za-z0-9]+$", c):
        return OBO_BASE + c.replace(":", "_", 1)
    return c


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")
    )


def render_owl_xml(rows: list[dict], onto_name: str) -> str:
    """Statements rows (one ontology) -> RDF/XML. Inverse of
    parse_owl_xml for the statement subset the fixture uses."""
    by_subject: dict[str, list[dict]] = {}
    bn_rows: dict[str, list[dict]] = {}
    for r in rows:
        if r["subject"].startswith("_:"):
            bn_rows.setdefault(r["subject"], []).append(r)
        else:
            by_subject.setdefault(r["subject"], []).append(r)

    out = [f'<?xml version="1.0"?>\n<rdf:RDF {_NS_DECL}>']
    out.append(
        f'  <owl:Ontology rdf:about="{OBO_BASE}{onto_name.lower()}.owl"/>'
    )
    for subject in sorted(by_subject):
        srows = by_subject[subject]
        if not any(r["predicate"] == "rdf:type" and r["object"] == "owl:Class" for r in srows):
            continue
        out.append(f'  <owl:Class rdf:about="{uncurie(subject)}">')
        for r in srows:
            p, o, v, lang = r["predicate"], r["object"], r["value"], r["language"]
            if p == "rdfs:label":
                la = f' xml:lang="{lang}"' if lang else ""
                out.append(f"    <rdfs:label{la}>{_esc(v)}</rdfs:label>")
            elif p in _SYN_TAG:
                la = f' xml:lang="{lang}"' if lang else ""
                t = _SYN_TAG[p]
                out.append(f"    <{t}{la}>{_esc(v)}</{t}>")
            elif p == "rdfs:isDefinedBy":
                out.append(f'    <rdfs:isDefinedBy rdf:resource="{uncurie(o)}"/>')
            elif p == "owl:equivalentClass":
                out.append(f'    <owl:equivalentClass rdf:resource="{uncurie(o)}"/>')
            elif p == "rdfs:subClassOf" and o and not o.startswith("_:"):
                out.append(f'    <rdfs:subClassOf rdf:resource="{uncurie(o)}"/>')
            elif p == "rdfs:subClassOf" and o and o.startswith("_:"):
                parts = {rr["predicate"]: rr["object"] for rr in bn_rows.get(o, [])}
                out.append("    <rdfs:subClassOf>")
                out.append("      <owl:Restriction>")
                if "owl:onProperty" in parts:
                    out.append(
                        f'        <owl:onProperty rdf:resource="{uncurie(parts["owl:onProperty"])}"/>'
                    )
                if "owl:someValuesFrom" in parts:
                    out.append(
                        f'        <owl:someValuesFrom rdf:resource="{uncurie(parts["owl:someValuesFrom"])}"/>'
                    )
                out.append("      </owl:Restriction>")
                out.append("    </rdfs:subClassOf>")
        out.append("  </owl:Class>")
    for subject in sorted(by_subject):
        srows = by_subject[subject]
        if not any(
            r["predicate"] == "rdf:type" and r["object"] == "owl:ObjectProperty"
            for r in srows
        ):
            continue
        out.append(f'  <owl:ObjectProperty rdf:about="{uncurie(subject)}">')
        for r in srows:
            p, o, v, lang = r["predicate"], r["object"], r["value"], r["language"]
            if p == "rdf:type" and o not in ("owl:ObjectProperty",):
                out.append(f'    <rdf:type rdf:resource="{uncurie(o)}"/>')
            elif p == "rdfs:label":
                la = f' xml:lang="{lang}"' if lang else ""
                out.append(f"    <rdfs:label{la}>{_esc(v)}</rdfs:label>")
            elif p == "rdfs:subPropertyOf":
                out.append(f'    <rdfs:subPropertyOf rdf:resource="{uncurie(o)}"/>')
            elif p == "owl:propertyChainAxiom":
                # walk the rdf:first/rdf:rest list back into Collection form
                members, bn = [], o
                while bn and bn != "rdf:nil":
                    parts = {rr["predicate"]: rr["object"] for rr in bn_rows.get(bn, [])}
                    if "rdf:first" in parts:
                        members.append(parts["rdf:first"])
                    bn = parts.get("rdf:rest")
                out.append('    <owl:propertyChainAxiom rdf:parseType="Collection">')
                for m in members:
                    out.append(f'      <rdf:Description rdf:about="{uncurie(m)}"/>')
                out.append("    </owl:propertyChainAxiom>")
        out.append("  </owl:ObjectProperty>")
    for subject in sorted(by_subject):
        srows = by_subject[subject]
        if not any(
            r["predicate"] == "rdf:type" and r["object"] == "owl:NamedIndividual"
            for r in srows
        ):
            continue
        out.append(f'  <owl:NamedIndividual rdf:about="{uncurie(subject)}">')
        for r in srows:
            if r["predicate"] == "rdf:type" and r["object"] not in (
                "owl:NamedIndividual",
            ):
                out.append(f'    <rdf:type rdf:resource="{uncurie(r["object"])}"/>')
        out.append("  </owl:NamedIndividual>")
    out.append("</rdf:RDF>")
    return "\n".join(out)


def _onto_rows(corpus, onto):
    return [s for s in corpus.statements if s["stanza"].startswith(onto)]


def _named_triples(rows):
    """Comparable view: non-blank-node rows minus per-parser details."""
    return {
        (r["subject"], r["predicate"], r["object"], r["value"], r["language"])
        for r in rows
        if not r["subject"].startswith("_:")
        and not (r["object"] or "").startswith("_:")  # bn refs compared via _restrictions
        and r["predicate"] not in ("rdfs:isDefinedBy",)
    }


def _restrictions(rows):
    by_bn = {}
    for r in rows:
        if r["subject"].startswith("_:") and r["predicate"] in (
            "owl:onProperty",
            "owl:someValuesFrom",
        ):  # chain rdf-list bnodes are compared structurally elsewhere
            by_bn.setdefault((r["stanza"], r["subject"]), {})[r["predicate"]] = r["object"]
    return {
        (stanza, d.get("owl:onProperty"), d.get("owl:someValuesFrom"))
        for (stanza, _bn), d in by_bn.items()
    }


def test_curie_roundtrip():
    for c in ["AAA:0000001", "BFO:0000050", "owl:Class", "obo:aaa.owl"]:
        assert curie(uncurie(c)) == c


def test_render_parse_roundtrip(corpus):
    for onto in ("AAA", "BBB", "CCC"):
        rows = _onto_rows(corpus, onto)
        parsed = parse_owl_xml(render_owl_xml(rows, onto), onto)
        assert _named_triples(parsed) >= _named_triples(
            [r for r in rows if r["predicate"] != "rdfs:isDefinedBy"]
        ) - {(s, p, o, v, la) for (s, p, o, v, la) in _named_triples(rows) if p == "rdf:type" and o == "owl:Ontology"}
        assert _restrictions(parsed) == _restrictions(rows)


def test_distributed_ingest_and_merge(spark, corpus):
    docs = []
    for onto in ("AAA", "BBB", "CCC"):
        xml = render_owl_xml(_onto_rows(corpus, onto), onto)
        content = xml.encode()
        if onto == "BBB":
            content = gzip.compress(content)  # gzip-transparent path
            docs.append((f"/onto/{onto.lower()}.owl.gz", content))
        else:
            docs.append((f"/onto/{onto.lower()}.owl", content))
    docs.append(("/onto/cp.owl", b"<bad/>"))  # blacklisted
    docs.append(("/onto/readme.txt", b"not an ontology"))  # wrong extension
    df = spark.createDataFrame(docs, "path string, content binary")
    stmts = owl_documents_to_statements(df).cache()

    # only the 3 real ontologies parsed
    ontos = {
        r["o"]
        for r in stmts.where("predicate = 'rdf:type' AND object = 'owl:Ontology'")
        .select(F.col("subject").alias("o"))
        .collect()
    }
    assert ontos == {"obo:aaa.owl", "obo:bbb.owl", "obo:ccc.owl"}

    per_source = {
        onto: stmts.where(F.col("graph") == onto.lower())
        for onto in ("AAA", "BBB", "CCC")
    }
    merged = merge_ontologies(per_source)
    # every named class triple of the fixture survives the merge
    got = _named_triples([r.asDict() for r in merged.collect()])
    want = _named_triples(
        [r for r in corpus.statements if r["subject"] != "owl:Nothing" and not r["subject"].startswith("_:")]
    )
    missing = {w for w in want if w not in got and w[1] != "rdf:type"}
    assert not missing, sorted(missing)[:5]


def test_owl_path_reaches_oracle_closure(spark, corpus):
    """Full parity path: OWL files -> parse -> merge -> canonicalize ->
    entail == the plain-Python closure oracle."""
    docs = [
        (f"/onto/{o.lower()}.owl", render_owl_xml(_onto_rows(corpus, o), o).encode())
        for o in ("AAA", "BBB", "CCC")
    ]
    stmts = owl_documents_to_statements(
        spark.createDataFrame(docs, "path string, content binary")
    )
    from kbase_cdm_ontologies_spark.operators.canonicalize import (
        apply_canonical,
        canonical_map,
    )
    from kbase_cdm_ontologies_spark.plans.pipeline import class_node_ids
    from kbase_cdm_ontologies_spark.sources.corpus import _closure_oracle

    cmap = canonical_map(stmts)
    canon = apply_canonical(stmts, cmap, ["subject", "object"])
    got = entail_regimes(canon, class_node_ids(canon))
    assert got == _closure_oracle(corpus)


def test_functional_syntax_parse():
    doc = """Prefix(:=<http://purl.obolibrary.org/obo/zzz.owl#>)
Ontology(<http://purl.obolibrary.org/obo/zzz.owl>
Import(<http://purl.obolibrary.org/obo/aaa.owl>)
Declaration(Class(<http://purl.obolibrary.org/obo/ZZZ_0000001>))
Declaration(Class(<http://purl.obolibrary.org/obo/ZZZ_0000002>))
SubClassOf(<http://purl.obolibrary.org/obo/ZZZ_0000002> <http://purl.obolibrary.org/obo/ZZZ_0000001>)
)"""
    rows = parse_functional_syntax(doc, "zzz")
    trip = {(r["subject"], r["predicate"], r["object"]) for r in rows}
    assert ("obo:zzz.owl", "owl:imports", "obo:aaa.owl") in trip
    assert ("ZZZ:0000001", "rdf:type", "owl:Class") in trip
    assert ("ZZZ:0000002", "rdfs:subClassOf", "ZZZ:0000001") in trip


def test_remove_axioms_and_pseudo_base(spark):
    rows = [
        ("A:1", "A:1", "rdfs:subClassOf", "A:2", None, None, None, None),
        ("A:1", "A:1", "owl:disjointWith", "B:1", None, None, None, None),
        ("owl:Nothing", "owl:Nothing", "rdfs:subClassOf", "A:1", None, None, None, None),
        ("B:1", "B:1", "rdfs:subClassOf", "A:1", None, None, None, None),
    ]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in _STMT_COLS))
    cleaned = {(r["subject"], r["predicate"]) for r in remove_axioms(df).collect()}
    assert ("A:1", "owl:disjointWith") not in cleaned
    assert ("owl:Nothing", "rdfs:subClassOf") not in cleaned
    assert cleaned == {("A:1", "rdfs:subClassOf"), ("B:1", "rdfs:subClassOf")}


def test_object_property_roundtrip_and_entailment(spark):
    """OWL-ingest parity for property-level schema: an ontology with a
    transitive property, a subproperty, and a chain axiom round-trips
    through render -> parse and the parsed statements entail the
    hand-computed property closure."""
    rows = [
        dict(stanza=s, subject=s, predicate=p, object=o, value=None,
             datatype=None, language=None, graph=None)
        for s, p, o in [
            # classes x ⊑ ∃part_of.y, y ⊑ ∃part_of.z
            ("PPP:0000001", "rdf:type", "owl:Class"),
            ("PPP:0000002", "rdf:type", "owl:Class"),
            ("PPP:0000003", "rdf:type", "owl:Class"),
            ("PPP:0000001", "rdfs:subClassOf", "_:r1"),
            ("_:r1", "owl:onProperty", "BFO:0000050"),
            ("_:r1", "owl:someValuesFrom", "PPP:0000002"),
            ("PPP:0000002", "rdfs:subClassOf", "_:r2"),
            ("_:r2", "owl:onProperty", "BFO:0000050"),
            ("_:r2", "owl:someValuesFrom", "PPP:0000003"),
            # part_of: transitive, ⊑ overlaps; overlaps o part_of ⊑ overlaps
            ("BFO:0000050", "rdf:type", "owl:ObjectProperty"),
            ("BFO:0000050", "rdf:type", "owl:TransitiveProperty"),
            ("BFO:0000050", "rdfs:subPropertyOf", "RO:0002131"),
            ("RO:0002131", "rdf:type", "owl:ObjectProperty"),
            ("RO:0002131", "owl:propertyChainAxiom", "_:l1"),
            ("_:l1", "rdf:first", "RO:0002131"),
            ("_:l1", "rdf:rest", "_:l2"),
            ("_:l2", "rdf:first", "BFO:0000050"),
            ("_:l2", "rdf:rest", "rdf:nil"),
        ]
    ]
    xml = render_owl_xml(rows, "PPP")
    parsed = parse_owl_xml(xml, "PPP")
    trip = {(r["subject"], r["predicate"], r["object"]) for r in parsed}
    assert ("BFO:0000050", "rdf:type", "owl:TransitiveProperty") in trip
    assert ("BFO:0000050", "rdfs:subPropertyOf", "RO:0002131") in trip
    # chain list re-parsed intact (blank-node names differ; shape checked)
    chain_bn = [o for s, p, o in trip if p == "owl:propertyChainAxiom"]
    assert len(chain_bn) == 1
    firsts = {s: o for s, p, o in trip if p == "rdf:first"}
    rests = {s: o for s, p, o in trip if p == "rdf:rest"}
    members, bn = [], chain_bn[0]
    while bn != "rdf:nil":
        members.append(firsts[bn])
        bn = rests[bn]
    assert members == ["RO:0002131", "BFO:0000050"]

    from kbase_cdm_ontologies_spark.plans.pipeline import class_node_ids

    stmts = spark.createDataFrame(
        parsed,
        "stanza string, subject string, predicate string, object string, "
        "value string, datatype string, language string, graph string",
    )
    got = {
        t for t in entail_regimes(stmts, class_node_ids(stmts))
        if t[1] != "rdfs:subClassOf"
    }
    P, O = "BFO:0000050", "RO:0002131"
    x, y, z = "PPP:0000001", "PPP:0000002", "PPP:0000003"
    want = {
        (x, P, y), (y, P, z),
        (x, P, z),                      # Trans(part_of)
        (x, O, y), (y, O, z), (x, O, z),  # SubRole lift
        # Chain overlaps o part_of ⊑ overlaps adds nothing new here
        # beyond edges already present via the lift of closed part_of
    }
    assert got == want


OBO_DOC = """format-version: 1.2
ontology: ddd

[Term]
id: DDD:0000001
name: root thing
synonym: "the root" EXACT []
synonym: "rootish" RELATED []

[Term]
id: DDD:0000002
name: child thing
is_a: DDD:0000001 ! root thing
relationship: part_of DDD:0000001 ! root thing
equivalent_to: AAA:0000001

[Term]
id: DDD:0000003
name: gone thing
is_obsolete: true

[Typedef]
id: part_of
name: part of
is_transitive: true
is_a: overlaps
xref: BFO:0000050

[Typedef]
id: regulates
holds_over_chain: regulates part_of
"""


def test_obo_parse():
    from kbase_cdm_ontologies_spark.sources.owl import parse_document, parse_obo

    rows = parse_obo(OBO_DOC, "ddd")
    trip = {(r["subject"], r["predicate"], r["object"]) for r in rows}
    vals = {(r["subject"], r["predicate"], r["value"]) for r in rows if r["value"]}
    assert ("obo:ddd.owl", "rdf:type", "owl:Ontology") in trip
    assert ("DDD:0000001", "rdf:type", "owl:Class") in trip
    assert ("DDD:0000002", "rdfs:subClassOf", "DDD:0000001") in trip
    assert ("DDD:0000002", "owl:equivalentClass", "AAA:0000001") in trip
    assert ("DDD:0000001", "rdfs:label", "root thing") in vals
    assert ("DDD:0000001", "oio:hasExactSynonym", "the root") in vals
    assert ("DDD:0000001", "oio:hasRelatedSynonym", "rootish") in vals
    # relationship -> someValuesFrom restriction through a blank node
    bn = [o for s, p, o in trip if s == "DDD:0000002" and p == "rdfs:subClassOf" and o.startswith("_:")]
    assert len(bn) == 1
    assert (bn[0], "owl:onProperty", "part_of") in trip
    assert (bn[0], "owl:someValuesFrom", "DDD:0000001") in trip
    # typedefs
    assert ("part_of", "rdf:type", "owl:ObjectProperty") in trip
    assert ("part_of", "rdf:type", "owl:TransitiveProperty") in trip
    assert ("part_of", "rdfs:subPropertyOf", "overlaps") in trip
    chain_bn = [o for s, p, o in trip if s == "regulates" and p == "owl:propertyChainAxiom"]
    assert len(chain_bn) == 1
    assert ("DDD:0000003", "owl:deprecated", "true") in vals
    # dispatch: parse_document must route .obo content to the OBO parser
    assert {(r["subject"], r["predicate"], r["object"]) for r in parse_document(OBO_DOC, "ddd")} == trip


def test_obo_through_distributed_ingest_and_entailment(spark):
    """A .obo file through the binaryFile->parse->entail path must not
    crash (round-1 defect: extension filter admitted .obo, parser threw)
    and must entail the transitive part_of closure it declares."""
    obo2 = OBO_DOC + """
[Term]
id: DDD:0000004
name: grandchild
relationship: part_of DDD:0000002
"""
    df = spark.createDataFrame(
        [("/onto/ddd.obo", obo2.encode())], "path string, content binary"
    )
    stmts = owl_documents_to_statements(df)
    from kbase_cdm_ontologies_spark.plans.pipeline import class_node_ids

    got = entail_regimes(stmts, class_node_ids(stmts))
    # part_of is transitive: grandchild part_of root via child, lifted
    # to overlaps through the subproperty
    assert ("DDD:0000004", "part_of", "DDD:0000002") in got
    assert ("DDD:0000004", "part_of", "DDD:0000001") in got
    assert ("DDD:0000004", "overlaps", "DDD:0000001") in got
