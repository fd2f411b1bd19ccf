"""OWL ingestion: RDF/XML and OWL functional-syntax documents ->
statements table rows.

Re-expresses the reference's two parsers with the same observable
semantics, distributed via mapInPandas:

- RDF/XML: DOM walk extracting ontology IRI, owl:imports, classes
  (rdf:about), labels/synonyms (literals with xml:lang), subClassOf
  (resource refs AND someValuesFrom restrictions reified through blank
  nodes), equivalentClass, isDefinedBy
  (reference scripts/analyze_core_ontologies.py:74-128 uses
  xml.etree.ElementTree the same way).
- Functional syntax: regex scan for Ontology(<...>), Import(<...>),
  Declaration(Class(<...>)), SubClassOf(<...> <...>)
  (reference scripts/analyze_non_core_ontologies.py:43,59-82, incl. the
  "Prefix(" sniff within the first 1000 chars).

Output rows use the semsql statements shape
(stanza, subject, predicate, object, value, datatype, language, graph)
with CURIEs compacted through the standard OBO base.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

RDF = "{http://www.w3.org/1999/02/22-rdf-syntax-ns#}"
RDFS = "{http://www.w3.org/2000/01/rdf-schema#}"
OWL = "{http://www.w3.org/2002/07/owl#}"
OIO = "{http://www.geneontology.org/formats/oboInOwl#}"
XML_LANG = "{http://www.w3.org/XML/1998/namespace}lang"

OBO_BASE = "http://purl.obolibrary.org/obo/"

STATEMENTS_SCHEMA = (
    "stanza string, subject string, predicate string, object string, "
    "value string, datatype string, language string, graph string"
)

_SYN_PREDS = {
    f"{OIO}hasExactSynonym": "oio:hasExactSynonym",
    f"{OIO}hasRelatedSynonym": "oio:hasRelatedSynonym",
    f"{OIO}hasBroadSynonym": "oio:hasBroadSynonym",
}

BLACKLIST_FILES = ("cp.owl", "has.owl", "is.owl", "apollo.owl")
ACCEPTED_EXTENSIONS = (".owl", ".ofn", ".obo")


def curie(iri: str) -> str:
    """IRI -> CURIE through the OBO base; already-compact ids pass
    through; blank nodes preserved."""
    if iri.startswith(OBO_BASE):
        local = iri[len(OBO_BASE):]
        if local.endswith(".owl"):
            return f"obo:{local}"
        return local.replace("_", ":", 1) if "_" in local else f"obo:{local}"
    if iri.startswith("http://www.w3.org/2002/07/owl#"):
        return "owl:" + iri.rsplit("#", 1)[1]
    return iri


def _resource(el) -> str | None:
    return el.get(f"{RDF}resource") or el.get(f"{RDF}about")


def parse_owl_xml(content: str, source_name: str) -> list[dict]:
    """One RDF/XML ontology document -> statements rows."""
    rows: list[dict] = []
    root = ET.fromstring(content)
    bn_counter = 0

    def stmt(stanza, subject, predicate, obj=None, value=None, datatype=None, language=None):
        rows.append(
            dict(stanza=stanza, subject=subject, predicate=predicate,
                 object=obj, value=value,
                 datatype=datatype if datatype else ("xsd:string" if value is not None and language is None else None),
                 language=language, graph=None)
        )

    onto_el = root.find(f"{OWL}Ontology")
    onto_iri = _resource(onto_el) if onto_el is not None else None
    onto_curie = curie(onto_iri) if onto_iri else source_name
    if onto_el is not None:
        stmt(onto_curie, onto_curie, "rdf:type", obj="owl:Ontology")
        for imp in onto_el.findall(f"{OWL}imports"):
            stmt(onto_curie, onto_curie, "owl:imports", obj=curie(_resource(imp) or ""))

    for cls in root.findall(f"{OWL}Class"):
        about = cls.get(f"{RDF}about")
        if not about:
            continue
        term = curie(about)
        stmt(term, term, "rdf:type", obj="owl:Class")
        for lab in cls.findall(f"{RDFS}label"):
            stmt(term, term, "rdfs:label", value=lab.text, language=lab.get(XML_LANG))
        for tag, pred in _SYN_PREDS.items():
            for syn in cls.findall(tag):
                stmt(term, term, pred, value=syn.text, language=syn.get(XML_LANG))
        for defby in cls.findall(f"{RDFS}isDefinedBy"):
            stmt(term, term, "rdfs:isDefinedBy", obj=curie(_resource(defby) or ""))
        for eq in cls.findall(f"{OWL}equivalentClass"):
            res = _resource(eq)
            if res:
                stmt(term, term, "owl:equivalentClass", obj=curie(res))
        for sub in cls.findall(f"{RDFS}subClassOf"):
            res = _resource(sub)
            if res:
                stmt(term, term, "rdfs:subClassOf", obj=curie(res))
                continue
            restr = sub.find(f"{OWL}Restriction")
            if restr is not None:
                bn = f"_:riog_{source_name}_{bn_counter:06d}"
                bn_counter += 1
                on_p = restr.find(f"{OWL}onProperty")
                some = restr.find(f"{OWL}someValuesFrom")
                stmt(term, term, "rdfs:subClassOf", obj=bn)
                if on_p is not None:
                    stmt(term, bn, "owl:onProperty", obj=curie(_resource(on_p) or ""))
                if some is not None:
                    stmt(term, bn, "owl:someValuesFrom", obj=curie(_resource(some) or ""))

    for ind in root.findall(f"{OWL}NamedIndividual"):
        about = ind.get(f"{RDF}about")
        if not about:
            continue
        term = curie(about)
        stmt(term, term, "rdf:type", obj="owl:NamedIndividual")
        for t in ind.findall(f"{RDF}type"):
            res = _resource(t)
            if res:
                stmt(term, term, "rdf:type", obj=curie(res))

    # object properties: declarations, characteristics (transitivity),
    # hierarchy, and property-chain axioms — the inputs relation-graph's
    # property-level entailment consumes (reference closure engine,
    # notebooks/workflow.ipynb:1631-1641; RO/BFO properties dominate the
    # golden entailed_edge table). <owl:TransitiveProperty rdf:about>
    # top-level elements are the serialization shorthand for
    # ObjectProperty + rdf:type owl:TransitiveProperty.
    for tag, extra_type in (
        (f"{OWL}ObjectProperty", None),
        (f"{OWL}TransitiveProperty", "owl:TransitiveProperty"),
    ):
        for prop in root.findall(tag):
            about = prop.get(f"{RDF}about")
            if not about:
                continue
            term = curie(about)
            stmt(term, term, "rdf:type", obj="owl:ObjectProperty")
            if extra_type:
                stmt(term, term, "rdf:type", obj=extra_type)
            for t in prop.findall(f"{RDF}type"):
                res = _resource(t)
                if res:
                    stmt(term, term, "rdf:type", obj=curie(res))
            for lab in prop.findall(f"{RDFS}label"):
                stmt(term, term, "rdfs:label", value=lab.text, language=lab.get(XML_LANG))
            for sup in prop.findall(f"{RDFS}subPropertyOf"):
                res = _resource(sup)
                if res:
                    stmt(term, term, "rdfs:subPropertyOf", obj=curie(res))
            for chain in prop.findall(f"{OWL}propertyChainAxiom"):
                # parseType="Collection": children are the chain members
                # in order; reify as a standard rdf:first/rdf:rest list
                members = [
                    curie(_resource(d) or "")
                    for d in chain
                    if _resource(d)
                ]
                if not members:
                    continue
                bns = []
                for _ in members:
                    bns.append(f"_:chain_{source_name}_{bn_counter:06d}")
                    bn_counter += 1
                stmt(term, term, "owl:propertyChainAxiom", obj=bns[0])
                for i, m in enumerate(members):
                    stmt(term, bns[i], "rdf:first", obj=m)
                    nxt = bns[i + 1] if i + 1 < len(members) else "rdf:nil"
                    stmt(term, bns[i], "rdf:rest", obj=nxt)
    return rows


# --- functional syntax (reference analyze_non_core_ontologies.py:59-82) ----

_FN_ONTOLOGY = re.compile(r"Ontology\(<([^>]+)>")
_FN_IMPORT = re.compile(r"Import\(<([^>]+)>\)")
_FN_DECL = re.compile(r"Declaration\(Class\(<([^>]+)>\)\)")
_FN_SUBCLASS = re.compile(r"SubClassOf\(<([^>]+)> <([^>]+)>\)")
_FN_DECL_OP = re.compile(r"Declaration\(ObjectProperty\(<([^>]+)>\)\)")
_FN_TRANSITIVE = re.compile(r"TransitiveObjectProperty\(<([^>]+)>\)")
_FN_SUBPROP = re.compile(r"SubObjectPropertyOf\(<([^>]+)> <([^>]+)>\)")
_FN_CHAIN = re.compile(
    r"SubObjectPropertyOf\(ObjectPropertyChain\(((?:<[^>]+>\s*)+)\) <([^>]+)>\)"
)
_FN_IRI = re.compile(r"<([^>]+)>")


def is_functional_syntax(content: str) -> bool:
    """Reference sniff: 'Prefix(' within the first 1000 chars
    (analyze_non_core_ontologies.py:43)."""
    return "Prefix(" in content[:1000]


def parse_functional_syntax(content: str, source_name: str) -> list[dict]:
    rows: list[dict] = []
    m = _FN_ONTOLOGY.search(content)
    onto = curie(m.group(1)) if m else source_name

    def stmt(subject, predicate, obj):
        rows.append(
            dict(stanza=subject, subject=subject, predicate=predicate,
                 object=obj, value=None, datatype=None, language=None, graph=None)
        )

    stmt(onto, "rdf:type", "owl:Ontology")
    for imp in _FN_IMPORT.findall(content):
        stmt(onto, "owl:imports", curie(imp))
    for decl in _FN_DECL.findall(content):
        t = curie(decl)
        stmt(t, "rdf:type", "owl:Class")
    for s, o in _FN_SUBCLASS.findall(content):
        stmt(curie(s), "rdfs:subClassOf", curie(o))
    for decl in _FN_DECL_OP.findall(content):
        stmt(curie(decl), "rdf:type", "owl:ObjectProperty")
    for p in _FN_TRANSITIVE.findall(content):
        stmt(curie(p), "rdf:type", "owl:TransitiveProperty")
    for s, o in _FN_SUBPROP.findall(content):
        stmt(curie(s), "rdfs:subPropertyOf", curie(o))
    chain_counter = 0
    for members_raw, sup in _FN_CHAIN.findall(content):
        members = [curie(m) for m in _FN_IRI.findall(members_raw)]
        term = curie(sup)
        bns = []
        for _ in members:
            bns.append(f"_:chain_{source_name}_{chain_counter:06d}")
            chain_counter += 1
        rows.append(
            dict(stanza=term, subject=term, predicate="owl:propertyChainAxiom",
                 object=bns[0], value=None, datatype=None, language=None, graph=None)
        )
        for i, m in enumerate(members):
            nxt = bns[i + 1] if i + 1 < len(members) else "rdf:nil"
            for pred, obj in (("rdf:first", m), ("rdf:rest", nxt)):
                rows.append(
                    dict(stanza=term, subject=bns[i], predicate=pred, object=obj,
                         value=None, datatype=None, language=None, graph=None)
                )
    return rows


# --- OBO flat-file format (reference merges .obo inputs:
# scripts/merge_ontologies.py:66 admits them; the standard OBO->OWL
# mapping below follows the public obographs/ROBOT translation) -------------

_OBO_SYN_SCOPE = {
    "EXACT": "oio:hasExactSynonym",
    "RELATED": "oio:hasRelatedSynonym",
    "BROAD": "oio:hasBroadSynonym",
    "NARROW": "oio:hasRelatedSynonym",  # collapsed like the semsql view
}
_OBO_SYN_RE = re.compile(r'^"((?:[^"\\]|\\.)*)"\s*(EXACT|RELATED|BROAD|NARROW)?')


def is_obo(content: str) -> bool:
    head = content[:2000]
    return head.lstrip().startswith("format-version:") or "\n[Term]" in head


def parse_obo(content: str, source_name: str) -> list[dict]:
    """OBO 1.2 flat file -> statements rows (same shape as the RDF/XML
    parser). Mapping: [Term] -> owl:Class (name/synonym/is_a/
    relationship-as-someValuesFrom/equivalent_to); [Typedef] ->
    owl:ObjectProperty (is_transitive, is_a -> subPropertyOf,
    holds_over_chain / transitive_over -> propertyChainAxiom)."""
    rows: list[dict] = []
    bn_counter = 0

    def stmt(stanza, subject, predicate, obj=None, value=None, language=None):
        rows.append(
            dict(stanza=stanza, subject=subject, predicate=predicate,
                 object=obj, value=value,
                 datatype="xsd:string" if value is not None else None,
                 language=language, graph=None)
        )

    onto = f"obo:{source_name.lower()}.owl"
    header_done = False
    cur_id: str | None = None
    cur_kind: str | None = None

    def chain_stmts(owner: str, members: list[str]) -> None:
        nonlocal bn_counter
        bns = []
        for _ in members:
            bns.append(f"_:obochain_{source_name}_{bn_counter:06d}")
            bn_counter += 1
        stmt(owner, owner, "owl:propertyChainAxiom", obj=bns[0])
        for i, m in enumerate(members):
            nxt = bns[i + 1] if i + 1 < len(members) else "rdf:nil"
            stmt(owner, bns[i], "rdf:first", obj=m)
            stmt(owner, bns[i], "rdf:rest", obj=nxt)

    for raw_line in content.splitlines():
        line = raw_line.split(" ! ")[0].strip()  # drop trailing comments
        if not line:
            continue
        if line.startswith("["):
            cur_kind = line.strip("[]").lower()
            cur_id = None
            header_done = True
            continue
        if ":" not in line:
            continue
        tag, val = line.split(":", 1)
        tag, val = tag.strip(), val.strip()
        if not header_done:
            if tag == "ontology":
                onto = f"obo:{val.lower()}.owl"
                stmt(onto, onto, "rdf:type", obj="owl:Ontology")
            continue
        if tag == "id":
            cur_id = val
            if cur_kind == "term":
                stmt(cur_id, cur_id, "rdf:type", obj="owl:Class")
            elif cur_kind == "typedef":
                stmt(cur_id, cur_id, "rdf:type", obj="owl:ObjectProperty")
            continue
        if cur_id is None or cur_kind not in ("term", "typedef"):
            continue
        if tag == "name":
            stmt(cur_id, cur_id, "rdfs:label", value=val)
        elif tag == "synonym" and cur_kind == "term":
            m = _OBO_SYN_RE.match(val)
            if m:
                pred = _OBO_SYN_SCOPE.get(m.group(2) or "RELATED", "oio:hasRelatedSynonym")
                stmt(cur_id, cur_id, pred, value=m.group(1).replace('\\"', '"'))
        elif tag == "is_a":
            pred = "rdfs:subClassOf" if cur_kind == "term" else "rdfs:subPropertyOf"
            stmt(cur_id, cur_id, pred, obj=val)
        elif tag == "equivalent_to" and cur_kind == "term":
            stmt(cur_id, cur_id, "owl:equivalentClass", obj=val)
        elif tag == "relationship" and cur_kind == "term":
            parts = val.split()
            if len(parts) >= 2:
                bn = f"_:obor_{source_name}_{bn_counter:06d}"
                bn_counter += 1
                stmt(cur_id, cur_id, "rdfs:subClassOf", obj=bn)
                stmt(cur_id, bn, "owl:onProperty", obj=parts[0])
                stmt(cur_id, bn, "owl:someValuesFrom", obj=parts[1])
        elif tag == "is_transitive" and cur_kind == "typedef" and val == "true":
            stmt(cur_id, cur_id, "rdf:type", obj="owl:TransitiveProperty")
        elif tag == "holds_over_chain" and cur_kind == "typedef":
            members = val.split()
            if len(members) >= 2:
                chain_stmts(cur_id, members)
        elif tag == "transitive_over" and cur_kind == "typedef":
            # p transitive_over q  ==  p o q subPropertyOf p
            chain_stmts(cur_id, [cur_id, val])
        elif tag == "is_obsolete" and val == "true":
            stmt(cur_id, cur_id, "owl:deprecated", value="true")
    return rows


def parse_document(content: str, source_name: str) -> list[dict]:
    if is_functional_syntax(content):
        return parse_functional_syntax(content, source_name)
    if is_obo(content):
        return parse_obo(content, source_name)
    return parse_owl_xml(content, source_name)


def owl_documents_to_statements(docs: DataFrame) -> DataFrame:
    """docs(path string, content binary|string) -> statements DataFrame.

    Distributed parse (one document per row; gzip-transparent). The
    extension filter keeps .owl/.ofn/.obo (merge_ontologies.py:63-67)
    and the reference's blacklist is dropped (enhanced_download.py:169).
    """
    from pyspark.sql import functions as F

    src = docs.where(
        F.col("path").rlike(r"\.(owl|ofn|obo)(\.gz)?$")
        & ~F.element_at(F.split(F.col("path"), "/"), -1).isin(*BLACKLIST_FILES)
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip

        cols = ["stanza", "subject", "predicate", "object", "value", "datatype", "language", "graph"]
        for pdf in batches:
            out: list[dict] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content) if isinstance(content, (bytes, bytearray)) else str(content).encode()
                if raw[:2] == b"\x1f\x8b":
                    raw = gzip.decompress(raw)
                name = path.rsplit("/", 1)[-1].split(".")[0]
                rows = parse_document(raw.decode("utf-8", "replace"), name)
                # graph column = source document: the per-file identity
                # that survives merge grouping even for rows whose
                # stanza is a foreign namespace (shared BFO/RO property
                # declarations inside an ontology file)
                for r in rows:
                    r["graph"] = name
                out.extend(rows)
            yield pd.DataFrame(out, columns=cols) if out else pd.DataFrame(
                {c: pd.Series(dtype="object") for c in cols}
            )

    return src.select("path", "content").mapInPandas(_run, STATEMENTS_SCHEMA)
