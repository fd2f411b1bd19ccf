"""Ontology-analysis operators vs reference semantics
(analyze_core_ontologies.py / analyze_non_core_ontologies.py)."""

from pyspark.sql import functions as F

from kbase_cdm_ontologies_spark.functions.normalize import (
    classify_ontology_expr,
    normalize_iri_expr,
)
from kbase_cdm_ontologies_spark.operators.analysis import analyze_ontologies


def test_normalize_iri_reference_cases(spark):
    cases = [
        ("http://purl.obolibrary.org/obo/GO_0008150", "go"),
        ("http://purl.obolibrary.org/obo/NCBITaxon_9606", "ncbitaxon"),
        ("http://purl.obolibrary.org/obo/CHEBI#sub", "chebi"),
        ("http://purl.obolibrary.org/obo/bfo.owl", "bfo"),
        ("http://purl.obolibrary.org/obo/envo", "envo"),
        ("https://example.org/thing/1", None),
        ("http://www.w3.org/2002/07/owl#Class", None),
    ]
    df = spark.createDataFrame([(i,) for i, _ in cases], ["iri"])
    got = {r["iri"]: r["p"] for r in df.select("iri", normalize_iri_expr(F.col("iri")).alias("p")).collect()}
    for iri, want in cases:
        assert got[iri] == want, iri


def test_classification_rule(spark):
    rows = [
        # has_imports, own, external, filename -> expected
        (False, 100, 0, "go.owl", "Base"),
        (False, 500, 10, "pato.owl", "Potential-Base"),  # ratio > 10
        (False, 50, 10, "envo.owl", "Non-Base"),  # ratio <= 10
        (True, 100, 0, "xao-base.owl", "Base"),  # -base filename hint
        (True, 500, 10, "chebi.owl", "Non-Base"),
    ]
    df = spark.createDataFrame(
        [(a, b, c, d) for a, b, c, d, _ in rows],
        "has_imports boolean, own long, ext long, fn string",
    )
    got = [
        r["cls"]
        for r in df.select(
            classify_ontology_expr(
                F.col("has_imports"), F.col("own"), F.col("ext"), F.col("fn")
            ).alias("cls")
        ).collect()
    ]
    assert got == [want for *_, want in rows]


def test_analyze_ontologies_fixture(corpus_dfs, corpus):
    res = {r["onto"]: r for r in analyze_ontologies(corpus_dfs["statements"]).collect()}
    assert set(res) == {"AAA", "BBB", "CCC"}
    for onto in ("AAA", "BBB", "CCC"):
        r = res[onto]
        assert r["own_terms_count"] == corpus.spec.n_terms
        assert len(r["own_terms_sample"]) == 5
        assert r["own_terms_sample"] == sorted(r["own_terms_sample"])
    # cross-onto subclass edges make BBB/CCC reference external terms
    assert res["BBB"]["external_terms_count"] >= 1
    assert res["CCC"]["external_terms_count"] >= 1
    # the referenced external terms are subjects of their own statements
    assert res["BBB"]["external_subjects_count"] >= 1

