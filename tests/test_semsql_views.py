"""semsql 18-table layout parity (reference outputs_test/tsv_tables)."""

from collections import Counter

from pyspark.sql import functions as F

from kbase_cdm_ontologies_spark.operators.alias_dict import (
    build_alias_dict,
    with_candidate_counts,
)
from kbase_cdm_ontologies_spark.operators.closure import (
    prune_for_closure,
    restriction_axioms,
)
from kbase_cdm_ontologies_spark.operators.semsql_views import semsql_tables

# header shapes from outputs_test/tsv_tables/*.tsv (SURVEY.md §1.1.5)
EXPECTED_SCHEMAS = {
    "statements": ["stanza", "subject", "predicate", "object", "value", "datatype", "language", "graph"],
    "entailed_edge": ["subject", "predicate", "object"],
    "prefix": ["prefix", "base"],
    "owl_restriction": ["on_property", "filler", "id"],
    "has_oio_synonym_statement": ["subject", "predicate", "object", "value", "datatype", "language"],
    "term_association": ["id", "subject", "predicate", "object", "evidence_type", "publication", "source"],
    "owl_complex_axiom": ["subject", "predicate", "object"],
    "relation_graph_construct": ["subject", "predicate", "object"],
    "subgraph_query": ["subject", "predicate", "object", "anchor_object", "anchor_predicate"],
    "rdf_level_summary_statistic": ["element", "count_value"],
    "rdf_list_statement": ["subject", "predicate", "object", "value", "datatype", "language"],
    "lexical_problem": ["subject", "predicate", "value"],
    "repair_action": ["subject", "description"],
}


def _tables(spark, corpus_dfs):
    stmts = corpus_dfs["statements"]
    alias = with_candidate_counts(build_alias_dict(stmts))
    prefix = spark.createDataFrame([("obo", "http://purl.obolibrary.org/obo/")], ["prefix", "base"])
    owl_restr = restriction_axioms(prune_for_closure(stmts)).select(
        F.col("prop").alias("on_property"), F.col("c").alias("filler"), F.col("a").alias("id")
    )
    edges = spark.createDataFrame(
        [("A:1", "rdfs:subClassOf", "A:2")], ["subject", "predicate", "object"]
    )
    return semsql_tables(spark, stmts, edges, alias, prefix, owl_restr)


def test_all_18_tables_present_with_schemas(spark, corpus_dfs):
    t = _tables(spark, corpus_dfs)
    assert len(t) == 18
    for name, cols in EXPECTED_SCHEMAS.items():
        assert t[name].columns == cols, name


def test_populated_views(spark, corpus, corpus_dfs):
    t = _tables(spark, corpus_dfs)
    n_syn = sum(1 for s in corpus.statements if s["predicate"].startswith("oio:"))
    assert t["has_oio_synonym_statement"].count() == n_syn
    # the ambiguity fixture IS a lexical problem
    lex = {r["value"] for r in t["lexical_problem"].collect()}
    assert lex == {"omega factor"}
    assert t["anonymous_class_expression"].count() == 5  # 5 restriction bnodes
    # property-chain rdf list cells are rdf_list_statement rows, NOT
    # anonymous class expressions
    assert t["rdf_list_statement"].count() == 4
    assert t["term_association"].count() == 0  # empty-by-tier, schema kept
    # per-predicate row counts of the statements table
    stats = {
        r["element"]: r["count_value"]
        for r in t["rdf_level_summary_statistic"].collect()
    }
    assert stats == dict(Counter(s["predicate"] for s in corpus.statements))
