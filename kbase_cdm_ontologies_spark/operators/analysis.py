"""Ontology-analysis stage — DataFrame re-expression of the reference's
stages 1-2 (analyze_core_ontologies.py / analyze_non_core_ontologies.py):
per-ontology term censuses, own/external classification, external
subjects (semi-join), top-5 samples, and the Base/Non-Base
classification rule.

The reference walks XML DOMs per file; here every input is rows of the
statements table, so the whole stage is joins/aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import classify_ontology_expr, is_own_term_expr


def term_table(statements: DataFrame) -> DataFrame:
    """(onto, term, is_own): every named term with its declaring
    ontology (from rdfs:isDefinedBy, the ROBOT --annotate-defined-by
    analog) and the reference's own/external string rule applied to a
    reconstructed OBO-style IRI."""
    defined = statements.where(
        (F.col("predicate") == "rdfs:isDefinedBy") & ~F.col("subject").startswith("_:")
    ).select(
        F.col("subject").alias("term"),
        F.upper(
            F.regexp_extract(F.col("object"), r"obo[:/]([a-z]+)\.owl", 1)
        ).alias("onto"),
    )
    mentioned = (
        statements.where(
            F.col("object").isNotNull()
            & ~F.col("object").startswith("_:")
            & F.col("object").contains(":")
            & ~F.col("object").startswith("owl:")
            & ~F.col("object").startswith("obo:")
        )
        .select(
            F.col("object").alias("term"),
            F.split(F.col("stanza"), ":").getItem(0).alias("onto"),
        )
        .where(F.col("term").rlike(r"^[A-Z]+:[0-9]+$"))
    )
    # ontology short names are uppercase; drops blank/owl pseudo-stanzas
    terms = (
        defined.unionByName(mentioned)
        .where(F.col("onto").rlike("^[A-Z]+$") & (F.col("onto") != "OWL"))
        .distinct()
    )
    iri = F.concat(
        F.lit("http://purl.obolibrary.org/obo/"),
        F.regexp_replace("term", ":", "_"),
    )
    return terms.withColumn("is_own", is_own_term_expr(iri, F.col("onto")))


def analyze_ontologies(statements: DataFrame) -> DataFrame:
    """Per-ontology analysis record mirroring the reference's JSON
    (analyze_core_ontologies.py:205-215): own/external counts, external
    subjects, first-5 samples, classification."""
    t = term_table(statements)
    own_external = t.groupBy("onto").agg(
        F.countDistinct(F.when(F.col("is_own"), F.col("term"))).alias("own_terms_count"),
        F.countDistinct(F.when(~F.col("is_own"), F.col("term"))).alias("external_terms_count"),
        F.slice(
            F.sort_array(F.collect_set(F.when(F.col("is_own"), F.col("term")))), 1, 5
        ).alias("own_terms_sample"),
        F.slice(
            F.sort_array(F.collect_set(F.when(~F.col("is_own"), F.col("term")))), 1, 5
        ).alias("external_terms_sample"),
    )
    # external terms appearing as SUBJECT of >= 1 statement (semi-join;
    # reference analyze_core_ontologies.py:121-123)
    ext_subjects = (
        t.where(~F.col("is_own"))
        .join(
            statements.select(F.col("subject").alias("term")).distinct(),
            "term",
            "left_semi",
        )
        .groupBy("onto")
        .agg(F.countDistinct("term").alias("external_subjects_count"))
    )
    return (
        own_external.join(ext_subjects, "onto", "left")
        .na.fill({"external_subjects_count": 0})
        .withColumn(
            "classification",
            classify_ontology_expr(
                F.lit(False),
                F.col("own_terms_count"),
                F.col("external_terms_count"),
                F.concat(F.lower("onto"), F.lit(".owl")),
            ),
        )
    )

