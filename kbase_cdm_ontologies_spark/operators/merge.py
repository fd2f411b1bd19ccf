"""Ontology merge — the Spark re-expression of `robot merge`
(reference scripts/merge_ontologies.py:92-117):

- union the per-source statement frames (unionByName)
- deduplicate identical axioms (ROBOT's merged-graph identity:
  subject/predicate/object/value/datatype/language)
- tag each statement with its source ontology, mirroring
  `--annotate-defined-by true` (the reference emits 10,763
  rdfs:isDefinedBy rows in the test tier)
- drop disjointness axioms and owl:Nothing
  (`robot remove --axioms disjoint` + `--term owl:Nothing`,
  merge_ontologies.py:101-111)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DISJOINT_PREDICATES = ("owl:disjointWith", "owl:propertyDisjointWith", "owl:disjointUnionOf")
_AXIOM_IDENTITY = ["subject", "predicate", "object", "value", "datatype", "language"]


def remove_axioms(statements: DataFrame) -> DataFrame:
    """`robot remove --axioms disjoint --term owl:Nothing` semantics."""
    return statements.where(
        ~F.col("predicate").isin(*DISJOINT_PREDICATES)
        & (F.col("subject") != "owl:Nothing")
        & (F.coalesce(F.col("object"), F.lit("")) != "owl:Nothing")
    )


def merge_ontologies(per_source: dict[str, DataFrame]) -> DataFrame:
    """{source_name: statements} -> merged statements with
    rdfs:isDefinedBy provenance rows added for each named subject."""
    tagged = []
    for name, df in sorted(per_source.items()):
        tagged.append(df.withColumn("_src", F.lit(name)))
    merged = reduce(lambda a, b: a.unionByName(b), tagged)
    deduped = (
        remove_axioms(merged)
        .dropDuplicates(_AXIOM_IDENTITY)
        .drop("_src")
    )
    defined_by = (
        remove_axioms(merged)
        .where(~F.col("subject").startswith("_:"))
        .select("subject", "_src")
        .distinct()
        .select(
            F.col("subject").alias("stanza"),
            F.col("subject").alias("subject"),
            F.lit("rdfs:isDefinedBy").alias("predicate"),
            F.concat(F.lit("obo:"), F.lower("_src"), F.lit(".owl")).alias("object"),
            F.lit(None).cast("string").alias("value"),
            F.lit(None).cast("string").alias("datatype"),
            F.lit(None).cast("string").alias("language"),
            F.lit(None).cast("string").alias("graph"),
        )
    )
    # don't duplicate isDefinedBy rows the sources already carry
    new_defined = defined_by.join(
        deduped.where(F.col("predicate") == "rdfs:isDefinedBy").select("subject"),
        "subject",
        "left_anti",
    )
    return deduped.unionByName(new_defined)

