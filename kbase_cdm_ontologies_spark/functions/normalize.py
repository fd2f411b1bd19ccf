"""IRI / CURIE normalization — column-expression re-implementations of
the reference's string semantics.

- normalize_iri_expr: reference scripts/analyze_core_ontologies.py:11-29
  (duplicated at analyze_non_core_ontologies.py:13-31): extract the OBO
  prefix from http://purl.obolibrary.org/obo/<PREFIX>(_|#|.|$), lowercase
  it; NCBITaxon special-cased; non-OBO -> NULL.
- own-term test: reference analyze_core_ontologies.py:108-123 — an IRI
  belongs to ontology SHORT_NAME iff it contains /{SHORT_NAME}_ or
  /{SHORT_NAME}#.
- CURIE compaction: longest-matching base from the prefix table
  (reference semsql_custom_prefixes/prefixes.csv; result shape visible
  in outputs_test/tsv_tables/prefix.tsv).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

OBO_PREFIX_RE = r"http://purl\.obolibrary\.org/obo/([A-Za-z]+)(_|#|\.)"
OBO_PREFIX_END_RE = r"http://purl\.obolibrary\.org/obo/([A-Za-z]+)$"


def normalize_iri_expr(iri: Column) -> Column:
    """Lowercased OBO ontology prefix, or NULL for non-OBO IRIs."""
    mid = F.regexp_extract(iri, OBO_PREFIX_RE, 1)
    end = F.regexp_extract(iri, OBO_PREFIX_END_RE, 1)
    hit = F.when(mid != "", mid).when(end != "", end)
    return (
        F.when(iri.contains("NCBITaxon"), F.lit("ncbitaxon"))
        .when(hit.isNotNull(), F.lower(hit))
        .otherwise(F.lit(None))
    )


def is_own_term_expr(iri: Column, short_name: Column) -> Column:
    """Reference own/external rule: IRI contains /{NAME}_ or /{NAME}#."""
    return iri.contains(F.concat(F.lit("/"), short_name, F.lit("_"))) | iri.contains(
        F.concat(F.lit("/"), short_name, F.lit("#"))
    )


def compact_curies_expr(
    df: DataFrame,
    iri_col: str,
    prefixes: list[tuple[str, str]],
    out_col: str = "curie",
) -> DataFrame:
    """IRI -> CURIE via the longest matching base; non-matching IRIs pass
    through unchanged. The driver-known (prefix, base) pairs of a
    dimension-sized registry compile into a longest-base-first CASE
    projection (ties: prefix ASC): no join, no shuffle, the query
    pipelines with the scan."""
    keep = list(df.columns)
    rows = sorted(set(prefixes), key=lambda r: (-len(r[1]), r[0]))
    iri = F.col(iri_col)
    expr = iri
    for prefix, base in reversed(rows):
        expr = F.when(
            iri.startswith(base),
            F.concat(
                F.lit(prefix),
                F.lit(":"),
                F.substring(iri, len(base) + 1, 2_000_000_000),
            ),
        ).otherwise(expr)
    return df.select(*keep, expr.alias(out_col))


def classify_ontology_expr(
    has_imports: Column, own_count: Column, external_count: Column, filename: Column
) -> Column:
    """Reference classification rule (analyze_core_ontologies.py:48-72):
    Base / Potential-Base / Non-Base from imports, own/external balance,
    the >10x dominance ratio, and the -base filename hint."""
    ratio_dominant = own_count / (external_count + F.lit(1)) > 10
    return (
        F.when(filename.contains("-base"), F.lit("Base"))
        .when(~has_imports & (external_count == 0), F.lit("Base"))
        .when(~has_imports & (own_count > external_count) & ratio_dominant, F.lit("Potential-Base"))
        .otherwise(F.lit("Non-Base"))
    )
