"""M5 — entity linking: surface -> ontology term.

`link_triples`: surfaces that are dictionary aliases join the
broadcast alias table directly; an ambiguous alias (n_candidates > 1)
is resolved by page context — candidate score = number of distinct
unambiguous aliases on the same page from the candidate's source
ontology, ties broken by min term_id. All built-in ops: broadcast
joins + one window; the big (triples) side is never shuffled by alias
key. A surface that is not a dictionary alias drops out, as in the
corpus oracle (sources/corpus.py).

Skew note: hub aliases (fixture hot alias; production analog =
NCBITaxon-scale hub terms, reference README.md:104) concentrate join
keys. Dictionary sides are broadcast; the context join is an equi-join
on (url, source_onto) whose skew AQE splits at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def page_onto_context(mentions: DataFrame, alias_with_counts: DataFrame) -> DataFrame:
    """(url, source_onto, ctx_score): distinct unambiguous aliases seen
    on the page, per candidate ontology."""
    unamb = (
        alias_with_counts.where(F.col("n_candidates") == 1)
        .select("alias_norm", "source_onto")
        .distinct()
    )
    return (
        mentions.select("url", "alias_norm")
        .distinct()
        .join(F.broadcast(unamb), "alias_norm")
        .groupBy("url", "source_onto")
        .agg(F.countDistinct("alias_norm").alias("ctx_score"))
    )


def _resolve_side(
    triples: DataFrame,
    surface_col: str,
    out_col: str,
    alias_with_counts: DataFrame,
    context: DataFrame,
) -> DataFrame:
    keep = list(triples.columns)
    cand = (
        alias_with_counts.select(
            F.col("alias_norm").alias(surface_col), "term_id", "source_onto"
        ).distinct()
    )
    joined = (
        triples.join(F.broadcast(cand), surface_col)
        .join(context, ["url", "source_onto"], "left")
        .withColumn("ctx_score", F.coalesce(F.col("ctx_score"), F.lit(0)))
    )
    w = Window.partitionBy(*keep).orderBy(F.desc("ctx_score"), F.asc("term_id"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*keep, F.col("term_id").alias(out_col))
    )


def link_triples(
    raw_triples: DataFrame,
    alias_with_counts: DataFrame,
    mentions: DataFrame,
) -> DataFrame:
    """raw_triples(url, subj_surface, pred, obj_surface) ->
    linked(url, subj_id, pred, obj_id). Surfaces with no dictionary
    candidate drop out (inner join), mirroring the oracle. Input is
    deduplicated first — linking is per distinct (url, s, p, o)."""
    triples = raw_triples.dropDuplicates(
        ["url", "subj_surface", "pred", "obj_surface"]
    )
    context = page_onto_context(mentions, alias_with_counts)
    s = _resolve_side(triples, "subj_surface", "subj_id", alias_with_counts, context)
    out = _resolve_side(s, "obj_surface", "obj_id", alias_with_counts, context)
    return out.select("url", "subj_id", "pred", "obj_id")
