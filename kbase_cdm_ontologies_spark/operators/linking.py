"""M5 — entity linking: surface -> ontology term.

1. **Exact path** (`link_triples`, the one the pipeline runs):
   surfaces that are dictionary aliases join the broadcast alias table
   directly; an ambiguous alias (n_candidates > 1) is resolved by page
   context — candidate score = number of distinct unambiguous aliases
   on the same page from the candidate's source ontology, ties broken
   by min term_id. All built-in ops: broadcast joins + one window; the
   big (triples) side is never shuffled by alias key.

2. **Fuzzy path** (`fuzzy_candidates` / `fuzzy_link_best`, the north
   star's "MinHash-LSH blocking"; no run path calls it yet): surfaces
   that are NOT dictionary aliases (typos, variants) are blocked
   against the alias table with MinHash-LSH over char-3gram shingles
   and re-ranked by exact n-gram Jaccard. Only same-signature pairs are
   scored — never a cross-join of corpus surfaces against the
   dictionary.

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


def _char_ngrams(colname: str, n: int = 3):
    """Character n-gram shingles of a (already normalized) surface
    column, as an array — JVM-side sequence+transform (SQL expr: the
    python substring() builder rejects column-valued positions)."""
    return F.expr(
        f"array_distinct(transform(sequence(0, greatest(length({colname}) - {n}, 0)), "
        f"i -> substring({colname}, i + 1, {n})))"
    )


def fuzzy_candidates(
    surfaces: DataFrame,
    alias: DataFrame,
    k_hashes: int = 12,
    min_jaccard: float = 0.4,
) -> DataFrame:
    """MinHash-LSH blocking + n-gram-Jaccard scoring for surfaces that
    are NOT exact dictionary aliases (typos, variant spellings) — the
    north-star's "TF-IDF cosine + MinHash-LSH blocking" candidate path.

    surfaces(surface_norm) x alias(term_id, alias_norm) ->
    (surface_norm, term_id, alias_norm, sim) ranked by char-3gram
    overlap. Blocking: md5-minhash over char-3gram shingles, one band
    per hash; only same-signature pairs are scored, so the alias table
    is never cross-joined against the corpus surfaces.
    """

    def sigs(df, col, out):
        grams = df.select(F.col(col).alias(out), F.explode(_char_ngrams(col)).alias("g"))
        aggs = [
            F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("g")))).alias(f"_s{s}")
            for s in range(k_hashes)
        ]
        wide = grams.groupBy(out).agg(*aggs)
        stack = ", ".join(f"{s}, _s{s}" for s in range(k_hashes))
        return wide.select(out, F.expr(f"stack({k_hashes}, {stack}) AS (seed, sig)"))

    s_sig = sigs(surfaces.select("surface_norm").distinct(), "surface_norm", "surface_norm")
    a_sig = sigs(alias.select("alias_norm").distinct(), "alias_norm", "alias_norm")
    blocked = (
        s_sig.join(a_sig, ["seed", "sig"])
        .select("surface_norm", "alias_norm")
        .distinct()
    )
    # exact n-gram Jaccard re-rank on the blocked pairs only
    pair = blocked.select(
        "surface_norm",
        "alias_norm",
        _char_ngrams("surface_norm").alias("ga"),
        _char_ngrams("alias_norm").alias("gb"),
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    scored = pair.select(
        "surface_norm",
        "alias_norm",
        (inter / union).alias("sim"),
    ).where(F.col("sim") >= min_jaccard)
    return scored.join(
        F.broadcast(alias.select("alias_norm", "term_id").distinct()), "alias_norm"
    ).select("surface_norm", "term_id", "alias_norm", "sim")


def fuzzy_link_best(
    surfaces: DataFrame,
    alias: DataFrame,
    **kwargs,
) -> DataFrame:
    """Best term per surface: candidates from fuzzy_candidates, ranked
    by similarity then min term_id (deterministic)."""
    cand = fuzzy_candidates(surfaces, alias, **kwargs)
    w = Window.partitionBy("surface_norm").orderBy(F.desc("sim"), F.asc("term_id"))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("surface_norm", "term_id", F.round("sim", 4).alias("sim"))
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
