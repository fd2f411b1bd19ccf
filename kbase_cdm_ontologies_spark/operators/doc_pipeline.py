"""Fused per-document operator: extract + mention-detect + SVO in ONE
``mapInPandas`` pass.

Why fused: the staged operators (text_extract -> mentions -> triples)
each move the full text across the JVM<->Python Arrow boundary; chained
in one job that is 3 python evals and ~6 boundary crossings per page.
Measured on this box, the crossings dominate the actual per-doc compute
(kernel time > user time). At 10^12 documents the fused pass reads each
page once, runs all frozen rules (functions/text_rules.py — identical
to both the staged operators and the plain-Python oracle), and emits a
narrow long-format result; the heavy html/text columns never leave the
worker.

Output (long format, one row per finding):
  url string, kind string ('mention'|'svo'),
  a string, b string, c string, n int
    mention: a=term_id,      b=alias_norm, c=null,       n=n_hits
  svo:       a=subj_surface, b=pred_curie, c=obj_surface, n=1

The staged operators remain the unit-testable building blocks; the
pipeline uses the fused pass when no per-stage checkpoint is requested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.aho import (
    broadcast_alias_dictionary,
    find_word_bounded,
    worker_dictionary,
)
from ..functions.text_rules import extract_svo, extract_text, normalize_surface

FUSED_SCHEMA = "url string, kind string, a string, b string, c string, n int"


def fused_doc_pass(
    pages: DataFrame,
    alias: DataFrame,
    lang_filter: str | None = "en",
    text_col: str | None = None,
) -> DataFrame:
    """pages(url, html|text, lang) x broadcast alias -> long-format
    findings. When text_col is None the frozen HTML->text rule runs on
    the html column; pass text_col to skip extraction (pre-extracted
    corpora)."""
    bcast, dict_key = broadcast_alias_dictionary(alias)
    src = pages
    if lang_filter is not None:
        src = src.where(F.col("lang") == lang_filter)
    payload = text_col or "html"
    src = src.select("url", payload)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac, pats, terms = worker_dictionary(bcast, dict_key)
        for pdf in batches:
            urls, kinds, a_, b_, c_, n_ = [], [], [], [], [], []
            for url, raw in zip(pdf["url"], pdf[payload]):
                text = raw if text_col else extract_text(bytes(raw))
                tnorm = normalize_surface(text)
                counts: dict[int, int] = {}
                for pidx, _s in find_word_bounded(ac, tnorm):
                    counts[pidx] = counts.get(pidx, 0) + 1
                for pidx, n in counts.items():
                    for t in terms[pidx]:
                        urls.append(url); kinds.append("mention")
                        a_.append(t); b_.append(pats[pidx]); c_.append(None)
                        n_.append(n)
                for s, p, o in extract_svo(text):
                    urls.append(url); kinds.append("svo")
                    a_.append(s); b_.append(p); c_.append(o); n_.append(1)
            yield pd.DataFrame(
                {"url": urls, "kind": kinds, "a": a_, "b": b_, "c": c_, "n": n_}
            )

    return src.mapInPandas(_run, FUSED_SCHEMA)


def mentions_view(fused: DataFrame) -> DataFrame:
    return fused.where(F.col("kind") == "mention").select(
        "url",
        F.col("a").alias("term_id"),
        F.col("b").alias("alias_norm"),
        F.col("n").alias("n_hits"),
    )


def raw_triples_view(fused: DataFrame) -> DataFrame:
    return fused.where(F.col("kind") == "svo").select(
        "url",
        F.col("a").alias("subj_surface"),
        F.col("b").alias("pred"),
        F.col("c").alias("obj_surface"),
    )
