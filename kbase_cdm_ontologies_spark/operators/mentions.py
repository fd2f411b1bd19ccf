"""M3 — ontology-mention detection (broadcast dictionary + Aho-Corasick
inside ``mapInPandas``).

North-star requirement: "batched trie/Aho-Corasick dictionary matching
against a broadcast alias table". The automaton is built ONCE PER
WORKER from the broadcast (functions/aho.py's worker_dictionary cache,
keyed by dictionary version), then streamed over Arrow batches —
O(text_len) per document regardless of dictionary size. No shuffle: a
pure map over the pages table.

Output: mentions(url, term_id, alias_norm, n_hits) — one row per
(document, matched alias, candidate term); ambiguous aliases emit one
row per candidate and are resolved in M5 (linking.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.aho import (
    broadcast_alias_dictionary,
    find_word_bounded,
    worker_dictionary,
)
from ..functions.text_rules import normalize_surface

_OUT_SCHEMA = "url string, term_id string, alias_norm string, n_hits int"


def detect_mentions(
    extracted: DataFrame,
    alias: DataFrame,
    text_col: str = "extracted_text",
    lang_filter: str | None = "en",
) -> DataFrame:
    """extracted(url, <text_col>, lang) x broadcast alias -> mentions."""
    bcast, dict_key = broadcast_alias_dictionary(alias)
    src = extracted
    if lang_filter is not None:
        src = src.where(src["lang"] == lang_filter)
    src = src.select("url", text_col)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac, pats, terms = worker_dictionary(bcast, dict_key)
        for pdf in batches:
            urls, tids, anorms, nhits = [], [], [], []
            for url, text in zip(pdf["url"], pdf[text_col]):
                tnorm = normalize_surface(text)
                counts: dict[int, int] = {}
                for pidx, _start in find_word_bounded(ac, tnorm):
                    counts[pidx] = counts.get(pidx, 0) + 1
                for pidx, n in counts.items():
                    for t in terms[pidx]:
                        urls.append(url)
                        tids.append(t)
                        anorms.append(pats[pidx])
                        nhits.append(n)
            yield pd.DataFrame(
                {"url": urls, "term_id": tids, "alias_norm": anorms, "n_hits": nhits}
            )

    return src.mapInPandas(_run, _OUT_SCHEMA)
