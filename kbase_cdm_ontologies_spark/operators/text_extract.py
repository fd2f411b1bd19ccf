"""M1 — HTML -> text extraction (Arrow-vectorized, byte-identical rule).

Replaces the reference's file-download + parse stage
(scripts/enhanced_download.py, scripts/analyze_core_ontologies.py:74-128)
with a distributed ``mapInPandas`` over the pages table. The extraction
rule lives in functions/text_rules.py (frozen + versioned); the per-row
invariant is ``sha2(extracted) == sha2(pages.text)`` for every url
(BASELINE.json input_hint).

Scale notes: pure map — no shuffle; parallelism = input splits. The
pages table should be written with a url-hash bucket partitioning so
downstream joins on url co-locate. Python cost is amortized per Arrow
batch (spark.sql.execution.arrow.maxRecordsPerBatch), not per row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.text_rules import extract_text

_OUT_SCHEMA = "url string, warc_ts timestamp, extracted_text string, lang string"


def extract_text_stage(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> (url, warc_ts, extracted_text, lang)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "extracted_text": [
                        extract_text(bytes(b)) for b in pdf["html"]
                    ],
                    "lang": pdf["lang"],
                }
            )

    return pages.select("url", "warc_ts", "html", "lang").mapInPandas(_run, _OUT_SCHEMA)

