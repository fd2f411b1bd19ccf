"""M1: distributed extraction must be byte-identical per url
(input_hint per-row invariant, checked via sha2 like
reference scripts/version_tracker.py:14-20)."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kbase_cdm_ontologies_spark.operators.text_extract import extract_text_stage


def verify_byte_identical(pages: DataFrame, extracted: DataFrame) -> int:
    """Count urls whose extracted text is NOT byte-identical to the
    reference text column (must be 0). Uses sha2 on the JVM side —
    the Spark analog of scripts/version_tracker.py:14-20 checksums."""
    ref = pages.select("url", F.sha2("text", 256).alias("ref_sha"))
    got = extracted.select("url", F.sha2("extracted_text", 256).alias("got_sha"))
    return (
        ref.join(got, "url", "full")
        .where(
            F.col("ref_sha").isNull()
            | F.col("got_sha").isNull()
            | (F.col("ref_sha") != F.col("got_sha"))
        )
        .count()
    )


def test_byte_identical(corpus_dfs):
    pages = corpus_dfs["pages"]
    extracted = extract_text_stage(pages)
    assert verify_byte_identical(pages, extracted) == 0


def test_schema_and_rowcount(corpus_dfs):
    pages = corpus_dfs["pages"]
    extracted = extract_text_stage(pages)
    assert extracted.columns == ["url", "warc_ts", "extracted_text", "lang"]
    assert extracted.count() == pages.count()


def test_gzip_payload(spark, corpus):
    """gzipped html decodes to the same text (reference gzip handling)."""
    import gzip

    from kbase_cdm_ontologies_spark.functions.text_rules import extract_text

    p = corpus.pages[0]
    assert extract_text(gzip.compress(p["html"])) == p["text"]
    # distributed path
    gz = spark.createDataFrame(
        [(p["url"], p["warc_ts"], gzip.compress(p["html"]), p["text"], p["lang"])],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    assert verify_byte_identical(gz, extract_text_stage(gz)) == 0
