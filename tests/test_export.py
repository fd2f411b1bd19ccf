"""Export stage: TSV + parquet layout mirroring the reference's
tsv_tables/ + parquet_files/ outputs (stages 6-7)."""

import glob
import os

from kbase_cdm_ontologies_spark.operators.export import export_tables


def test_export_tables(spark, tmp_path, corpus_dfs):
    out = str(tmp_path / "exports")
    report = export_tables(
        {
            "statements": corpus_dfs["statements"],
            "alias": corpus_dfs["alias"],
        },
        out,
    )
    by_table = {r["table"]: r for r in report}
    assert by_table["statements"]["rows"] == corpus_dfs["statements"].count()
    for name in ("statements", "alias"):
        assert glob.glob(os.path.join(out, "tsv_tables", name, "*.csv"))
        assert glob.glob(os.path.join(out, "parquet_files", name, "*.parquet"))
        assert by_table[name]["parquet_bytes"] > 0
    # TSV readable back with identical row count
    got = (
        spark.read.option("sep", "\t").option("header", True)
        .csv(os.path.join(out, "tsv_tables", "statements"))
    )
    assert got.count() == by_table["statements"]["rows"]
    assert got.columns == corpus_dfs["statements"].columns


def test_export_array_columns_flattened(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", ["x", "y"]), ("b", [])], "id string, syns array<string>"
    )
    out = str(tmp_path / "exp2")
    export_tables({"nodes": df}, out)
    got = {
        r["id"]: r["syns"]
        for r in spark.read.option("sep", "\t").option("header", True)
        .csv(os.path.join(out, "tsv_tables", "nodes"))
        .collect()
    }
    assert got["a"] == "x|y"


def test_sorted_text_sink(spark, tmp_path):
    from kbase_cdm_ontologies_spark.operators.export import sorted_text_sink

    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], ["term"])
    out = str(tmp_path / "terms")
    sorted_text_sink(df, "term", out)
    lines = [r["value"] for r in spark.read.text(out).collect()]
    assert lines == ["a", "b", "c"]
