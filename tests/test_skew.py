"""Salted/skew-aware join correctness (hot-hub fixture, FIXTURES.md §7)."""

from pyspark.sql import functions as F

from kbase_cdm_ontologies_spark.operators.skew import salted_join


def _skewed(spark, n_hot=2000, n_cold=200):
    hot = spark.range(n_hot).select(
        F.lit("HUB").alias("k"), F.col("id").alias("payload")
    )
    cold = spark.range(n_cold).select(
        F.concat(F.lit("k"), F.col("id") % 50).alias("k"),
        (F.col("id") + 10_000).alias("payload"),
    )
    return hot.unionByName(cold)


def _dim(spark):
    rows = [("HUB", "hub-val")] + [(f"k{i}", f"v{i}") for i in range(50)]
    return spark.createDataFrame(rows, ["k", "v"])


def test_salted_join_equals_plain_join(spark):
    big, small = _skewed(spark), _dim(spark)
    want = {(r["k"], r["payload"], r["v"]) for r in big.join(small, "k").collect()}
    got = {
        (r["k"], r["payload"], r["v"])
        for r in salted_join(big, small, "k", salt_buckets=8).collect()
    }
    assert got == want
    # salt actually spreads the hub key across buckets
    other = [c for c in big.columns if c != "k"]
    salts = (
        big.where(F.col("k") == "HUB")
        .select(F.abs(F.hash(*[F.col(c) for c in other]) % 8).alias("s"))
        .distinct()
        .count()
    )
    assert salts == 8

