"""Physical-plan regression guards: filters pushed to the parquet scan,
columns pruned, dimension joins broadcast. These are the properties
that keep the queries viable at 100 TB — assert them so a refactor
can't silently lose them."""

import re

import pytest

from kbase_cdm_ontologies_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name):
    return QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # constraint propagation is disabled engine-wide (iterative-union
    # Catalyst fix, session.py), so the INFERRED IsNotNull no longer
    # appears — the user-written range predicate must still reach the scan
    assert "LessThanOrEqual(l_shipdate" in plan
    schema = re.search(r"ReadSchema: struct<([^>]*)", plan).group(1)
    assert "l_orderkey" not in schema  # unused columns pruned from the scan
    assert "l_quantity" in schema


def test_q3_broadcasts_dimensions(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # filter reached the scan


def test_semi_and_anti_joins(spark):
    semi = _plan(spark, "parts_ordered_semi")
    assert "LeftSemi" in semi
    anti = _plan(spark, "customers_without_orders")
    assert "LeftAnti" in anti


def test_mention_scan_prunes_columns(spark):
    plan = _plan(spark, "kg_mention_counts")
    schema = re.search(r"ReadSchema: struct<([^>]*)", plan).group(1)
    assert "source" not in schema and "lang" not in schema


def test_approx_within_tolerance(spark):
    # the query now gates each sketch against its exact counterpart
    # internally (oracle-comparable *_ok booleans)
    rows = QUERIES["approx_distinct_stats"](spark, SF_DIR).collect()
    for r in rows:
        assert r["exact_parts"] > 0
        assert r["approx_parts_ok"] and r["p50_ok"] and r["p95_ok"] and r["p99_ok"]


def test_apply_canonical_size_aware_broadcast(spark):
    """Small canonical maps broadcast; oversized ones must NOT (an
    unbounded web-entity map would OOM the driver at 100 TB scale)."""
    from pyspark.sql import functions as F

    from kbase_cdm_ontologies_spark.operators.canonicalize import apply_canonical

    facts = spark.range(200).select(
        F.concat(F.lit("N:"), (F.col("id") % 20).cast("string")).alias("subject")
    )
    cmap = spark.createDataFrame(
        [(f"N:{i}", f"N:{i % 5}") for i in range(20)], ["id", "canonical"]
    )
    small = apply_canonical(facts, cmap, ["subject"])
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small
    # identical data, threshold forced below the map size -> shuffle path
    big = apply_canonical(facts, cmap, ["subject"], broadcast_max_rows=5)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan_big or "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
    # both strategies produce the same rewrite
    assert sorted(r["subject"] for r in small.collect()) == sorted(
        r["subject"] for r in big.collect()
    )


@pytest.mark.parametrize(
    "name", ["kg_mentions_operator"]
)
def test_new_queries_run(spark, name):
    assert QUERIES[name](spark, SF_DIR).count() > 0


def test_snapshot_commit_log_and_tamper_detection(spark, tmp_path):
    """write_table commits a snapshot (monotonic id, parent chain,
    content sha); CheckpointManager resume re-validates the sha so an
    out-of-band rewrite of a committed table forces a re-run."""
    import os

    from kbase_cdm_ontologies_spark.plans.checkpoint import CheckpointManager
    from kbase_cdm_ontologies_spark.sources.tables import (
        current_snapshot,
        snapshot_log,
        write_table,
    )

    path = str(tmp_path / "t")
    s1 = write_table(spark.range(5).toDF("x"), path)
    s2 = write_table(spark.range(9).toDF("x"), path)
    assert (s1["snapshot_id"], s2["snapshot_id"]) == (1, 2)
    assert s2["parent_id"] == 1
    assert current_snapshot(path)["snapshot_id"] == 2
    assert len(snapshot_log(path)) == 2

    root = str(tmp_path / "ck")
    ck = CheckpointManager(spark, root)
    ck.stage("s1", "fp", "code", lambda: spark.range(7).toDF("x"))
    assert ck.stages_run == ["s1"]
    ck2 = CheckpointManager(spark, root)
    ck2.stage("s1", "fp", "code", lambda: spark.range(7).toDF("x"))
    assert ck2.stages_skipped == ["s1"]  # clean resume skips
    # tamper: rewrite the committed table behind the manifest's back
    spark.range(2).toDF("x").write.mode("overwrite").parquet(os.path.join(root, "s1"))
    ck3 = CheckpointManager(spark, root)
    out = ck3.stage("s1", "fp", "code", lambda: spark.range(7).toDF("x"))
    assert ck3.stages_run == ["s1"]  # sha mismatch -> re-ran
    assert out.count() == 7


@pytest.mark.parametrize("name", ["text_chunking", "web_url_normalize", "text_fingerprint"])
def test_narrow_ops_have_no_shuffle(spark, name):
    """The per-document webtext ops must stay one narrow pass that
    pipelines with the scan — any Exchange is a regression."""
    plan = _plan(spark, name)
    assert "Exchange" not in plan, plan[:500]
    assert "*(1)" in plan  # whole-stage codegen span over the scan
