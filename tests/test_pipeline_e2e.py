"""End-to-end: full pipeline vs the plain-Python oracle.

The north-rule gate: triple P/R >= 0.95 vs the reference-style golden
triple set (we target exact 1.0), plus checkpoint/resume semantics
(reference analog: version_tracker.py checksum skip)."""

import os
import shutil

import pytest

from kbase_cdm_ontologies_spark.plans.checkpoint import CheckpointManager
from kbase_cdm_ontologies_spark.plans.pipeline import run_pipeline

# the keys closure.phase_walls() puts into the m7_edges manifest
# metrics in either entailment regime (perfbench reads each of them)
PHASE_KEYS = {
    "entail." + k for k in (
        "prune+non_el+intern", "property_schema", "sub-edges+domain",
        "subclass_tc", "rtc_materialize", "pre_property", "property_closure",
    )
} | {
    "property_closure." + k for k in (
        "base_materialize", "count+bytes_guard", "collect", "saturate",
        "sort+arrow",
    )
}


def _jobs_in_group(spark, group, run):
    """run() inside a Spark job group; returns (its result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def pipeline_out(spark, corpus_dfs):
    """One in-memory pipeline run shared by the assertion tests."""
    return run_pipeline(spark, corpus_dfs["pages"], corpus_dfs["statements"])


def _edge_set(df):
    return {
        (r["subject"], r["predicate"], r["object"]) for r in df.collect()
    }


def _precision_recall(got: set, want: set) -> tuple[float, float]:
    if not got or not want:
        return 0.0, 0.0
    tp = len(got & want)
    return tp / len(got), tp / len(want)


def test_e2e_precision_recall(spark, corpus, pipeline_out):
    out = pipeline_out
    got = _edge_set(out["edges"])
    p, r = _precision_recall(got, corpus.expected_edges)
    assert p >= 0.95 and r >= 0.95, (
        f"P={p:.4f} R={r:.4f}; "
        f"extra={sorted(got - corpus.expected_edges)[:10]}, "
        f"missing={sorted(corpus.expected_edges - got)[:10]}"
    )
    # we actually target exactness on the fixture
    assert p == 1.0 and r == 1.0


def test_linked_triples_match_oracle(spark, corpus, pipeline_out):
    out = pipeline_out
    got = {
        (r["url"], r["subj_id"], r["pred"], r["obj_id"])
        for r in out["linked"].collect()
    }
    assert got == corpus.expected_linked


def test_nodes_table(spark, corpus, pipeline_out):
    nodes = {r["id"]: r for r in pipeline_out["nodes"].collect()}
    # only canonical ids appear
    assert all(corpus.expected_canon[i] == i for i in nodes)
    # merged term's synonyms folded into canonical node
    merged = nodes["AAA:0000011"]
    assert len(merged["synonyms"]) >= 3  # labels of AAA/BBB/CCC:11


def test_checkpoint_resume(spark, corpus, corpus_dfs, tmp_path):
    ckdir = str(tmp_path / "ck")
    out1 = run_pipeline(
        spark, corpus_dfs["pages"], corpus_dfs["statements"],
        checkpoint_dir=ckdir, corpus_fingerprint="fp-seed42",
    )
    edges1 = _edge_set(out1["edges"])
    ck1 = out1["checkpoints"]
    assert len(ck1.stages_run) == 8 and not ck1.stages_skipped
    # manifest records per-partition lineage: for every stage, a row
    # count equal to an independent read of the table, and one
    # partition_rows key per write task that left a part file
    for name, e in ck1.manifest.items():
        assert e["row_count"] == spark.read.parquet(e["output"]).count(), name
        tasks = {
            str(int(f.split("-")[1]))
            for f in os.listdir(e["output"]) if f.startswith("part-")
        }
        assert set(e["partition_rows"]) == tasks, name
    m = ck1.manifest["m7_edges"]
    assert m["row_count"] == len(edges1)
    assert PHASE_KEYS <= set(m["metrics"]), PHASE_KEYS - set(m["metrics"])

    # per-partition lineage is queryable (north rule: lineage + metrics)
    mdf = ck1.metrics_df()
    assert mdf.where("stage = 'm7_edges'").count() >= 1
    assert (
        mdf.where("stage = 'm7_edges'").groupBy().sum("rows").collect()[0][0]
        == len(edges1)
    )

    # resume: everything skipped, identical result; reading the 8
    # tables back with their recorded schemas runs no Spark job
    out2, jobs = _jobs_in_group(spark, "resume_job_budget", lambda: run_pipeline(
        spark, corpus_dfs["pages"], corpus_dfs["statements"],
        checkpoint_dir=ckdir, corpus_fingerprint="fp-seed42",
    ))
    assert jobs == 0, jobs
    ck2 = out2["checkpoints"]
    assert not ck2.stages_run and len(ck2.stages_skipped) == 8
    assert _edge_set(out2["edges"]) == edges1

    # partial resume: blow away a late stage, only downstream re-runs
    shutil.rmtree(ckdir + "/m7_edges")
    out3 = run_pipeline(
        spark, corpus_dfs["pages"], corpus_dfs["statements"],
        checkpoint_dir=ckdir, corpus_fingerprint="fp-seed42",
    )
    ck3 = out3["checkpoints"]
    assert ck3.stages_run == ["m7_edges"]
    assert "m1_extracted" in ck3.stages_skipped
    assert _edge_set(out3["edges"]) == edges1


def test_e2e_hybrid_entailment_regime(spark, corpus, corpus_dfs, tmp_path):
    """The checkpointed pipeline with entail()'s driver regime off
    (driverThreshold=0, the hybrid path): P/R 1.0, and the m7_edges
    manifest holds the same phase keys."""
    spark.conf.set("spark.graft.deltaEntail.driverThreshold", "0")
    try:
        out = run_pipeline(
            spark, corpus_dfs["pages"], corpus_dfs["statements"],
            checkpoint_dir=str(tmp_path / "ck"), corpus_fingerprint="fp",
        )
        got = _edge_set(out["edges"])
    finally:
        spark.conf.unset("spark.graft.deltaEntail.driverThreshold")
    assert _precision_recall(got, corpus.expected_edges) == (1.0, 1.0)
    metrics = out["checkpoints"].manifest["m7_edges"]["metrics"]
    assert PHASE_KEYS <= set(metrics), PHASE_KEYS - set(metrics)


def test_stage_commit_is_its_write(spark, tmp_path):
    """A stage commit runs exactly the Spark jobs of writing its table:
    counts come from the parquet footers and the returned frame reads
    the recorded schema. A manifest entry with no recorded schema is
    stale, so its stage re-runs."""
    def frame():
        return spark.range(100).selectExpr("id", "cast(id % 3 AS string) AS k")

    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    out, jobs = _jobs_in_group(
        spark, "stage_commit", lambda: ck.stage("s", "fp", "code", frame)
    )
    _, write_jobs = _jobs_in_group(
        spark, "plain_write",
        lambda: frame().write.parquet(str(tmp_path / "plain")),
    )
    assert jobs == write_jobs, (jobs, write_jobs)
    assert ck.manifest["s"]["row_count"] == out.count() == 100
    # one key per write task: the written frame's partitions
    assert len(ck.manifest["s"]["partition_rows"]) == frame().rdd.getNumPartitions()
    assert out.schema == spark.read.parquet(str(tmp_path / "ck" / "s")).schema

    del ck.manifest["s"]["schema"]
    ck._save()
    ck2 = CheckpointManager(spark, str(tmp_path / "ck"))
    ck2.stage("s", "fp", "code", frame)
    assert ck2.stages_run == ["s"] and "schema" in ck2.manifest["s"]
